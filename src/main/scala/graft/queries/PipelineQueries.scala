package graft.queries

import graft.{Artifacts, GQ, Tables}
import graft.core._
import org.apache.spark.sql.functions._

/** A lineitem row flowing through the typed pipeline surface. */
case class LiRow(
    l_orderkey: Long,
    l_linenumber: Int,
    l_quantity: Double,
    l_discount: Double,
    enriched: Double
)

/** End-to-end exercises of the pipeline-parity core (graft.core) whose
  * outcome is deterministic enough to verify against a SQL oracle: the
  * soft/critical error semantics and the critical-gate stage skipping
  * (reference: runners.py:29-30, docs/usage.rst:106-114) re-derived as CASE
  * expressions in DuckDB.
  */
object PipelineQueries {

  /** c01's text-format dumps: nation → csv, region → jsonl. The query then
    * exercises the REAL csv/jsonl read paths (`Sources.csv` /
    * `Sources.jsonl`, schema inference included) against the DuckDB
    * oracle on the parquet originals — format must never change answers. */
  private def textDumps(s: org.apache.spark.sql.SparkSession, dir: String): String =
    Artifacts.dir(s, "textfmt", dir) { p =>
      graft.sources.Sinks.csv(
        Tables.table(s, dir, "nation")
          .select("n_nationkey", "n_name", "n_regionkey"), s"$p/nation_csv")
      graft.sources.Sinks.jsonl(
        Tables.table(s, dir, "region")
          .select("r_regionkey", "r_name"), s"$p/region_jsonl")
    }

  val queries: Seq[GQ] = Seq(
    // The non-parquet read paths, oracled end to end: nation comes back
    // through the csv reader (header + schema inference), region through
    // the jsonl reader, and the join/aggregate must replay the parquet
    // oracle exactly. Inferred key types (csv int vs jsonl bigint) stay
    // internal to the join; the output columns are type-stable.
    GQ("c01_text_formats",
      (s, dir) => {
        val p = textDumps(s, dir)
        val nation = graft.sources.Sources.csv(s, s"$p/nation_csv")
        // jsonl reads with the KNOWN schema (the at-scale contract — no
        // inference scan, and a zero-row dump still resolves its columns);
        // the csv side keeps header+inference, the schema-on-read demo
        val region = graft.sources.Sources.jsonl(s, s"$p/region_jsonl",
          Some(Tables.table(s, dir, "region")
            .select("r_regionkey", "r_name").schema))
        nation.join(region, col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name")
          .agg(count(lit(1)).as("n_nations"), min(col("n_name")).as("first_nation"))
      },
      Some("""SELECT r_name, COUNT(*) AS n_nations, MIN(n_name) AS first_nation
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name""")),

    // The ORC read/write paths (`Sinks.orc` / `Sources.orc` — Spark's
    // native columnar sibling to parquet), oracled end to end the same
    // way as c01: supplier round-trips through ORC once (an artifact),
    // the query aggregates the ORC read, and the DuckDB oracle runs on
    // the parquet original — storage format must never change answers.
    // DECIMAL/VARCHAR/BIGINT all cross the format boundary; the grouped
    // sum stays DECIMAL-exact.
    GQ("c04_orc_roundtrip",
      (s, dir) => {
        val p = Artifacts.dir(s, "orc", dir) { d =>
          graft.sources.Sinks.orc(
            Tables.table(s, dir, "supplier")
              .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
            s"$d/supplier_orc")
        }
        graft.sources.Sources.orc(s, s"$p/supplier_orc")
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n_suppliers"),
            graft.Dec.dsum(col("s_acctbal")).as("sum_bal"),
            min(col("s_name")).as("first_name"))
      },
      Some("""SELECT s_nationkey, COUNT(*) AS n_suppliers,
          CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
          MIN(s_name) AS first_name
        FROM supplier GROUP BY s_nationkey""")),

    // Stage 1 soft-fails on l_quantity > 45 (record continues; enrichment
    // skipped for it). Stage 2 critical-fails on l_discount > 0.09. Stage 3
    // only runs for records without critical errors. final_val therefore is
    // (qty > 45 ? 0 : qty*2) + (disc > 0.09 ? 0 : 1).
    GQ("p01_pipeline_errors",
      (s, dir) => {
        import s.implicits._
        val src = Tables.table(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_discount"),
            lit(0.0).as("enriched"))
          .as[LiRow]
        val out = Pipeline.of(src)
          .append("enrich") { r =>
            if (r.l_quantity > 45)
              throw new SoftError(s"quantity ${r.l_quantity} too large")
            r.copy(enriched = r.l_quantity * 2)
          }
          .append("validate") { r =>
            if (r.l_discount > 0.09)
              throw new CriticalError(s"discount ${r.l_discount} out of policy")
            r
          }
          .append("finalize")(r => r.copy(enriched = r.enriched + 1))
          .build()
        out.select(
          col("value.l_orderkey").as("l_orderkey"),
          col("value.l_linenumber").as("l_linenumber"),
          size(col("errors")).as("n_errors"),
          col("value.enriched").as("final_val"))
      },
      Some("""SELECT l_orderkey, l_linenumber,
        CAST((CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END)
           + (CASE WHEN l_discount > 0.09 THEN 1 ELSE 0 END) AS INTEGER) AS n_errors,
        (CASE WHEN l_quantity > 45 THEN 0 ELSE l_quantity * 2 END)
          + (CASE WHEN l_discount > 0.09 THEN 0 ELSE 1 END) AS final_val
        FROM lineitem""")),

    // Batch stage (mapPartitions + grouped) — per-record results must be
    // independent of batch composition, mirroring the reference's
    // nondeterministic batch grouping (SURVEY.md §2 batch notes).
    GQ("p02_batch_stage",
      (s, dir) => {
        import s.implicits._
        val src = Tables.table(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_discount"), lit(0.0).as("enriched"))
          .as[LiRow]
        val out = Pipeline.of(src)
          .appendBatch(TypedBatchStage[LiRow]("bulk_score", 64) { batch =>
            batch.map(r => r.copy(enriched = r.l_quantity * 3 + 1))
          })
          .build()
        out.select(
          col("value.l_orderkey").as("l_orderkey"),
          col("value.l_linenumber").as("l_linenumber"),
          col("value.enriched").as("score"))
      },
      Some("""SELECT l_orderkey, l_linenumber,
        l_quantity * 3 + 1 AS score FROM lineitem"""))
  )
}
