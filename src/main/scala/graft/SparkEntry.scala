package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the engine's operator inventory: one entry per implemented
  * operator category (SURVEY.md §2), each with a DuckDB oracle in
  * `oracleSql` when the semantics are ANSI-SQL-expressible. Non-SQL ops
  * (MinHash-LSH, SimHash, ANN) are registered without an oracle and the
  * driver records a rows-only check.
  */
object SparkEntry {

  // private[graft]: PropertySpec's registry pre-flight audits the RAW
  // sequence — the `queries` Map silently drops one side of a name
  // collision, which is exactly the class of shipping accident the
  // pre-flight exists to catch (two collisions shipped in r12)
  private[graft] def registry: Seq[GQ] =
    queries_relational ++ queries_ext

  private def queries_relational: Seq[GQ] =
    graft.queries.Relational.queries ++ graft.queries.Advanced.queries
  private def queries_ext: Seq[GQ] =
    graft.queries.TextQueries.queries ++
      graft.queries.VectorQueries.queries ++
      graft.queries.PipelineQueries.queries ++
      graft.queries.MultimodalQueries.queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the engine's pipeline surface end-to-end: source → columnar filter
    * stage → broadcast-joined enrichment → exact-decimal aggregation. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    graft.core.FramePipeline
      .of(Tables.table(spark, dir, "lineitem"))
      .append("recent")(_.filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")))
      .append("enrich")(df => df.join(
        broadcast(Tables.table(spark, dir, "part")),
        col("l_partkey") === col("p_partkey")))
      .append("brand_revenue")(df => df.groupBy("p_brand")
        .agg(Dec.dsum(col("l_extendedprice")).as("revenue"),
          count(lit(1)).as("n_items")))
      .build()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** The queries `names` ask for, sorted by name. A name is a full query
    * name or its short code (the part before the first '_': q01, d09); one
    * that matches no query fails, naming itself. */
  def select(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    def matches(n: String, q: String) = n == q || n == q.takeWhile(_ != '_')
    val all = queries.toSeq.sortBy(_._1)
    val unknown = names.filterNot(n => all.exists(q => matches(n, q._1)))
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")
    all.filter(q => names.exists(matches(_, q._1)))
  }

  /** Bench tiering: the relational tier (TPC-H-ish + table maintenance)
    * vs the EXT tier (text/vector/pipeline/multimodal). Bench records a
    * subtotal per tier so close-sweep comparisons and A/B probes can be
    * scoped cheaply (r11 verdict #8). */
  def relationalNames: Set[String] = queries_relational.map(_.name).toSet

  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
