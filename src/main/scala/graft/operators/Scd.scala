package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Slowly-Changing-Dimension Type 2 maintenance over a plain partitioned
  * parquet layout — the dimension-side sibling of [[Merge]]'s fact-side
  * MERGE: instead of replacing a matched row, a change CLOSES the old
  * version (stamps `scd_valid_to`) and opens a new one, so the table holds
  * the full attribute history and any past state can be reconstructed.
  * This is the Kimball SCD2 pattern every warehouse dimension load runs,
  * re-expressed as a copy-on-write commit on directories.
  *
  * Reference tie-in: the reference's ES-style sink upserts by id and the
  * store keeps only the latest document (docs/usage.rst:285-295) — SCD2 is
  * the variant a training-data pipeline needs when yesterday's attribute
  * values must stay queryable (label provenance, feature backfills,
  * point-in-time-correct joins that avoid leakage).
  *
  * Layout: one hive partition column `scd_part` —
  *
  *   - `scd_part=cur`: exactly one OPEN version per key
  *     (`scd_valid_to IS NULL`);
  *   - `scd_part=<v>`: the versions CLOSED by the apply at version `v`
  *     (their `scd_valid_to = v`), append-only forever after.
  *
  * Why this partitioning: an apply at version v writes exactly two
  * directories — `cur` (replaced) and `<v>` (brand new) — so ONE dynamic
  * partition-overwrite commit covers both, and no closed-history directory
  * is ever rewritten. Per-apply cost is |current dim| + |closed@v|, never
  * |history|: the 100 TB contract. (If even |current| is too large to
  * rewrite per batch, sub-partition `cur` by a key hash and prune to
  * touched buckets — the same extension Merge documents; dimensions are
  * normally orders of magnitude smaller than facts, so the simple shape is
  * the right default.)
  *
  * Versions are caller-supplied monotone integers (batch sequence numbers,
  * dates encoded as ints) — never wall-clock reads, so a retried apply
  * stamps the same values and the artifact is engine/retry-deterministic.
  *
  * Idempotence: change detection is null-safe payload equality against the
  * current slice, so re-applying a committed batch finds zero changed keys
  * and zero new keys and returns without writing. A crash INSIDE the
  * commit is covered by recovery and replay ([[Commit]]'s crash
  * contract): leaves publish in name order, so the fresh `<v>` directory
  * lands before `cur` is replaced, and both are re-derived
  * deterministically from (old state, batch) — a replay after a crash
  * that left `<v>` new and `cur` old re-closes the same rows, and one
  * after both landed finds nothing changed (no-op).
  *
  * Contract: `batch` carries exactly the dimension's business columns
  * (keys + attributes) and at most ONE row per key — two open versions for
  * a key is not a representable SCD2 state (same rule as a MERGE source;
  * enforced cheaply against the batch because it is delta-sized).
  */
object Scd {

  val PartCol = "scd_part"
  val FromCol = "scd_valid_from"
  val ToCol = "scd_valid_to"
  val Current = "cur"

  /** Applied-change summary: `keysChanged` closed an old version and opened
    * a new one; `keysInserted` are first-seen keys; `rowsClosed` landed in
    * the `scd_part=<v>` directory (== keysChanged). */
  final case class ScdStats(
      keysChanged: Long,
      keysInserted: Long,
      rowsClosed: Long
  )

  /** Initial load: every row becomes an open version at `version`. */
  def init(
      spark: SparkSession, path: String, dim: DataFrame,
      version: Long = 1L): Unit = {
    // Stage, stamp INSIDE the staging dir, then swap the whole directory:
    // a plain overwrite would delete the directory (old stamp included)
    // and re-stamp only after the write — a crash in that window leaves a
    // REWRITTEN table with NO stamp, which verifyGeneration treats as
    // never-stamped and passes trivially, i.e. a pre-existing manifest
    // would silently serve vanished files. With the swap the stamp
    // commits WITH the data ([[Commit]]'s crash contract).
    val staged = dim.withColumn(FromCol, lit(version))
      .withColumn(ToCol, lit(null).cast("long"))
      .withColumn(PartCol, lit(Current))
    // an empty partitioned layout has no col=value dirs to infer a schema
    // from (the writeLayout degenerate case) — keep the schema
    // self-describing with a plain write of the zero-row frame
    val staging = Merge.stage(spark, staged, path,
      if (dim.isEmpty) Nil else Seq(PartCol))
    FileManifest.bumpGeneration(spark, staging)
    Merge.commit(spark, staging, path, depth = 0)
  }

  /** The open slice — one row per key, business columns + validity stamps.
    * Reads only the `scd_part=cur` directory (partition-pruned). */
  def current(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).filter(col(PartCol) === Current).drop(PartCol)

  /** Every version ever recorded (open and closed). */
  def history(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop(PartCol)

  /** The dimension as it stood at `version`: the unique row per key with
    * `valid_from <= version < valid_to` (open = unbounded). Keys first
    * inserted after `version` are absent — exactly the point-in-time
    * visibility a leakage-safe feature join needs. */
  def asOf(spark: SparkSession, path: String, version: Long): DataFrame =
    history(spark, path).filter(
      col(FromCol) <= version &&
        (col(ToCol).isNull || col(ToCol) > version))

  /** Apply a change batch at `version` (monotone, strictly greater than any
    * version already in the table). See the object doc for semantics,
    * layout, and the idempotence argument. */
  def applyChanges(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      keyCols: Seq[String],
      version: Long
  ): ScdStats = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val attrCols = batch.columns.filterNot(keyCols.contains).toSeq
    val bizCols = batch.columns.toSeq

    // one row per key: delta-sized check, one small aggregate
    val dupKeys = batch.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_n")).filter(col("_n") > 1).limit(1).count()
    require(dupKeys == 0,
      "SCD2 batch has duplicate keys — one open version per key is the " +
        "representable state; pre-aggregate the batch to its latest row")

    Merge.recover(spark, path)
    val cur = spark.read.parquet(path).filter(col(PartCol) === Current)

    // Null-safe payload comparison via ONE left join of the delta against
    // the pruned current slice (broadcastable when the batch is small);
    // struct <=> compares all tracked attributes at once.
    val curKeyed = cur.select(
      keyCols.map(col) :+ struct(attrCols.map(col): _*).as("_cur_payload"): _*)
    val probe = batch.select(
      keyCols.map(col) :+ struct(attrCols.map(col): _*).as("_new_payload"): _*)
      .join(curKeyed, keyCols, "left")
      .withColumn("_is_new", col("_cur_payload").isNull)
      .withColumn("_is_changed",
        col("_cur_payload").isNotNull &&
          !(col("_cur_payload") <=> col("_new_payload")))
      .persist()
    // released on every exit: a failed attempt's cached probe would
    // otherwise answer its retry (same plan) with the pre-commit changes
    try {
      val agg = probe.agg(
        sum(when(col("_is_changed"), 1L).otherwise(0L)).as("chg"),
        sum(when(col("_is_new"), 1L).otherwise(0L)).as("ins")).head()
      val (nChanged, nInserted) =
        (Option(agg.get(0)).fold(0L)(_.asInstanceOf[Long]),
          Option(agg.get(1)).fold(0L)(_.asInstanceOf[Long]))
      if (nChanged == 0 && nInserted == 0)
        return ScdStats(0L, 0L, 0L) // committed-batch replay lands here

      val changedKeys = probe.filter(col("_is_changed"))
        .select(keyCols.map(col): _*)
      val newKeys = probe.filter(col("_is_new")).select(keyCols.map(col): _*)

      val outCols = bizCols ++ Seq(FromCol, ToCol, PartCol)
      // closed versions: the old rows of changed keys, stamped and moved to
      // the append-only scd_part=<version> directory
      val closed = cur.join(changedKeys, keyCols, "semi")
        .withColumn(ToCol, lit(version))
        .withColumn(PartCol, lit(version.toString))
        .select(outCols.map(col): _*)
      val opened = batch.join(changedKeys.unionByName(newKeys), keyCols, "semi")
        .withColumn(FromCol, lit(version))
        .withColumn(ToCol, lit(null).cast("long"))
        .withColumn(PartCol, lit(Current))
        .select(outCols.map(col): _*)
      val carried = cur.join(changedKeys, keyCols, "left_anti")
        .withColumn(PartCol, lit(Current))
        .select(outCols.map(col): _*)

      // one staged write swapped in over exactly {cur, <v>} —
      // generation-stamped like every in-place table mutation, so a stats
      // manifest maintained over the dimension fails loud (not stale)
      // until its owner refreshes it after the commit
      FileManifest.bumpGeneration(spark, path)
      Merge.stageAndCommit(spark,
        carried.unionByName(opened).unionByName(closed), path, Seq(PartCol))
      ScdStats(nChanged, nInserted, rowsClosed = nChanged)
    } finally probe.unpersist()
  }
}
