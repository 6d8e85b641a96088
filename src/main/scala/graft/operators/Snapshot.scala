package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dataset-versioning diff between two corpus snapshots — the audit
  * report a curation pipeline emits per release: which documents were
  * added, removed, changed, or untouched.
  *
  * Shape: each side collapses to (id, fingerprint) at the scan (md5 of
  * the compared column — constant-width keys, so the exchange never
  * carries document bodies), then ONE full-outer sort-merge join on the
  * id. At 100 TB this is the canonical co-partitioned join: for a
  * recurring diff (every release, same id key), write both snapshots
  * bucketed on the id (`Bucketing.writeBucketed`) and the join plans
  * with zero Exchange nodes on either side.
  */
object Snapshot {

  /** Per-document diff status between snapshots `v1` and `v2`:
    * `removed` (in v1 only), `added` (in v2 only), `changed` (both,
    * fingerprints differ), `unchanged`. Output: (idCol, status). */
  def diff(
      v1: DataFrame,
      v2: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val a = v1.select(col(idCol).as("a_id"), md5(col(textCol)).as("a_fp"))
    val b = v2.select(col(idCol).as("b_id"), md5(col(textCol)).as("b_fp"))
    a.join(b, col("a_id") === col("b_id"), "full_outer")
      .select(
        coalesce(col("a_id"), col("b_id")).as(idCol),
        when(col("b_id").isNull, "removed")
          .when(col("a_id").isNull, "added")
          .when(col("a_fp") =!= col("b_fp"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** CHANGE DATA FEED between two snapshots — [[diff]]'s row-level
    * sibling: where diff reports per-id STATUS, this emits the actual
    * change rows a downstream consumer applies or audits, in the shape
    * Delta's CDF popularized: `insert` and `delete` rows carry the
    * one-sided payload; a changed id emits BOTH an `update_pre` (old
    * payload) and an `update_post` (new payload) row, so consumers can
    * retract-then-apply without re-reading either snapshot. Unchanged
    * ids emit nothing. Composed with [[publish]]/[[readVersion]], this
    * turns the immutable version history into a CDC SOURCE — the
    * producer side of the streaming `mergeUpsertSink` consumer.
    *
    * Shape: ONE full-outer sort-merge join on the id (both sides reduce
    * to (id, payload-struct) at the scan), unchanged rows filtered
    * BEFORE the update rows fan out 2×. Null-safe struct equality means
    * NULL payload fields compare structurally. For a recurring feed,
    * bucket both snapshots on the id and the join plans exchange-free
    * ([[diff]]'s contract). Output: (op, idCol, payloadCols…).
    *
    * SCHEMA EVOLUTION fails loud at the feed boundary: a column added,
    * dropped, or retyped between the snapshots (the routine migration
    * event) would otherwise be silently projected away — the feed keeps
    * flowing while every consumer misses the new column, or an
    * update_pre/update_post pair carries values of different types. The
    * gate compares the two snapshots' full non-id schemas and raises
    * with the exact drift list; a caller that has handled the migration
    * (backfilled, or deliberately feeds a stable subset) acknowledges it
    * with `tolerateSchemaDrift = true`, which scopes the feed to the
    * stated payloadCols only. */
  def changeFeed(
      v1: DataFrame,
      v2: DataFrame,
      idCol: String = "doc_id",
      payloadCols: Seq[String] = Seq("text"),
      tolerateSchemaDrift: Boolean = false
  ): DataFrame = {
    require(payloadCols.nonEmpty, "changeFeed: payloadCols must be non-empty")
    if (!tolerateSchemaDrift) {
      def payloadSchema(df: DataFrame): Map[String, String] =
        df.schema.fields.filterNot(_.name == idCol)
          .map(f => f.name -> f.dataType.sql).toMap
      val (a0, b0) = (payloadSchema(v1), payloadSchema(v2))
      val added = (b0.keySet -- a0.keySet).toSeq.sorted
      val dropped = (a0.keySet -- b0.keySet).toSeq.sorted
      val retyped = a0.keySet.intersect(b0.keySet)
        .filter(c => a0(c) != b0(c)).toSeq.sorted
        .map(c => s"$c: ${a0(c)} -> ${b0(c)}")
      if (added.nonEmpty || dropped.nonEmpty || retyped.nonEmpty)
        throw new IllegalStateException(
          "changeFeed: payload schema drifted between the snapshots — " +
            (if (added.nonEmpty) s"added [${added.mkString(", ")}] " else "") +
            (if (dropped.nonEmpty) s"dropped [${dropped.mkString(", ")}] " else "") +
            (if (retyped.nonEmpty) s"retyped [${retyped.mkString(", ")}] " else "") +
            "— migrate the feed and its consumers explicitly, or pass " +
            "tolerateSchemaDrift = true to scope the feed to the stated " +
            "payloadCols")
    }
    val a = v1.select(col(idCol).as("__id"),
      struct(payloadCols.map(col): _*).as("__a"))
    val b = v2.select(col(idCol).as("__id"),
      struct(payloadCols.map(col): _*).as("__b"))
    a.join(b, Seq("__id"), "full_outer")
      .filter(!(col("__a") <=> col("__b"))) // drop unchanged before the 2× fan-out
      .select(col("__id"), explode(
        when(col("__a").isNull,
          array(struct(lit("insert").as("op"), col("__b").as("p"))))
          .when(col("__b").isNull,
            array(struct(lit("delete").as("op"), col("__a").as("p"))))
          .otherwise(array(
            struct(lit("update_pre").as("op"), col("__a").as("p")),
            struct(lit("update_post").as("op"), col("__b").as("p"))))).as("r"))
      .select((col("r.op").as("op") +: col("__id").as(idCol) +:
        payloadCols.map(c => col(s"r.p.$c").as(c))): _*)
  }

  // ---- Versioned snapshots: poor-man's TIME TRAVEL on plain parquet ----
  //
  // The Merge/Compaction family mutates the LIVE table in place; publish()
  // freezes an immutable copy per release so "which corpus version trained
  // this model" stays answerable — the reproducibility question a mutable
  // 100 TB lake cannot answer after the fact. Each version is a `v=K`
  // directory (hive-style on purpose: reading the ROOT yields every
  // version with a `v` column, so cross-version audits are one scan with
  // version predicates pruning directories like any partition filter).
  // A publish goes through [[Commit]] — readers never observe a
  // half-written version.

  /** Publish `df` as the next immutable version under `root`; returns the
    * new version number (1-based). */
  def publish(df: DataFrame, root: String): Int = {
    val spark = df.sparkSession
    val next = versions(spark, root).lastOption.getOrElse(0) + 1
    Commit.replace(spark, s"$root/v=$next")(df.write.parquet(_))
    next
  }

  /** Published version numbers under `root`, ascending. */
  def versions(spark: SparkSession, root: String): Seq[Int] = {
    val (fs, rootP) = (Commit.fs(spark, root), new org.apache.hadoop.fs.Path(root))
    if (!fs.exists(rootP)) Seq.empty
    else fs.listStatus(rootP).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .map(_.getPath.getName.drop(2).toInt).sorted
  }

  /** Read one version (default: latest). The pin is a directory path, so
    * a long-running job keeps its version even while newer ones publish. */
  def readVersion(spark: SparkSession, root: String,
      version: Option[Int] = None): DataFrame = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no published versions under $root")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not published under $root (have $vs)")
    spark.read.parquet(s"$root/v=$v")
  }

  /** Drop all but the newest `keep` versions; returns the dropped ones.
    * Retention is the storage half of the time-travel contract — without
    * it every publish is a full extra copy forever. */
  def retain(spark: SparkSession, root: String, keep: Int): Seq[Int] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val vs = versions(spark, root)
    val drop = vs.dropRight(keep)
    drop.foreach(v => Commit.fs(spark, root)
      .delete(new org.apache.hadoop.fs.Path(s"$root/v=$v"), true))
    drop
  }
}
