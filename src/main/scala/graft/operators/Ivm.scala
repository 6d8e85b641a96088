package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental view maintenance for JOIN-aggregate views — the delta-join
  * rule every IVM engine (DBSP, Materialize, Delta Live Tables) applies:
  * for an append-only fact F and a static dimension D,
  * Δ(F ⋈ D) = ΔF ⋈ D, so a stored aggregate over the join is kept
  * current by joining ONLY the delta against the dimension and merging
  * the delta-aggregate additively into the view. History is never
  * rescanned: maintenance costs O(|Δ| ⋈ dims) — at 100 TB the difference
  * between "refresh rides the ingest batch" and "refresh is a nightly
  * full recompute you eventually stop running".
  *
  * This is mv01's sibling one step up: mv01 maintains a single-table
  * rollup by RECOMPUTING the delta's touched groups from full-month
  * data (replace semantics — needed when the delta can revise rows);
  * this maintains a JOIN view by pure ADDITION (union + re-aggregate),
  * the right rule when the fact stream is append-only. Correctness
  * contract is the same: incremental must be indistinguishable from
  * recompute (mv02's oracle recomputes from the raw originals).
  *
  * Additivity restricts the aggregate vocabulary to SUM/COUNT (store
  * sums and counts; derive AVG at read time). The stored columns keep
  * their declared types across refreshes: Spark widens DECIMAL sums
  * (D(18,2) → D(28,2)), so the merged result is cast back to the
  * stored schema — lossless while the true totals fit, and decimal
  * sums are exact in any order (the repo's oracle-parity discipline;
  * a float revenue column would drift by merge order).
  */
object Ivm {

  /** Merge `deltaAgg` (same schema as the view: `keys` ++ `addCols`)
    * additively into the stored view at `viewPath`: union + one
    * map-side-combined re-aggregate over |view| + |delta| rows (the
    * view is groups-sized, not history-sized), then a staged swap —
    * the view is read by its own refresh, and a half-written view must
    * never be observable (Merge's commit discipline). */
  def maintainAdditive(
      spark: SparkSession,
      viewPath: String,
      deltaAgg: DataFrame,
      keys: Seq[String],
      addCols: Seq[String]
  ): Unit = {
    require(keys.nonEmpty && addCols.nonEmpty, "keys and addCols must be non-empty")
    Merge.recover(spark, viewPath)
    val stored = spark.read.parquet(viewPath)
    val aggs = addCols.map(c => sum(col(c)).as(c))
    val merged = stored.select((keys ++ addCols).map(col): _*)
      .unionByName(deltaAgg.select((keys ++ addCols).map(col): _*))
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select((keys.map(col) ++ addCols.map(c =>
        col(c).cast(stored.schema(c).dataType).as(c))): _*)
    // written once beside the view, then swapped in whole (the merge reads
    // the view, so it cannot overwrite it in place)
    Merge.stageAndCommit(spark, merged, viewPath, Nil)
  }
}
