package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge, Observation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The one fixed-point loop of the iterative graph family
  * ([[Components.connected]], [[Graph.pageRank]], [[Graph.labelPropagation]],
  * [[Graph.reachableFrom]]/[[Graph.incrementalReachable]],
  * [[Graph.shortestPaths]], [[Graph.kCore]]): each operator supplies only its
  * round body; the round count, the stop test, lineage truncation and the
  * release of superseded checkpoints live here, once.
  *
  * Lineage truncation: without it the plan doubles per round and Catalyst
  * analysis, not data, becomes the bottleneck. By default a round is
  * truncated with `localCheckpoint` (executor-local blocks: fast, but lost
  * under executor churn); with a `checkpointDir`, by a durable parquet
  * round-trip under a per-call `graft-<tag>-*` subdirectory, read back with
  * the written schema (no footer-inference job). Rounds between truncations
  * stay lazy and execute as one job at the next truncation.
  *
  * Guarantees, for every caller:
  *   - the returned state is materialized, even after zero rounds;
  *   - each checkpoint is released as soon as the next one materializes
  *     (the new one is self-contained): local blocks by unpersisting the
  *     RDD read from that checkpoint frame's own plan, durable files by
  *     deleting its directory. Only the final checkpoint, which backs the
  *     returned state, is kept (on disk: O(|state|), not O(rounds·|state|));
  *   - with a change-flag column every round is materialized and the rows
  *     whose flag is true are counted inside the same checkpoint job (an
  *     `observe` metric, with a plain count as fallback when the metric does
  *     not arrive); the loop stops at the first round that counts zero.
  *
  * The initial state always counts as changed, so the loop runs at least one
  * round whenever `maxRounds >= 1`. What a round limit without convergence
  * means is the caller's decision. */
private[operators] object Fixpoint {

  /** @param state the materialized state after the last round (the
    *              checkpoint frame itself, flag column included).
    * @param rounds rounds run.
    * @param converged a round's change count reached zero (always false
    *              without a change flag). */
  final case class Result(state: DataFrame, rounds: Int, converged: Boolean)

  /** @param init initial state; checkpointed up front when
    *              `materializeInit`, otherwise it stays lazy until the
    *              first truncation (or is materialized at the end of a
    *              zero-round run).
    * @param cadence rounds between truncations when there is no
    *              change flag; the last round is always truncated.
    * @param changed name of a boolean column of the round body's output:
    *              rows where it is true are this round's changes.
    * @param round the round body: (previous state, 1-based round) → next
    *              state. */
  def run(
      init: DataFrame,
      maxRounds: Int,
      checkpointDir: Option[String],
      tag: String,
      cadence: Int = 1,
      changed: Option[String] = None,
      materializeInit: Boolean = false)(
      round: (DataFrame, Int) => DataFrame): Result = {
    val spark = init.sparkSession
    val runDir = checkpointDir.map(d =>
      s"$d/graft-$tag-${java.util.UUID.randomUUID().toString.take(8)}")
    var written = 0
    var releasePrev: () => Unit = () => ()

    def truncate(df: DataFrame): DataFrame = {
      val (out, release) = runDir match {
        case Some(base) =>
          val p = s"$base/round-$written"
          written += 1
          df.write.mode("overwrite").parquet(p)
          (spark.read.schema(df.schema).parquet(p), () => deletePath(spark, p))
        case None =>
          val out = df.localCheckpoint(true)
          (out, () => Fixpoint.release(out))
      }
      releasePrev()
      releasePrev = release
      out
    }

    def truncateCounting(df: DataFrame, flag: String): (DataFrame, Long) = {
      val probe = Observation()
      val out = truncate(
        df.observe(probe, sum(when(col(flag), 1L).otherwise(0L)).as("n")))
      GraftBridge.drainListenerBus(spark)
      val n = GraftBridge.observedOrEmpty(probe).get("n") match {
        case Some(v: Long) => v
        case Some(null) => 0L // sum over zero rows
        case _ => out.filter(col(flag)).count()
      }
      (out, n)
    }

    var state = if (materializeInit) truncate(init) else init
    var rounds = 0
    var converged = false
    while (rounds < maxRounds && !converged) {
      rounds += 1
      val next = round(state, rounds)
      changed match {
        case Some(flag) =>
          val (out, n) = truncateCounting(next, flag)
          state = out
          converged = n == 0
        case None =>
          state =
            if (rounds % cadence == 0 || rounds == maxRounds) truncate(next)
            else next
      }
    }
    if (rounds == 0 && !materializeInit) state = truncate(state)
    Result(state, rounds, converged)
  }

  /** Release a `localCheckpoint` frame's blocks by unpersisting the RDD its
    * own plan reads. Never a before/after diff of the session-wide
    * persistent-RDD registry: such a diff also captures checkpoints another
    * caller of the same session makes in that window, and releasing those
    * breaks the other caller's next read. `checkpointed` must be the frame
    * `localCheckpoint` returned, not a projection of it. */
  def release(checkpointed: DataFrame): Unit =
    GraftBridge.logicalPlan(checkpointed) match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case other => throw new IllegalArgumentException(
        s"not a checkpoint frame: ${other.nodeName}")
    }

  private def deletePath(spark: org.apache.spark.sql.SparkSession,
      p: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
  }
}
