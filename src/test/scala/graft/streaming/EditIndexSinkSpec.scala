package graft.streaming

import graft.SparkSpec
import graft.operators.EditDistance
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class EditIndexSinkSpec extends SparkSpec {
  import spark.implicits._

  /** Close strings across both regimes (short ≤ 2k+1 = 5 chars at k=2,
    * and segment-regime longer ones), fed in uneven batches. */
  private val feed: Seq[(Long, String)] = Seq(
    1L -> "abcde fghij",
    2L -> "abcdX fghij",   // dist 1 to doc 1
    3L -> "zz",
    4L -> "zzy",            // dist 1 to doc 3 (short regime)
    5L -> "abcde fgh",      // dist 2 to doc 1
    6L -> "totally different words",
    7L -> "zzyx",           // dist ≤2 to 3 and 4
    8L -> "abcdX fghiq")    // dist 1 to doc 2

  /** Probe set with ids disjoint from the feed (the incrementalPairs
    * unique-id contract). */
  private val probe = Seq(
    100L -> "abcde fghij", 101L -> "zzz", 102L -> "abcdX fghiq")
    .toDF("doc_id", "text")

  /** One micro-batch as [[Streaming.editIndexSink]] applies it. */
  private def applyBatch(batch: org.apache.spark.sql.DataFrame, path: String,
      id: Long): Boolean =
    Streaming.applyIndexBatch(batch, EditDistance.store, path, id)(
      EditDistance.appendIndex(_, "doc_id", "text", path, _))

  private def emptyIndex(): String = {
    val p = tmpDir("edsink")
    EditDistance.writeIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", maxDist = 2, p)
    p
  }

  private def probePairs(path: String): Set[(Long, Long, Int)] =
    EditDistance.incrementalPairs(probe, "doc_id", "text", path)
      .as[(Long, Long, Int)].collect().toSet
      // drop probe-internal pairs: only probe×index pairs witness the
      // maintained index state
      .filter { case (a, b, _) => a < 100L || b < 100L }

  test("the live index equals a from-scratch build after every micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val live = emptyIndex()
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.editIndexSink(
      mem.toDF().toDF("doc_id", "text"), live,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)).start()
    try {
      val cuts = Seq(3, 5, 8) // uneven boundaries across both regimes
      var from = 0
      for (to <- cuts) {
        mem.addData(feed.slice(from, to))
        q.processAllAvailable()
        from = to
        val fresh = tmpDir(s"edsink-fresh-$to")
        EditDistance.writeIndex(feed.take(to).toDF("doc_id", "text"),
          "doc_id", "text", maxDist = 2, fresh)
        assert(probePairs(live) == probePairs(fresh),
          s"live index diverged from from-scratch after $to docs")
      }
      assert(probePairs(live).nonEmpty, "probe found no pairs — fixture vacuous")
    } finally q.stop()
  }

  test("compactEvery folds batches into the base mid-stream without changing any probe") {
    implicit val sqlCtx = spark.sqlContext
    val live = emptyIndex()
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.editIndexSink(
      mem.toDF().toDF("doc_id", "text"), live,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      compactEvery = 2).start()
    try {
      val cuts = Seq(2, 4, 6, 8)
      var from = 0
      for (to <- cuts) {
        mem.addData(feed.slice(from, to))
        q.processAllAvailable()
        from = to
        val fresh = tmpDir(s"edsink-cmp-$to")
        EditDistance.writeIndex(feed.take(to).toDF("doc_id", "text"),
          "doc_id", "text", maxDist = 2, fresh)
        assert(probePairs(live) == probePairs(fresh),
          s"diverged after $to docs")
      }
    } finally q.stop()
    // the cadence held, and absorbed batches still refuse replay
    assert(EditDistance.liveBatchCount(spark, live) < 4)
    assert(EditDistance.batchIngested(spark, live, "b0"))
    assert(!applyBatch(feed.take(2).toDF("doc_id", "text"), live, 0L))
  }

  test("a crash-replayed committed batch is skipped whole; empty batches commit nothing") {
    val live = emptyIndex()
    assert(applyBatch(feed.take(4).toDF("doc_id", "text"), live, 0L))
    assert(applyBatch(feed.slice(4, 8).toDF("doc_id", "text"), live, 1L))
    val before = probePairs(live)
    // crash after commit, before the checkpoint recorded it: re-delivery
    // must not double the batch's segments (which would inflate
    // candidates forever)
    assert(!applyBatch(feed.slice(4, 8).toDF("doc_id", "text"), live, 1L))
    assert(probePairs(live) == before)
    // an empty micro-batch is a consistent no-op (no batch dir committed)
    assert(!applyBatch(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), live, 2L))
    assert(!EditDistance.batchIngested(spark, live, "b2"))
  }
}
