package graft.streaming

import graft.SparkSpec
import graft.operators.Winnowing
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The submission-checking loop d51 describes, continuous:
  * [[Streaming.fingerprintIndexSink]] maintains the stored MOSS posting
  * table from a stream of document batches, exactly-once under
  * crash-replay, compaction-invariant mid-stream. */
class FingerprintIndexSinkSpec extends SparkSpec {
  import spark.implicits._

  /** Docs long enough to select fingerprints at (k=3, w=4) — ≥ k+w−1 = 6
    * words — with deliberate shared runs across the feed. */
  private val shared = "alpha beta gamma delta epsilon zeta eta"
  private val feed: Seq[(Long, String)] = Seq(
    1L -> (shared + " one two three"),
    2L -> "completely different words in this document here",
    3L -> (shared + " four five six"),        // shares the run with 1
    4L -> "yet another unrelated set of words entirely friend",
    5L -> ("prefix words then " + shared),    // shares the run, shifted
    6L -> "final doc with its own vocabulary nothing shared",
    7L -> (shared + " seven eight nine"))

  /** One micro-batch as [[Streaming.fingerprintIndexSink]] applies it. */
  private def applyBatch(batch: org.apache.spark.sql.DataFrame, path: String,
      id: Long): Boolean =
    Streaming.applyIndexBatch(batch, Winnowing.store, path, id)(
      Winnowing.appendIndex(_, path, _, "doc_id", "text"))

  private def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  private def postings(path: String): Set[(Long, Int, Long)] =
    Winnowing.readFingerprintIndex(spark, path, k = 3, w = 4)
      .as[(Long, Int, Long)].collect().toSet

  test("live index equals a from-scratch build after every micro-batch, through mid-stream compaction") {
    implicit val sqlCtx = spark.sqlContext
    val live = tmpDir("fpsink")
    // an empty base is a valid bootstrap — it pins the (k, w) scheme
    Winnowing.writeFingerprintIndex(
      df(Nil), live, k = 3, w = 4)
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.fingerprintIndexSink(
      mem.toDF().toDF("doc_id", "text"), live,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      compactEvery = 2).start()
    try {
      val cuts = Seq(2, 3, 7) // uneven boundaries
      var from = 0
      for (to <- cuts) {
        mem.addData(feed.slice(from, to))
        q.processAllAvailable()
        from = to
        val fresh = tmpDir(s"fpsink-fresh-$to")
        Winnowing.writeFingerprintIndex(
          df(feed.take(to)), fresh, k = 3, w = 4)
        assert(postings(live) == postings(fresh),
          s"live index diverged from from-scratch after $to docs")
      }
      assert(postings(live).nonEmpty)
      // the maintained index finds a new submission's overlap with history
      val probe = Seq(100L -> (shared + " brand new tail")).toDF("doc_id", "text")
      val hits = Winnowing.incrementalOverlapPairs(probe,
          Winnowing.readFingerprintIndex(spark, live, k = 3, w = 4),
          k = 3, w = 4, minShared = 2, maxDocFreq = 200)
        .select("old_id").as[Long].collect().toSet
      assert(Set(1L, 3L, 5L, 7L).subsetOf(hits), s"missed shared-run docs: $hits")
    } finally q.stop()
    assert(Winnowing.liveBatchCount(spark, live) < 3)
    assert(Winnowing.batchIngested(spark, live, "b0"))
    assert(!applyBatch(df(feed.take(2)), live, 0L))
  }

  test("a crash-replayed committed batch is skipped whole; empty batches commit nothing") {
    val live = tmpDir("fpsink-replay")
    Winnowing.writeFingerprintIndex(df(feed.take(3)), live, k = 3, w = 4)
    assert(applyBatch(df(feed.drop(3)), live, 0L))
    val before = postings(live)
    // crash after commit, before the checkpoint recorded it: re-delivery
    // must not double the batch's postings (n_shared inflates silently)
    assert(!applyBatch(df(feed.drop(3)), live, 0L))
    assert(postings(live) == before)
    // an empty micro-batch is a consistent no-op
    assert(!applyBatch(df(Nil), live, 1L))
    assert(!Winnowing.batchIngested(spark, live, "b1"))
  }
}
