package graft.streaming

import graft.SparkSpec
import graft.operators.{ClosureStore, Dedup, Graph}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class ClosureSinkSpec extends SparkSpec {
  import spark.implicits._

  private val chunkA = "a b c d e f g h"
  private val chunkB = "p q r s t u v w"
  private val chunkC = "k l m n o aa bb cc"

  /** Seeds = even doc ids. Docs chain shares so later batches extend the
    * closure through earlier ones (and move hubs: 1 < 2, 0 < 1). */
  private val feed: Seq[(Long, String)] = Seq(
    2L -> chunkA,                        // seed
    4L -> (chunkA + " " + chunkB),       // shares A with 2
    7L -> chunkC,                        // not a seed, isolated so far
    6L -> chunkB,                        // shares B with 4
    1L -> chunkA,                        // moves A's hub (1 < 2)
    9L -> (chunkC + " tail words here"), // shares C with 7 — still unseeded
    8L -> chunkC,                        // SEED arriving late: pulls C docs in
    3L -> "nothing shared at all zz yy")

  /** One micro-batch as [[Streaming.closureSink]] applies it. */
  private def applyBatch(batch: org.apache.spark.sql.DataFrame, path: String,
      seedPredicate: org.apache.spark.sql.Column, id: Long): Boolean =
    Streaming.applyIndexBatch(batch, ClosureStore.store, path, id) { (b, bid) =>
      ClosureStore.advance(b, b.filter(seedPredicate).select("doc_id"), path, bid)
      ()
    }

  private def fromScratch(docs: Seq[(Long, String)]): Set[Long] = {
    val df = docs.toDF("doc_id", "text")
    val star = Dedup.chunkShareEdges(df)
    val edges = star.unionAll(
      star.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
    Graph.reachableFrom(edges,
        docs.filter(_._1 % 2 == 0).map(_._1).toDF("doc_id"),
        srcCol = "a_id", dstCol = "b_id")
      .select("node").as[Long].collect().toSet
  }

  private def emptyStore(): String = {
    val p = tmpDir("closure-sink")
    ClosureStore.build(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      Seq.empty[Long].toDF("doc_id"), p)
    p
  }

  test("stored closure equals the from-scratch closure after every micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val root = emptyStore()
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.closureSink(
      mem.toDF().toDF("doc_id", "text"), root,
      seedPredicate = col("doc_id") % 2 === 0,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)).start()
    try {
      val cuts = Seq(2, 5, 8) // uneven boundaries incl. the late seed
      var from = 0
      for (to <- cuts) {
        mem.addData(feed.slice(from, to))
        q.processAllAvailable()
        from = to
        val stored = ClosureStore.storedClosure(spark, root)
          .select("node").as[Long].collect().toSet
        assert(stored == fromScratch(feed.take(to)), s"diverged after $to docs")
      }
    } finally q.stop()
  }

  test("compactEvery folds batches into the base mid-stream without changing any answer") {
    implicit val sqlCtx = spark.sqlContext
    val root = emptyStore()
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.closureSink(
      mem.toDF().toDF("doc_id", "text"), root,
      seedPredicate = col("doc_id") % 2 === 0,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      compactEvery = 2).start()
    try {
      val cuts = Seq(2, 4, 6, 8)
      var from = 0
      for (to <- cuts) {
        mem.addData(feed.slice(from, to))
        q.processAllAvailable()
        from = to
        assert(ClosureStore.storedClosure(spark, root)
          .select("node").as[Long].collect().toSet == fromScratch(feed.take(to)),
          s"diverged after $to docs")
      }
    } finally q.stop()
    // the cadence held: fewer live batch dirs than committed batches
    assert(ClosureStore.liveBatchCount(spark, root) < 4)
    // absorbed batches still refuse replay (the ledger carried their ids)
    assert(ClosureStore.batchIngested(spark, root, "b0"))
    assert(!applyBatch(feed.take(2).toDF("doc_id", "text"), root,
      col("doc_id") % 2 === 0, 0L))
  }

  test("a crash-replayed committed batch is skipped whole; empty batches commit nothing") {
    val root = emptyStore()
    val pred = col("doc_id") % 2 === 0
    assert(applyBatch(feed.take(4).toDF("doc_id", "text"), root, pred, 0L))
    assert(applyBatch(
      feed.slice(4, 8).toDF("doc_id", "text"), root, pred, 1L))
    val before = ClosureStore.storedClosure(spark, root)
      .select("node").as[Long].collect().toSet
    assert(before == fromScratch(feed))
    // crash after commit, before the checkpoint recorded it: re-delivery
    assert(!applyBatch(
      feed.slice(4, 8).toDF("doc_id", "text"), root, pred, 1L))
    assert(ClosureStore.storedClosure(spark, root)
      .select("node").as[Long].collect().toSet == before)
    // an empty micro-batch is a consistent no-op (no batch dir committed)
    assert(!applyBatch(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), root, pred, 2L))
    assert(!ClosureStore.batchIngested(spark, root, "b2"))
  }
}
