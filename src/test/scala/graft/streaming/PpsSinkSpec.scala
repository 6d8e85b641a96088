package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class PpsSinkSpec extends SparkSpec {
  import spark.implicits._

  private def words(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")

  test("stream-fed sample converges to the batch-mode draw, whatever the batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val all = (1L to 120L).map(i => (i, words((i % 11).toInt + 1)))
    val root = tmpDir("pps-sink")
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.ppsSampleSink(
      mem.toDF().toDF("doc_id", "text"), root, k = 15,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)).start()
    try {
      // three uneven batches; after EACH, the artifact must equal the
      // batch-mode draw over exactly the rows delivered so far
      val cuts = Seq(7, 50, 120)
      var from = 0
      for (to <- cuts) {
        mem.addData(all.slice(from, to))
        q.processAllAvailable()
        from = to
        val stored = Streaming.storedPpsSample(spark, root, k = 15)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        val batch = graft.operators.Curation.ppsSample(
          all.take(to).toDF("doc_id", "text"), k = 15)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        assert(stored == batch, s"diverged after $to docs")
      }
    } finally q.stop()
  }

  test("a crash-replayed committed batch is detected and skipped whole (stats not double-counted)") {
    val root = tmpDir("pps-replay")
    val b0 = (1L to 40L).map(i => (i, words((i % 5).toInt + 1))).toDF("doc_id", "text")
    val b1 = (41L to 80L).map(i => (i, words((i % 7).toInt + 1))).toDF("doc_id", "text")
    assert(Streaming.applyPpsBatch(b0, root, k = 10, salt = "", batchId = 0L))
    assert(Streaming.applyPpsBatch(b1, root, k = 10, salt = "", batchId = 1L))
    // state and ledger live in one committed directory, `current`
    val before = spark.read.parquet(s"$root/current/stats").head()
    val sampleBefore = spark.read.parquet(s"$root/current/sample")
      .collect().map(_.toSeq).toSet
    // replay of batch 1 (same id): must be a no-op
    assert(!Streaming.applyPpsBatch(b1, root, k = 10, salt = "", batchId = 1L))
    assert(spark.read.parquet(s"$root/current/stats").head() == before)
    assert(spark.read.parquet(s"$root/current/sample")
      .collect().map(_.toSeq).toSet == sampleBefore)
    // the running total equals the one-shot total over both batches
    val w = graft.operators.Curation.ppsSample(
      b0.unionByName(b1), k = 10)
      .select(max(col("ht_weight_ppm"))).head().getLong(0)
    val ws = Streaming.storedPpsSample(spark, root, k = 10)
      .select(max(col("ht_weight_ppm"))).head().getLong(0)
    assert(w == ws)
  }

  test("storedPpsSample on a path with no committed batch fails naming the sink and the path") {
    val root = tmpDir("pps-none")
    val e = intercept[IllegalStateException](Streaming.storedPpsSample(spark, root, k = 10))
    assert(e.getMessage.contains("ppsSampleSink") && e.getMessage.contains(root))
  }
}
