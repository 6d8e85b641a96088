package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class ParetoSinkSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic scatter with x/y collisions so frontier ties are
    * exercised across batch boundaries, not dodged. */
  private def pts(r: Range): Seq[(Long, Long, Long)] =
    r.map(i => (i.toLong, (i.toLong * 37 + 11) % 97, (i.toLong * 53 + 7) % 89))

  test("stored front equals the batch skyline after every micro-batch, whatever the boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val all = pts(0 until 300)
    val root = tmpDir("pareto-sink")
    val mem = MemoryStream[(Long, Long, Long)]
    val q = Streaming.paretoSink(
      mem.toDF().toDF("id", "x", "y"), root, "x", "y",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)).start()
    try {
      val cuts = Seq(13, 140, 300)
      var from = 0
      for (to <- cuts) {
        mem.addData(all.slice(from, to))
        q.processAllAvailable()
        from = to
        val stored = Streaming.storedParetoFront(spark, root)
          .as[(Long, Long, Long)].collect().toSet
        val batch = graft.operators.Skyline.pareto2d(
            all.take(to).toDF("id", "x", "y"), "x", "y")
          .as[(Long, Long, Long)].collect().toSet
        assert(stored == batch, s"diverged after $to points")
      }
    } finally q.stop()
  }

  test("a crash-replayed committed batch is detected and skipped whole") {
    val root = tmpDir("pareto-replay")
    val b0 = pts(0 until 50).toDF("id", "x", "y")
    val b1 = pts(50 until 90).toDF("id", "x", "y")
    assert(Streaming.applyParetoBatch(b0, root, "x", "y", batchId = 0L))
    assert(Streaming.applyParetoBatch(b1, root, "x", "y", batchId = 1L))
    val before = Streaming.storedParetoFront(spark, root)
      .collect().map(_.toSeq).toSet
    assert(!Streaming.applyParetoBatch(b1, root, "x", "y", batchId = 1L))
    assert(Streaming.storedParetoFront(spark, root)
      .collect().map(_.toSeq).toSet == before)
  }

  test("crash between the swap renames: reads fall back to the aside and replaying the batch converges") {
    val root = tmpDir("pareto-crash")
    val all = pts(0 until 90)
    assert(Streaming.applyParetoBatch(
      all.take(50).toDF("id", "x", "y"), root, "x", "y", 0L))
    val preBatch = Streaming.storedParetoFront(spark, root)
      .as[(Long, Long, Long)].collect().toSet
    // simulate a crash AFTER the rename-aside, BEFORE the publish rename:
    // the committed directory (front + its ledger, still at batch 0) sits
    // at its aside and `current` is gone — exactly the mid-swap state
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aside = graft.operators.Commit.aside(s"$root/current")
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$root/current"),
      new org.apache.hadoop.fs.Path(aside)))
    // the read path serves the aside copy instead of failing or emptying
    assert(Streaming.storedParetoFront(spark, root)
      .as[(Long, Long, Long)].collect().toSet == preBatch)
    // replay of the uncommitted batch folds against the aside copy and
    // lands the same front a crash-free run would have
    assert(Streaming.applyParetoBatch(
      all.slice(50, 90).toDF("id", "x", "y"), root, "x", "y", 1L))
    val expected = graft.operators.Skyline
      .pareto2d(all.toDF("id", "x", "y"), "x", "y")
      .as[(Long, Long, Long)].collect().toSet
    assert(Streaming.storedParetoFront(spark, root)
      .as[(Long, Long, Long)].collect().toSet == expected)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(aside)))
  }

  test("a partial staging write left by a crash is discarded, never read") {
    val root = tmpDir("pareto-stage")
    val all = pts(0 until 80)
    assert(Streaming.applyParetoBatch(
      all.take(40).toDF("id", "x", "y"), root, "x", "y", 0L))
    // a crashed batch left a half-written staging dir with garbage rows
    Seq((999L, -1L, -1L)).toDF("id", "x", "y")
      .write.parquet(s"${graft.operators.Commit.staging(s"$root/current")}/front")
    val expected = graft.operators.Skyline
      .pareto2d(all.toDF("id", "x", "y"), "x", "y")
      .as[(Long, Long, Long)].collect().toSet
    assert(Streaming.applyParetoBatch(
      all.slice(40, 80).toDF("id", "x", "y"), root, "x", "y", 1L))
    assert(Streaming.storedParetoFront(spark, root)
      .as[(Long, Long, Long)].collect().toSet == expected)
  }

  test("a batch that improves nothing leaves the front unchanged; one that dominates everything replaces it") {
    val root = tmpDir("pareto-fold")
    val base = Seq((1L, 10L, 10L), (2L, 20L, 20L)).toDF("id", "x", "y")
    assert(Streaming.applyParetoBatch(base, root, "x", "y", 0L))
    // strictly dominated newcomers: front unchanged
    assert(Streaming.applyParetoBatch(
      Seq((3L, 25L, 5L)).toDF("id", "x", "y"), root, "x", "y", 1L))
    assert(Streaming.storedParetoFront(spark, root)
      .as[(Long, Long, Long)].collect().toSet ==
      Set((1L, 10L, 10L), (2L, 20L, 20L)))
    // a universal dominator: front collapses to it
    assert(Streaming.applyParetoBatch(
      Seq((4L, 1L, 99L)).toDF("id", "x", "y"), root, "x", "y", 2L))
    assert(Streaming.storedParetoFront(spark, root)
      .as[(Long, Long, Long)].collect().toSet == Set((4L, 1L, 99L)))
  }

  test("storedParetoFront on a path with no committed batch fails naming the sink and the path") {
    val root = tmpDir("pareto-none")
    val e = intercept[IllegalStateException](Streaming.storedParetoFront(spark, root))
    assert(e.getMessage.contains("paretoSink") && e.getMessage.contains(root))
  }
}
