package graft.streaming

import graft.operators.CrashSpec

/** [[CrashSpec]] over the stream sinks behind the one replay ledger —
  * the πps sample, the EWMA state and the pareto front, each committed
  * with its `last_batch_id` ledger file as one directory, and the
  * idempotent foreachBatch sink, whose manifest is that ledger alone.
  * Each writer is the batch AFTER the fixture's first one; its replay is
  * the redelivered batch. */
class SinkCrashSpec extends CrashSpec {
  import spark.implicits._

  private def words(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")

  test("crash: ppsSampleSink keeps its sample and running totals together") {
    // An in-place overwrite of `stats` crashed mid-write used to restart
    // the sample from the redelivered batch alone (stats [120,40,1]
    // instead of the crash-free [240,80,1])
    val docs = (from: Long) =>
      (from until from + 40L).map(i => (i, words(3))).toDF("doc_id", "text")
    val fixture = tmpDir("graft-crash-pps")
    Streaming.applyPpsBatch(docs(1L), fixture, k = 10, salt = "", batchId = 0L)
    val stored = (p: String) => Map(
      "sample" -> Streaming.storedPpsSample(spark, p, k = 10)
        .collect().map(_.toSeq).toSet)
    val calls = everyCrash(fixture, stored) { p =>
      Streaming.applyPpsBatch(docs(41L), p, k = 10, salt = "", batchId = 1L)
    }
    assert(calls.nonEmpty)
  }

  test("crash: ewmaSink keeps its state and ledger together") {
    val cells = (rows: Seq[(String, Int, Long)]) => rows.toDF("k", "t", "x")
    val fixture = tmpDir("graft-crash-ewma")
    Streaming.applyEwmaBatch(cells(Seq(("A", 1, 100L), ("B", 1, 7L))),
      fixture, "k", "t", "x", 250000L, 0L)
    val state = (p: String) => Map("state" ->
      Streaming.storedEwmaState(spark, p).collect().map(_.toSeq).toSet)
    everyCrash(fixture, state) { p =>
      Streaming.applyEwmaBatch(cells(Seq(("A", 2, 200L), ("C", 1, 50L))),
        p, "k", "t", "x", 250000L, 1L)
    }
  }

  test("crash: paretoSink keeps its front and ledger together") {
    val pts = (r: Range) =>
      r.map(i => (i.toLong, (i * 37L + 11) % 97, (i * 53L + 7) % 89)).toDF("id", "x", "y")
    val fixture = tmpDir("graft-crash-pareto")
    Streaming.applyParetoBatch(pts(0 until 30), fixture, "x", "y", 0L)
    val front = (p: String) => Map("front" ->
      Streaming.storedParetoFront(spark, p).collect().map(_.toSeq).toSet)
    everyCrash(fixture, front) { p =>
      Streaming.applyParetoBatch(pts(30 until 60), p, "x", "y", 1L)
    }
  }

  test("crash: the idempotent sink's marker is absent or whole, and a replay commits it once") {
    val fixture = tmpDir("graft-crash-marker")
    val batch = Seq(1L).toDF("id")
    val ran = new java.util.concurrent.atomic.AtomicInteger()
    val markers = (p: String) => {
      val dir = new org.apache.hadoop.fs.Path(p)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Map("markers" -> fs.listStatus(dir).map(_.getPath.getName)
        .filterNot(_.startsWith(".")).toSet)
    }
    everyCrash(fixture, markers, taskWrite = false) { p =>
      Streaming.applyMarkedBatch(batch, 7L, p)((_, _) => ran.incrementAndGet())
    }
    // the clean run, then at most once more per crash and replay
    assert(ran.get >= 1)
  }
}
