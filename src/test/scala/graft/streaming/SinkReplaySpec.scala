package graft.streaming

import graft.SparkSpec

/** A replay is free: for every sink behind the one replay ledger, a
  * redelivered committed batch is recognized from the ledger alone — no
  * Spark job — and leaves the stored state as it was. */
class SinkReplaySpec extends SparkSpec {
  import spark.implicits._

  /** One ledgered apply: `apply(root, batchId)` applies the case's batch,
    * `stored(root)` reads what the sink keeps. */
  private case class Ledgered(name: String, apply: (String, Long) => Boolean,
      stored: String => Any)

  private val marked = new java.util.concurrent.atomic.AtomicInteger()
  private val cases = Seq(
    Ledgered("pps",
      (p, id) => Streaming.applyPpsBatch(
        (1L to 30L).map(i => (i, s"w$i w${i + 1}")).toDF("doc_id", "text"),
        p, k = 5, salt = "", batchId = id),
      p => Streaming.storedPpsSample(spark, p, k = 5).collect().toSet),
    Ledgered("ewma",
      (p, id) => Streaming.applyEwmaBatch(
        Seq(("A", 1, 100L), ("B", 1, 7L)).toDF("k", "t", "x"),
        p, "k", "t", "x", 250000L, id),
      p => Streaming.storedEwmaState(spark, p).collect().toSet),
    Ledgered("pareto",
      (p, id) => Streaming.applyParetoBatch(
        (0 until 30).map(i => (i.toLong, (i * 37L + 11) % 97, (i * 53L + 7) % 89))
          .toDF("id", "x", "y"), p, "x", "y", id),
      p => Streaming.storedParetoFront(spark, p).collect().toSet),
    Ledgered("marker",
      (p, id) => Streaming.applyMarkedBatch(Seq(1L).toDF("id"), id, p)(
        (_, _) => marked.incrementAndGet()),
      _ => marked.get))

  for (c <- cases)
    test(s"${c.name}: a replayed batch returns false, starts no Spark job and changes nothing") {
      val root = tmpDir(s"replay-${c.name}")
      assert(c.apply(root, 0L))
      assert(c.apply(root, 1L))
      val before = c.stored(root)
      var applied = true
      val jobs = jobsOf { applied = c.apply(root, 1L) }
      assert(!applied)
      assert(jobs.isEmpty, s"the replay started ${jobs.size} Spark jobs")
      assert(c.stored(root) == before)
    }
}
