package graft.streaming

import graft.SparkSpec
import graft.operators.{Similarity, VectorIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The serve-while-ingesting loop: [[Streaming.annIndexSink]] maintains a
  * stored IVFADC index from a stream of embedding batches with the frozen
  * base fits, exactly-once under crash-replay, compaction-invariant
  * mid-stream — the vector twin of EditIndexSinkSpec's contract. */
class AnnIndexSinkSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8

  /** Deterministic synthetic vectors — enough spread for 4 cells. */
  /** One micro-batch as [[Streaming.annIndexSink]] applies it. */
  private def applyBatch(batch: DataFrame, path: String, id: Long): Boolean =
    Streaming.applyIndexBatch(batch, VectorIndex.store, path, id)(
      VectorIndex.appendBatch(_, path, _, "vec_id", "embedding"))

  private def vec(i: Long): Seq[Double] =
    (0 until dim).map(j => (((i * 31 + j * 7) % 13) - 6).toDouble + 0.25)

  private val all: Seq[(Long, Seq[Double])] =
    (0L until 40L).map(i => i -> vec(i))
  private val base = all.take(16)
  private val rest = all.drop(16)

  private def df(rows: Seq[(Long, Seq[Double])]): DataFrame =
    rows.toDF("vec_id", "embedding")

  // one frozen fit pair shared by the live base and every from-scratch
  // reference build — what makes live ≡ fresh an EQUALITY, not a recall bar
  private lazy val cf = Similarity.fitCoarseQuantizer(df(base), nCentroids = 4)
  private lazy val pf = Similarity.fitPqCodebooks(df(base), m = 4, ks = 4)

  private def writeWithFits(rows: Seq[(Long, Seq[Double])], path: String): Unit =
    VectorIndex.write(df(rows), path, m = 4, ks = 4,
      coarseFitted = Some(cf), fitted = Some(pf))

  private val qs = df(base.take(5))

  private def answer(path: String): Set[(Long, Long, Double, Int)] =
    VectorIndex.search(qs, path, k = 3, nProbe = 2, refine = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSet

  test("live index equals a from-scratch build after every micro-batch, through mid-stream compaction") {
    implicit val sqlCtx = spark.sqlContext
    val live = tmpDir("annsink")
    writeWithFits(base, live)
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = Streaming.annIndexSink(
      mem.toDF().toDF("vec_id", "embedding"), live,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      compactEvery = 2).start()
    try {
      val cuts = Seq(7, 13, 24) // uneven boundaries into `rest`
      var from = 0
      for (to <- cuts) {
        mem.addData(rest.slice(from, to))
        q.processAllAvailable()
        from = to
        val fresh = tmpDir(s"annsink-fresh-$to")
        writeWithFits(base ++ rest.take(to), fresh)
        assert(answer(live) == answer(fresh),
          s"live index diverged from from-scratch after ${16 + to} vectors")
      }
      assert(answer(live).nonEmpty)
    } finally q.stop()
    // the compaction cadence held, and absorbed batches still refuse replay
    assert(VectorIndex.liveBatchCount(spark, live) < 3)
    assert(VectorIndex.batchIngested(spark, live, "b0"))
    assert(!applyBatch(df(rest.take(7)), live, 0L))
  }

  test("a crash-replayed committed batch is skipped whole; empty batches commit nothing") {
    val live = tmpDir("annsink-replay")
    writeWithFits(base, live)
    assert(applyBatch(df(rest.take(12)), live, 0L))
    val before = answer(live)
    val n = VectorIndex.load(spark, live).codes.count()
    // crash after commit, before the checkpoint recorded it: re-delivery
    // must not double-encode the batch (duplicate code rows would inflate
    // candidate multiplicity in the ADC shortlist forever)
    assert(!applyBatch(df(rest.take(12)), live, 0L))
    assert(answer(live) == before)
    assert(VectorIndex.load(spark, live).codes.count() == n)
    // an empty micro-batch is a consistent no-op (no batch dir committed)
    assert(!applyBatch(df(Nil), live, 1L))
    assert(!VectorIndex.batchIngested(spark, live, "b1"))
  }
}
