package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The stored-index contract: searching a written index returns IDENTICAL
  * rows to the one-shot ivfPqTopK pipeline given the same fits — not just
  * similar recall — and incremental appends encode with the frozen stored
  * fits. r16 brings the ingest side under the Generations discipline: the
  * crash/replay cases here mirror EditDistanceSpec's (atomic batch commit,
  * replay probe, ledger carried across compaction and rebuild, previous
  * generation readable at every crash point of a rewrite). */
class VectorIndexSpec extends SparkSpec {

  private def emb = Tables.table(spark, sf(), "embeddings")
  private def qs = emb.filter(col("vec_id") < 20)

  private def rows(df: DataFrame): Set[(Long, Long, Double, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2), r.getInt(3))).toSet

  /** Committed generation directories of a store, ascending (local FS —
    * tests only). */
  private def genDirs(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("gen-\\d{7,}"))
      .sortBy(_.getName)

  private def currentGenDir(dir: String): String = genDirs(dir).last.getPath

  test("stored-index search equals the one-shot IVFADC answer (non-residual)") {
    val cf = Similarity.fitCoarseQuantizer(emb, nCentroids = 8)
    val pf = Similarity.fitPqCodebooks(emb, m = 8, ks = 8)
    val oneShot = Similarity.ivfPqTopK(emb, qs, k = 3,
      nCentroids = 8, nProbe = 4, m = 8, ks = 8, refine = 8,
      residual = false, coarseFitted = Some(cf), fitted = Some(pf))
    val dir = tmpDir("graft-vindex-plain")
    VectorIndex.write(emb, dir, m = 8, ks = 8, residual = false,
      coarseFitted = Some(cf), fitted = Some(pf))
    val fromIndex = VectorIndex.search(qs, dir, k = 3, nProbe = 4, refine = 8)
    assert(rows(fromIndex) == rows(oneShot))
    assert(fromIndex.count() > 0)
  }

  test("stored-index search equals the one-shot answer (residual mode)") {
    val cf = Similarity.fitCoarseQuantizer(emb, nCentroids = 8)
    val pf = Similarity.fitResidualPqCodebooks(emb, cf, m = 8, ks = 8)
    val oneShot = Similarity.ivfPqTopK(emb, qs, k = 3,
      nCentroids = 8, nProbe = 4, m = 8, ks = 8, refine = 8,
      residual = true, coarseFitted = Some(cf), fitted = Some(pf))
    val dir = tmpDir("graft-vindex-residual")
    VectorIndex.write(emb, dir, m = 8, ks = 8, residual = true,
      coarseFitted = Some(cf), fitted = Some(pf))
    val fromIndex = VectorIndex.search(qs, dir, k = 3, nProbe = 4, refine = 8)
    assert(rows(fromIndex) == rows(oneShot))
  }

  test("auto nProbe rides the stored cell count") {
    val dir = tmpDir("graft-vindex-auto")
    VectorIndex.write(emb, dir, nCentroids = 0, m = 8, ks = 8)
    // auto cells at 500 vectors → 23; auto probes → ceil(3·√23) = 15 —
    // sanity: the search runs and fills k slots for every query
    val got = VectorIndex.search(qs, dir, k = 3, nProbe = 0, refine = 8)
    assert(got.groupBy("q_id").count().filter(col("count") =!= 3).isEmpty)
  }

  test("a torn index (one component rebuilt without restamping) fails loud") {
    val dir = tmpDir("graft-vindex-torn")
    VectorIndex.write(emb, dir, nCentroids = 8, m = 8, ks = 8)
    VectorIndex.search(qs, dir, k = 3, nProbe = 4, refine = 8).count()
    // simulate a crashed partial hand-rolled rebuild INSIDE the live
    // generation: codebooks rewritten alone — the parquet overwrite wipes
    // the generation stamp, and codes encoded against the OLD codebooks
    // would score garbage distances silently
    val gen = currentGenDir(dir)
    spark.read.parquet(s"$gen/codebooks")
      .write.mode("overwrite").parquet(s"$gen/codebooks.tmp")
    spark.read.parquet(s"$gen/codebooks.tmp")
      .write.mode("overwrite").parquet(s"$gen/codebooks")
    val e = intercept[IllegalStateException] {
      VectorIndex.search(qs, dir, k = 3, nProbe = 4, refine = 8)
    }
    assert(e.getMessage.contains("torn or stale"), e.getMessage)
    // appendBatch goes through the same choke point
    val e2 = intercept[IllegalStateException] {
      VectorIndex.appendBatch(emb.limit(5), dir, "bx")
    }
    assert(e2.getMessage.contains("torn or stale"))
  }

  test("appendBatch: incremental codes equal a from-scratch build with the same fits") {
    val cf = Similarity.fitCoarseQuantizer(emb, nCentroids = 8)
    val pf = Similarity.fitPqCodebooks(emb, m = 8, ks = 8)
    val first = emb.filter(col("vec_id") % 2 === 0)
    val second = emb.filter(col("vec_id") % 2 === 1)
    val incDir = tmpDir("graft-vindex-inc")
    VectorIndex.write(first, incDir, m = 8, ks = 8,
      coarseFitted = Some(cf), fitted = Some(pf))
    VectorIndex.appendBatch(second, incDir, "b1")
    val fullDir = tmpDir("graft-vindex-full")
    VectorIndex.write(emb, fullDir, m = 8, ks = 8,
      coarseFitted = Some(cf), fitted = Some(pf))
    // the appended half must carry the same (cluster, codes) the one-pass
    // build assigns — frozen fits make encode a pure map. load().codes is
    // the composed read (base + committed batches).
    val inc = VectorIndex.load(spark, incDir).codes
      .select(col("vid"), col("cluster"), col("codes").cast("array<int>"))
    val full = VectorIndex.load(spark, fullDir).codes
      .select(col("vid"), col("cluster"), col("codes").cast("array<int>"))
    assert(inc.count() == full.count())
    assert(inc.join(full, Seq("vid", "cluster", "codes")).count() == full.count())
    // and the search over the incrementally-built index equals the search
    // over the one-pass index
    val a = VectorIndex.search(qs, incDir, k = 3, nProbe = 4, refine = 8)
    val b = VectorIndex.search(qs, fullDir, k = 3, nProbe = 4, refine = 8)
    assert(rows(a) == rows(b))
  }

  test("a replayed batch id fails loud; batchIngested is the retry probe") {
    val dir = tmpDir("graft-vindex-replay")
    VectorIndex.write(emb.filter(col("vec_id") % 2 === 0), dir, m = 8, ks = 8)
    val batch = emb.filter(col("vec_id") % 2 === 1)
    assert(!VectorIndex.batchIngested(spark, dir, "day1"))
    VectorIndex.appendBatch(batch, dir, "day1")
    assert(VectorIndex.batchIngested(spark, dir, "day1"))
    val n = VectorIndex.load(spark, dir).codes.count()
    // the speculative-retry / crash-after-commit scenario: a blind
    // re-submit of the same batch id must fail loud, never double-encode
    val e = intercept[IllegalStateException] {
      VectorIndex.appendBatch(batch, dir, "day1")
    }
    assert(e.getMessage.contains("already ingested"), e.getMessage)
    assert(VectorIndex.load(spark, dir).codes.count() == n)
  }

  test("appendBatch refuses a batch of another dimensionality before staging it") {
    val dir = tmpDir("graft-vindex-dim")
    VectorIndex.write(emb.filter(col("vec_id") < 250), dir, m = 8, ks = 8)
    val dim = VectorIndex.load(spark, dir).dim
    val short = emb.filter(col("vec_id") >= 250)
      .select(col("vec_id"), slice(col("embedding"), 1, 8).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      VectorIndex.appendBatch(short, dir, "day1")
    }
    assert(e.getMessage.contains("appendBatch") &&
      e.getMessage.contains(s"index's $dim, got 8"), e.getMessage)
    assert(!VectorIndex.batchIngested(spark, dir, "day1"))
    assert(!new java.io.File(s"${currentGenDir(dir)}/batches").exists())
  }

  test("a crash mid-append leaves nothing visible (staging is invisible)") {
    val dir = tmpDir("graft-vindex-tornbatch")
    VectorIndex.write(emb.filter(col("vec_id") < 250), dir, m = 8, ks = 8)
    val n0 = VectorIndex.load(spark, dir).codes.count()
    // simulate the crash: a half-staged batch directory that never renamed
    val gen = currentGenDir(dir)
    val staged = new java.io.File(s"$gen/.batch-crashed.inprogress/codes")
    staged.mkdirs()
    assert(VectorIndex.load(spark, dir).codes.count() == n0)
    assert(!VectorIndex.batchIngested(spark, dir, "crashed"))
    assert(VectorIndex.liveBatchCount(spark, dir) == 0)
    // the retry restages whole and commits cleanly
    VectorIndex.appendBatch(emb.filter(col("vec_id") >= 250), dir, "crashed")
    assert(VectorIndex.batchIngested(spark, dir, "crashed"))
    assert(VectorIndex.load(spark, dir).codes.count() == emb.count())
  }

  test("compactIndex folds batches into the base; search and replay probes invariant") {
    val cf = Similarity.fitCoarseQuantizer(emb, nCentroids = 8)
    val pf = Similarity.fitPqCodebooks(emb, m = 8, ks = 8)
    val dir = tmpDir("graft-vindex-compact")
    VectorIndex.write(emb.filter(col("vec_id") % 3 === 0), dir, m = 8, ks = 8,
      coarseFitted = Some(cf), fitted = Some(pf))
    VectorIndex.appendBatch(emb.filter(col("vec_id") % 3 === 1), dir, "b1")
    VectorIndex.appendBatch(emb.filter(col("vec_id") % 3 === 2), dir, "b2")
    val before = VectorIndex.search(qs, dir, k = 3, nProbe = 4, refine = 8)
    val beforeRows = rows(before)
    assert(VectorIndex.liveBatchCount(spark, dir) == 2)
    VectorIndex.compactIndex(spark, dir)
    // batches folded into the base; the replay ledger keeps answering
    assert(VectorIndex.liveBatchCount(spark, dir) == 0)
    assert(VectorIndex.batchIngested(spark, dir, "b1"))
    assert(VectorIndex.batchIngested(spark, dir, "b2"))
    assert(rows(VectorIndex.search(qs, dir, k = 3, nProbe = 4, refine = 8))
      == beforeRows)
    // a replay of an absorbed batch still fails loud
    intercept[IllegalStateException] {
      VectorIndex.appendBatch(emb.filter(col("vec_id") % 3 === 1), dir, "b1")
    }
  }

  test("a crash mid-rewrite leaves the previous generation fully readable") {
    val dir = tmpDir("graft-vindex-crashgen")
    VectorIndex.write(emb.filter(col("vec_id") < 250), dir, m = 8, ks = 8)
    val answer = rows(VectorIndex.search(qs, dir, k = 3, nProbe = 4, refine = 8))
    // simulate a rebuild that crashed mid-stage: a half-written staging
    // directory beside the live generation — readers never list it
    val staged = new java.io.File(s"$dir/.gen-0000002.inprogress/params")
    staged.mkdirs()
    assert(rows(VectorIndex.search(qs, dir, k = 3, nProbe = 4, refine = 8))
      == answer)
    // and a completed rebuild-over-live publishes cleanly over the litter,
    // carrying the ledger (batch ids folded before the rebuild stay known)
    VectorIndex.appendBatch(emb.filter(col("vec_id") >= 250), dir, "pre")
    VectorIndex.write(emb, dir, m = 8, ks = 8)
    assert(VectorIndex.batchIngested(spark, dir, "pre"))
    assert(VectorIndex.load(spark, dir).codes.count() == emb.count())
  }
}
