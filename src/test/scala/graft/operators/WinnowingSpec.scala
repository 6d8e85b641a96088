package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class WinnowingSpec extends SparkSpec {
  import spark.implicits._

  /** Reference implementation of the selection on plain Scala, for
    * hand-verifiable parity: window minima over the k-gram PolyHashes,
    * ties → rightmost, distinct positions, distinct sorted hashes. */
  private def winnowRef(text: String, k: Int, w: Int): Seq[Long] = {
    def poly(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((h, b) => (h * 257 + (b & 0xff)) % 1000000007L)
    val ws = text.split(" ").filter(_.nonEmpty)
    val grams = ws.sliding(k).filter(_.length == k).map(_.mkString(" ")).toArray
    val hs = grams.map(poly)
    if (hs.length < w) Seq.empty
    else {
      val sel = (0 to hs.length - w).map { i =>
        var best = (Long.MaxValue, -1)
        for (j <- 0 until w) if (hs(i + j) <= best._1) best = (hs(i + j), i + j)
        best
      }.distinct
      sel.map(_._1).distinct.sorted
    }
  }

  test("selection matches the hand-rolled reference on varied texts") {
    val texts = Seq(
      "a b c d e f g h i j",
      "the cat sat on the mat the cat sat on the mat",
      "x x x x x x x x",                        // all-equal hashes: tie rule
      "one two three four five six seven",
      "short text",                              // fewer than k+w-1 words
      "")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Winnowing.fingerprints(df, k = 3, w = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == winnowRef(t, 3, 4), s"doc $i ('$t')")
    }
  }

  test("fused winnow_hashes equals the HOF selection formulation at every (k, w)") {
    // the r16 compiled pass (per-word hash + power combine + deque minima)
    // vs the zip_with formulation it replaced — including ties (repeated
    // words), sub-window docs, empty docs, and multi-byte UTF-8
    val texts = Seq(
      "a b c d e f g h i j k l m n",
      "x x x x x x x x x x",
      "the cat sat on the mat the cat sat on the mat again",
      "héllo wörld ünicode tèxt höre ätt mäta ööö üüü",
      "short", "", "one two",
      (1 to 300).map(i => s"t${i % 13}").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for ((k, w) <- Seq((3, 4), (2, 7), (1, 1), (5, 2), (4, 4))) {
      val fused = Winnowing.fingerprints(df, k, w)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
      val hs = transform(
        graft.functions.TextFunctions.shingles(
          graft.functions.TextFunctions.words(col("text")), k),
        g => graft.expressions.PolyHash(g))
      val hof = df.select(col("doc_id"), Winnowing.winnowSelect(hs, w).as("fps"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
      assert(fused == hof, s"(k=$k, w=$w)")
    }
  }

  test("the winnowing guarantee: shared runs of >= w+k-1 words always share a fingerprint") {
    // doc pairs embedding a common 6-word run (k=3, w=4 -> guarantee at 6)
    // inside otherwise-distinct text
    val common = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"unrelated prefix words here $common and some tail content"),
      (2L, s"totally different opening $common closing remarks differ"),
      (3L, "no shared content in this document at all whatsoever")
    ).toDF("doc_id", "text")
    val fps = Winnowing.fingerprints(docs, k = 3, w = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty, "guaranteed shared fingerprint missing")
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty)
  }

  test("density: selection keeps roughly 2/(w+1) of positions, far fewer than all k-grams") {
    val text = (1 to 400).map(i => s"w${i % 97}x$i").mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val nGrams = 400 - 3 + 1
    val nSel = Winnowing.fingerprints(df, k = 3, w = 8)
      .head().getSeq[Long](1).size
    // expected density 2/(w+1) = 0.22; allow slack either way but require
    // a real reduction against the full k-gram set
    assert(nSel < nGrams / 2, s"selected $nSel of $nGrams")
    assert(nSel > nGrams / 12, s"selected $nSel of $nGrams — too sparse to be winnowing")
  }

  test("overlapPairs finds the embedded near-dup pair and caps hot fingerprints") {
    val common = "alpha beta gamma delta epsilon zeta eta theta"
    val boiler = "standard footer text appears everywhere in every document"
    val docs = ((1 to 30).map(i => (i.toLong, s"unique body $i content piece $i tail $boiler")) ++
      Seq((101L, s"first variant $common more words after"),
        (102L, s"second variant $common other words trail")))
      .toDF("doc_id", "text")
    val pairs = Winnowing.overlapPairs(docs, k = 3, w = 4,
      minShared = 1, maxDocFreq = 5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((101L, 102L)), "embedded pair not found")
    // the 30 boilerplate docs share only hot fingerprints (df=30 > 5):
    // capped out, no quadratic pair blowup
    assert(pairs.forall { case (a, b) => a > 100L && b > 100L },
      s"boilerplate-only pairs leaked past the hot-fingerprint cap: $pairs")
  }

  test("incremental overlap vs a stored index equals the full run's cross pairs; index appends compose") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val hist = docs.filter(col("doc_id") < 250)
    val batch = docs.filter(col("doc_id") >= 250)
    val full = Winnowing.overlapPairs(docs, k = 3, w = 4,
      minShared = 2, maxDocFreq = 200)
      .select("doc_a", "doc_b", "n_shared")
      .as[(Long, Long, Long)].collect()
      // full run orders pairs (a < b); cross pairs have a < 250 <= b
      .filter { case (a, b, _) => a < 250 && b >= 250 }
      .map { case (a, b, n) => (b, a, n) }.toSet
    assert(full.nonEmpty, "no cross-split pairs — fixture vacuous")
    val idx = Winnowing.fingerprintIndex(hist, k = 3, w = 4)
    val inc = Winnowing.incrementalOverlapPairs(batch, idx, k = 3, w = 4,
      minShared = 2, maxDocFreq = 200)
      .select("new_id", "old_id", "n_shared")
      .as[(Long, Long, Long)].collect().toSet
    assert(inc == full,
      s"incremental diverged: missing=${(full -- inc).take(3)} extra=${(inc -- full).take(3)}")
    // appending the batch's postings IS the next index: a day-2 doc
    // overlapping a day-1 (batch) doc is found through the union index
    val day2 = batch.limit(1)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val unionIdx = idx.unionByName(
      Winnowing.fingerprintIndex(batch, k = 3, w = 4))
    val hits = Winnowing.incrementalOverlapPairs(day2, unionIdx,
      k = 3, w = 4, minShared = 2, maxDocFreq = 200)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    val d2id = day2.head().getLong(0)
    assert(hits.contains((d2id, d2id - 100000L)),
      s"day-2 copy of a day-1 doc not found through the appended index: $hits")
  }

  test("the stored fingerprint index round-trips; scheme mismatch and torn store fail loud") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val hist = docs.filter(col("doc_id") < 250)
    val root = tmpDir("win-idx")
    Winnowing.writeFingerprintIndex(hist, root, k = 3, w = 4)
    val stored = Winnowing.readFingerprintIndex(spark, root, k = 3, w = 4)
      .as[(Long, Int, Long)].collect().toSet
    val inline = Winnowing.fingerprintIndex(hist, k = 3, w = 4)
      .as[(Long, Int, Long)].collect().toSet
    assert(stored == inline)
    // probing with a different scheme would be a silently-EMPTY overlap —
    // the (k, w) pin turns it into an error naming the stored scheme
    val e = intercept[IllegalArgumentException] {
      Winnowing.readFingerprintIndex(spark, root, k = 5, w = 4)
    }
    assert(e.getMessage.contains("k=3"), e.getMessage)
    // a rebuild crashed mid-stage leaves only dot-prefixed litter — the
    // previous generation keeps serving (the r16 availability story)
    new java.io.File(s"$root/.gen-0000002.inprogress/postings").mkdirs()
    assert(Winnowing.readFingerprintIndex(spark, root, k = 3, w = 4)
      .as[(Long, Int, Long)].collect().toSet == inline)
    // a torn store (postings rewritten alone inside the live generation,
    // stamp wiped) fails loud
    val gen = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("gen-")).map(_.getPath).sorted.last
    spark.read.parquet(s"$gen/postings").limit(1)
      .write.mode("overwrite").parquet(s"$gen/postings.tmp")
    spark.read.parquet(s"$gen/postings.tmp")
      .write.mode("overwrite").parquet(s"$gen/postings")
    val e2 = intercept[IllegalStateException] {
      Winnowing.readFingerprintIndex(spark, root, k = 3, w = 4)
    }
    assert(e2.getMessage.contains("torn or stale"), e2.getMessage)
  }

  test("overlapPairs and incrementalOverlapPairs reject non-integral ids up front") {
    val strDocs = Seq(("a", "one two three four five six seven"),
      ("b", "one two three four five six eight")).toDF("doc_id", "text")
    val idx = Winnowing.fingerprintIndex(
      Seq((1L, "one two three four five six")).toDF("doc_id", "text"))
    for ((fn, call) <- Seq[(String, () => Any)](
        "overlapPairs" -> (() => Winnowing.overlapPairs(strDocs)),
        "incrementalOverlapPairs" ->
          (() => Winnowing.incrementalOverlapPairs(strDocs, idx)))) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(s"$fn: id column 'doc_id' must be integral"),
        e.getMessage)
    }
  }

  test("fingerprintIndex and the stored index writers reject non-integral ids up front") {
    // a string-id index used to build `did STRING` and fail mid-job with
    // CAST_INVALID_INPUT on its first incremental probe
    val strDocs = Seq(("a", "one two three four five six seven"))
      .toDF("doc_id", "text")
    val root = tmpDir("winnow-strid")
    Winnowing.writeFingerprintIndex(
      Seq((1L, "one two three four five six")).toDF("doc_id", "text"), root)
    for (call <- Seq[() => Any](
        () => Winnowing.fingerprintIndex(strDocs),
        () => Winnowing.writeFingerprintIndex(strDocs, s"$root-fresh"),
        () => Winnowing.appendIndex(strDocs, root, "day1"))) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(
        "fingerprintIndex: id column 'doc_id' must be integral"), e.getMessage)
    }
    assert(!Winnowing.batchIngested(spark, root, "day1"))
  }

  test("appendIndex: cross pairs through the appended index equal overlapPairs on the union, at every uneven cut") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val hist = docs.filter(col("doc_id") < 250)
    val root = tmpDir("win-append")
    Winnowing.writeFingerprintIndex(hist, root, k = 3, w = 4)
    // feed the rest in uneven committed batches; after each commit the
    // maintained index must answer EXACTLY like a from-scratch fingerprint
    // of everything ingested so far (the d51 oracle's contract)
    val cuts = Seq((250L, 300L, "c1"), (300L, 310L, "c2"), (310L, 420L, "c3"))
    for ((lo, hi, id) <- cuts) {
      Winnowing.appendIndex(
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi), root, id)
      val stored = Winnowing.readFingerprintIndex(spark, root, k = 3, w = 4)
        .as[(Long, Int, Long)].collect().toSet
      val fresh = Winnowing.fingerprintIndex(
          docs.filter(col("doc_id") < hi), k = 3, w = 4)
        .as[(Long, Int, Long)].collect().toSet
      assert(stored == fresh, s"index diverged after batch $id")
    }
    // the d51 probe through the appended index: a new batch's cross pairs
    // vs the maintained history equal overlapPairs on the union corpus
    // restricted to cross pairs
    val batch = docs.filter(col("doc_id") >= 420 && col("doc_id") < 500)
    val viaIndex = Winnowing.incrementalOverlapPairs(batch,
        Winnowing.readFingerprintIndex(spark, root, k = 3, w = 4),
        k = 3, w = 4, minShared = 2, maxDocFreq = 200)
      .select("new_id", "old_id", "n_shared").as[(Long, Long, Long)]
      .collect().toSet
    val unionAll: Set[(Long, Long, Long)] =
      Winnowing.overlapPairs(docs.filter(col("doc_id") < 500),
          k = 3, w = 4, minShared = 2, maxDocFreq = 200)
        .select("doc_a", "doc_b", "n_shared").as[(Long, Long, Long)]
        .collect().toSet
    val union = unionAll.collect { // keep cross pairs only, oriented (new, old)
      case (a, b, n) if a >= 420 && b < 420 => (a, b, n)
      case (a, b, n) if b >= 420 && a < 420 => (b, a, n)
    }
    assert(viaIndex == union)
    assert(viaIndex.nonEmpty, "no cross pairs — fixture vacuous")
    // compaction folds the three batches without changing any answer,
    // and absorbed batches still refuse replay
    assert(Winnowing.liveBatchCount(spark, root) == 3)
    val before = Winnowing.readFingerprintIndex(spark, root, k = 3, w = 4)
      .as[(Long, Int, Long)].collect().toSet
    Winnowing.compactIndex(spark, root)
    assert(Winnowing.liveBatchCount(spark, root) == 0)
    assert(Winnowing.readFingerprintIndex(spark, root, k = 3, w = 4)
      .as[(Long, Int, Long)].collect().toSet == before)
    assert(Winnowing.batchIngested(spark, root, "c2"))
    intercept[IllegalStateException] {
      Winnowing.appendIndex(
        docs.filter(col("doc_id") >= 300 && col("doc_id") < 310), root, "c2")
    }
  }

  test("appendIndex replay and crash: double-append fails loud, staged litter is invisible") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val root = tmpDir("win-replay")
    Winnowing.writeFingerprintIndex(
      docs.filter(col("doc_id") < 250), root, k = 3, w = 4)
    val batch = docs.filter(col("doc_id") >= 250 && col("doc_id") < 300)
    Winnowing.appendIndex(batch, root, "day1")
    val n = Winnowing.readFingerprintIndex(spark, root, k = 3, w = 4).count()
    // crash-after-commit replay: a blind re-submit must fail loud, never
    // double the batch's postings (n_shared would inflate silently)
    val e = intercept[IllegalStateException] {
      Winnowing.appendIndex(batch, root, "day1")
    }
    assert(e.getMessage.contains("already ingested"), e.getMessage)
    assert(Winnowing.readFingerprintIndex(spark, root, k = 3, w = 4).count() == n)
    // a crash mid-append leaves only an invisible staging dir
    val gen = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("gen-")).map(_.getPath).sorted.last
    new java.io.File(s"$gen/.batch-crashed.inprogress/postings").mkdirs()
    assert(Winnowing.readFingerprintIndex(spark, root, k = 3, w = 4).count() == n)
    assert(!Winnowing.batchIngested(spark, root, "crashed"))
    // rebuild-over-live supersedes base + batches and carries the ledger
    Winnowing.writeFingerprintIndex(
      docs.filter(col("doc_id") < 300), root, k = 3, w = 4)
    assert(Winnowing.batchIngested(spark, root, "day1"))
    assert(Winnowing.liveBatchCount(spark, root) == 0)
  }
}
