package graft.operators

import graft.SparkSpec
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._

case class TestDoc(doc_id: Long, text: String)
case class TestVec(vec_id: Long, embedding: Seq[Float])

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    TestDoc(1, "the quick brown fox jumps over the lazy dog"),
    TestDoc(2, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    TestDoc(3, "The  quick brown fox jumps over the lazy dog "), // normalized dup
    TestDoc(4, "the quick brown fox leaps over the lazy dog"), // near dup (1 word)
    TestDoc(5, "completely different content about spark engines here now")
  ).toDF()

  test("empty inputs: dedup degrades to empty, quantizer fit fails loud") {
    // Measured across the whole registry (r10): 156/160 queries yield
    // empty results on zero-row tables; the 4 exceptions are the
    // KMeans-fit ANN family, where an empty corpus is a caller error —
    // assert it surfaces as a CLEAR require, not mllib's "parameter k
    // given invalid value".
    val none = docs.limit(0)
    assert(Dedup.exact(none).count() == 0)
    assert(Dedup.minhashPairs(none).count() == 0)
    val noVecs = Seq.empty[TestVec].toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      Similarity.fitCoarseQuantizer(noVecs))
    assert(e.getMessage.contains("empty corpus"))
  }

  test("exact dedup groups identical texts, keeps min id") {
    val out = Dedup.exact(docs).collect()
    assert(out.length == 4) // 1+2 merge
    val dup = out.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keep_id") == 1)
  }

  test("normalized dedup also merges case/whitespace variants") {
    val out = Dedup.normalized(docs).collect()
    assert(out.length == 3) // 1+2+3 merge
    assert(out.find(_.getAs[Long]("n_copies") == 3).get.getAs[Long]("keep_id") == 1)
  }

  test("keepBest retains the highest-scoring copy per duplicate group") {
    val docs = Seq(
      (1L, "same text here", 10L), (2L, "same  TEXT here ", 99L), // dups, 2 scores higher
      (3L, "unique content", 5L)
    ).toDF("doc_id", "text", "n_chars")
    val kept = Dedup.keepBest(docs, scoreCol = "n_chars")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
  }

  test("incremental near-dup matches new batch against the stored index only") {
    // history: docs 1-2 (exact dups of each other); batch: 4 (near-dup of
    // 1), 5 (unrelated), 6 (exact copy of 1)
    val history = docs.filter($"doc_id" <= 2)
    val batch = docs.filter($"doc_id" >= 4)
      .unionAll(Seq(TestDoc(6, "the quick brown fox jumps over the lazy dog")).toDF())
    // bands = numHashes (one hash per band): catch probability 1-(1-s)^16,
    // and the xxhash64 family is deterministic, so the near-dup hit below
    // is a fixed property of these params, not a flaky draw (nh=8 is the
    // fixed 1.7%-tail draw that MISSES the s=0.4 pair — verified)
    val (bandIdx, shIdx) = Dedup.lshIndex(history, numHashes = 16, bands = 16)
    val out = Dedup.incrementalNeardupPairs(batch, bandIdx, shIdx,
      numHashes = 16, bands = 16, threshold = 0.4).collect()
    val pairs = out.map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("old_id"))).toSet
    assert(pairs.contains((6L, 1L)) && pairs.contains((6L, 2L))) // exact hits
    assert(pairs.contains((4L, 1L))) // near-dup hit
    assert(!pairs.exists(_._1 == 5L)) // unrelated stays clean
    assert(!pairs.exists(p => p._1 <= 2L)) // new_id is always from the batch
    val exact = out.find(r => r.getAs[Long]("new_id") == 6L &&
      r.getAs[Long]("old_id") == 1L).get
    assert(exact.getAs[Double]("jaccard") == 1.0)
  }

  test("jaccard pairs finds near-duplicates, not unrelated docs") {
    val pairs = Dedup.jaccardPairs(docs, shingleK = 3, threshold = 0.4)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(pairs.contains((1L, 2L))) // identical
    assert(pairs.contains((1L, 4L)) && pairs.contains((2L, 4L))) // near dup
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L)) // unrelated excluded
  }

  test("minhash LSH finds true near-dup pairs and verifies with exact jaccard") {
    val pairs = Dedup.minhashPairs(docs, numHashes = 8, bands = 4, threshold = 0.4)
      .collect()
    val ids = pairs.map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(ids.contains((1L, 2L)))
    val exactPair = pairs.find(r => r.getAs[Long]("a_id") == 1 && r.getAs[Long]("b_id") == 2).get
    assert(exactPair.getAs[Double]("jaccard") == 1.0)
    assert(!ids.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("substringSpans recovers shared passages as merged anchor spans") {
    // k=10 anchors; docs 1 and 2 share a 20-char passage at different
    // offsets -> each gets ONE merged span covering exactly those 20 chars
    val shared = "0123456789abcdefghij"
    val spanDocs = Seq(
      TestDoc(1, "xx" + shared + "yyyyyyyyyy"),
      TestDoc(2, "zzzzz" + shared + "wq"),
      TestDoc(3, "nothing in common with anybody else at all")
    ).toDF()
    val out = Dedup.substringSpans(spanDocs, k = 10).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_dup_spans"), r.getAs[Long]("dup_chars"))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == (1L, 20L) && out(2L) == (1L, 20L))
  }

  test("substringSpans: agg and window duplicate tests produce identical spans") {
    // same fixture shape as the shared-passage test plus within-doc
    // repetition, so both anchor sources (cross-doc and within-doc) are live
    val shared = "0123456789abcdefghij"
    val spanDocs = Seq(
      TestDoc(1, "xx" + shared + "yyyyyyyyyy"),
      TestDoc(2, "zzzzz" + shared + "wq"),
      TestDoc(3, "nothing in common with anybody else at all"),
      TestDoc(4, "MNOPQRSTUV__padding__MNOPQRSTUV")
    ).toDF()
    def rows(mode: String) =
      Dedup.substringSpans(spanDocs, k = 10, dupTestVia = mode).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_dup_spans"),
          r.getAs[Long]("dup_chars"))).toSet
    assert(rows("agg") == rows("window"))
    assert(rows("agg").map(_._1) == Set(1L, 2L, 4L))
    intercept[IllegalArgumentException] {
      Dedup.substringSpans(spanDocs, k = 10, dupTestVia = "bogus")
    }
  }

  test("substringSpans finds within-document repetition as separate spans") {
    // 12-char passage repeated twice inside one doc, separated by 16
    // repetition-free chars -> exactly two 12-char spans
    val rep = "ABCDEFGHIJKL"
    val doc = Seq(TestDoc(7, rep + "abcdefghijklmnop" + rep)).toDF()
    val out = Dedup.substringSpans(doc, k = 10).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_dup_spans") == 2L)
    assert(r.getAs[Long]("dup_chars") == 24L)
  }

  test("containmentPairs finds a short doc quoted inside a long one; Jaccard misses it") {
    val quote = "the quick brown fox jumps over the lazy dog"
    val wrapper = "intro words here " + quote + " plus much more trailing content " +
      "that keeps going and going with many extra unrelated words entirely " +
      "until the shared part is a small fraction of this long document overall"
    val cDocs = Seq(
      TestDoc(1, quote),
      TestDoc(2, wrapper),
      TestDoc(3, "nothing shared with any of the others at all here")
    ).toDF()
    val out = Dedup.containmentPairs(cDocs, shingleK = 3, threshold = 0.8)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("containment_a"), r.getAs[Double]("containment_b")))
    assert(out.length == 1)
    val (a, b, ca, cb) = out.head
    assert((a, b) == (1L, 2L))
    assert(ca == 1.0, "every shingle of the quote is inside the wrapper")
    assert(cb < 0.5, "the wrapper is NOT contained in the quote")
    // the symmetric measure would have rejected this pair
    val jac = Dedup.jaccardPairs(cDocs, shingleK = 3, threshold = 0.5).count()
    assert(jac == 0L, "Jaccard at 0.5 misses the quote-in-wrapper pair")
  }

  test("pair finders reject maxDocFreq < 1 by name, not with an analyzer error") {
    for ((fn, call) <- Seq[(String, Int => Any)](
        "jaccardPairs" -> (m => Dedup.jaccardPairs(docs, maxDocFreq = m)),
        "containmentPairs" -> (m => Dedup.containmentPairs(docs, maxDocFreq = m)),
        "simhashPairs" -> (m => Dedup.simhashPairs(docs, maxDocFreq = m)),
        "overlapPairs" -> (m => Winnowing.overlapPairs(docs, maxDocFreq = m)),
        "incrementalOverlapPairs" -> (m => Winnowing.incrementalOverlapPairs(
          docs, Winnowing.fingerprintIndex(docs), maxDocFreq = m)));
        m <- Seq(0, -1)) {
      val e = intercept[IllegalArgumentException](call(m))
      assert(e.getMessage.contains(s"$fn: maxDocFreq must be >= 1") &&
        e.getMessage.contains(s"got $m"), e.getMessage)
    }
  }

  test("collapseClusters keeps one best representative per cluster, singletons pass") {
    val cDocs = Seq(
      TestDoc(1, "short"),
      TestDoc(2, "the longest text in cluster one"),
      TestDoc(3, "mid length text"),
      TestDoc(4, "cluster two a"),
      TestDoc(5, "cluster two bb"),
      TestDoc(6, "alone and untouched")
    ).toDF()
    // clusters {1,2,3} (transitively via 1-2, 2-3) and {4,5}; 6 unpaired
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a_id", "b_id")
    val out = Dedup.collapseClusters(cDocs, pairs,
      better = Seq(length(col("text")).desc))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (Option(r.getAs[java.lang.Long]("comp")).map(_.toLong),
          r.getAs[Long]("cluster_size"))).toMap
    assert(out.keySet == Set(2L, 5L, 6L), s"kept: ${out.keySet}")
    assert(out(2L) == (Some(1L), 3L)) // longest of {1,2,3}, labeled min id
    assert(out(5L) == (Some(4L), 2L)) // longer of {4,5}
    assert(out(6L) == (None, 1L))     // singleton passes through
  }

  test("goldenRecord assembles the canonical record field-wise with deterministic ties") {
    val gDocs = Seq(
      (1L, "bb", "en", "s2"), // longest-tie candidate: same length as doc 2's
      (2L, "aa", "de", "s1"),
      (3L, "a longer body", "en", "s1"),
      (10L, "solo", "fr", "s9") // unpaired: no golden record here
    ).toDF("doc_id", "text", "lang", "source")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val out = Dedup.goldenRecord(gDocs, pairs,
      longest = Seq("text"), modal = Seq("lang", "source")).collect()
    assert(out.length == 1) // one cluster {1,2,3}; the singleton is absent
    val r = out.head
    assert(r.getAs[Long]("comp") == 1L && r.getAs[Long]("canon_id") == 1L
      && r.getAs[Long]("cluster_size") == 3L)
    assert(r.getAs[String]("text") == "a longer body") // longest member body
    assert(r.getAs[String]("lang") == "en")   // 2 en vs 1 de
    assert(r.getAs[String]("source") == "s1") // 2 s1 vs 1 s2
    // tie discipline: drop doc 3 → texts "aa" vs "bb" tie on length and
    // the lexicographically LARGER wins; langs en/de tie 1-1 and the
    // SMALLEST wins; sources s1/s2 tie and s1 wins
    val two = Dedup.goldenRecord(gDocs.filter(col("doc_id") =!= 3L),
      Seq((1L, 2L)).toDF("a_id", "b_id"),
      longest = Seq("text"), modal = Seq("lang", "source")).head()
    assert(two.getAs[String]("text") == "bb")
    assert(two.getAs[String]("lang") == "de")
    assert(two.getAs[String]("source") == "s1")
    intercept[IllegalArgumentException] { Dedup.goldenRecord(gDocs, pairs) }
  }

  test("goldenRecord modal vote: NULL never wins a tie, all-null cluster keeps NULL") {
    // cluster {1,2,3}: lang 'en' ×1 vs NULL ×2 — NULL sorts first in the
    // struct order, so unfiltered it would beat 'en' even OUTNUMBERED;
    // the golden record must carry the attested value. Cluster {7,8}:
    // lang entirely null — the record keeps NULL (nothing attested,
    // nothing invented) and the cluster must not vanish from the output.
    val gDocs = Seq(
      (1L, "x", Some("en")), (2L, "yy", None: Option[String]), (3L, "z", None),
      (7L, "pp", None), (8L, "q", None)
    ).toDF("doc_id", "text", "lang")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a_id", "b_id")
    val out = Dedup.goldenRecord(gDocs, pairs,
      longest = Seq("text"), modal = Seq("lang"))
      .collect().map(r => r.getAs[Long]("canon_id") ->
        Option(r.getAs[String]("lang"))).toMap
    assert(out == Map(1L -> Some("en"), 7L -> None), s"got $out")
  }

  test("chunk_md5s posting path equals the occurrence form's fingerprints") {
    // the r16 fused digest (word bytes streamed into md5, no chunk string)
    // vs md5(array_join(slice(...))) — partial final chunks, single-word
    // docs, multi-byte UTF-8, empty docs
    val texts = Seq(
      "a b c d e f g h i j k",                    // 8 + partial 3
      "exactly eight words make one whole chunk x", // exactly 8
      "tiny",
      "héllo wörld ünicode tèxt with ödd bytes in ït here too",
      "")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val fused = Dedup.chunkPostings(docs).as[(Long, String)].collect().toSet
    val ws = graft.functions.TextFunctions.words(col("text"))
    val nChunks = ceil(size(ws).cast("double") / 8).cast("int")
    val hof = docs.select(col("doc_id"),
        explode(when(size(ws) === 0, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(0), nChunks - 1),
            ci => array_join(slice(ws, ci * 8 + 1, lit(8)), " ")))).as("ctext"))
      .select(col("doc_id"), md5(col("ctext")).as("fp")).distinct()
      .as[(Long, String)].collect().toSet
    assert(fused == hof && fused.nonEmpty)
  }

  test("chunkShareEdges: star topology, within-doc repeats and unique chunks emit nothing") {
    // 8-word chunks; docs 1/2/3 share chunk A (hub = 1), doc 4 repeats
    // its own chunk B twice (no edge), doc 5 is all-unique (no edge)
    val a = "a b c d e f g h"
    val docs = Seq(
      (1L, s"$a one extra tail"),
      (2L, s"$a two different tail"),
      (3L, a),
      (4L, s"r s t u v w x y r s t u v w x y"),
      (5L, "entirely unique words only here")
    ).toDF("doc_id", "text")
    val e = Dedup.chunkShareEdges(docs)
      .as[(Long, Long)].collect().toSet
    assert(e == Set((2L, 1L), (3L, 1L)), s"got $e")
    // star preserves the closure: docs 2 and 3 are connected THROUGH the
    // hub even though they never pair directly
    val sym = Dedup.chunkShareEdges(docs)
      .unionAll(Dedup.chunkShareEdges(docs)
        .select(col("b_id").as("a_id"), col("a_id").as("b_id")))
    val reach = Graph.reachableFrom(sym, Seq(2L).toDF("id"),
      srcCol = "a_id", dstCol = "b_id")
      .select("node").as[Long].collect().toSet
    assert(reach == Set(1L, 2L, 3L), s"got $reach")
  }

  test("weightedChunkShareEdges: costs are chunk document frequencies; min-cost path beats hop count") {
    // chunk A shared by docs 1/2/3 (df 3, hub 1); chunk B by docs 3/4
    // (df 2, hub 3): spokes carry their chunk's df
    val a = "a b c d e f g h"
    val b = "p q r s t u v w"
    val docs = Seq(
      (1L, s"$a one extra tail"), (2L, s"$a two other tail"),
      (3L, s"$a $b"), (4L, b)).toDF("doc_id", "text")
    val we = Dedup.weightedChunkShareEdges(Dedup.chunkPostings(docs))
      .select("a_id", "b_id", "df").as[(Long, Long, Long)].collect().toSet
    assert(we == Set((2L, 1L, 3L), (3L, 1L, 3L), (4L, 3L, 2L)), s"got $we")
    // composed with shortestPaths from seed 2 — costs are PER HUB
    // ATTACHMENT (the star's edge unit): 2 → hub 1 pays df(A)=3,
    // 1 → 3 pays df(A)=3 again (3 is a spoke of A, not its hub),
    // 3 → 4 pays df(B)=2 (3 IS B's hub) — 0+3, 3+3, 6+2
    val sym = Dedup.weightedChunkShareEdges(Dedup.chunkPostings(docs))
      .select(col("a_id").as("src"), col("b_id").as("dst"), col("df"))
      .unionAll(Dedup.weightedChunkShareEdges(Dedup.chunkPostings(docs))
        .select(col("b_id").as("src"), col("a_id").as("dst"), col("df")))
    val dist = Graph.shortestPaths(sym, Seq(2L).toDF("node"), wCol = "df",
        rounds = 4).as[(Long, Long)].collect().toMap
    assert(dist == Map(2L -> 0L, 1L -> 3L, 3L -> 6L, 4L -> 8L), s"got $dist")
  }

  test("collapseClusters: stale pair ids absent from docs don't inflate sizes") {
    // ids 2 and 9 appear in pairs but not in docs (pre-filtered corpus /
    // stale pair table): cluster_size counts PRESENT docs only, and when
    // the would-be representative (longest text, id 9) is absent the best
    // present doc wins
    val cDocs = Seq(
      TestDoc(1, "present short"),
      TestDoc(3, "present and the longest remaining"),
      TestDoc(4, "other cluster")
    ).toDF()
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (4L, 5L)).toDF("a_id", "b_id")
    val out = Dedup.collapseClusters(cDocs, pairs,
      better = Seq(length(col("text")).desc))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("cluster_size")).toMap
    // cluster {1,2,3,9}: docs present = {1,3} → size 2, kept = 3 (longer)
    // cluster {4,5}: docs present = {4} → size 1, kept = 4
    assert(out == Map(3L -> 2L, 4L -> 1L), s"got $out")
  }

  test("simhash: identical docs collide, near-dups are close, unrelated far") {
    val sigs = docs.select($"doc_id", simhash(words($"text")).as("sig"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("sig")).toMap
    assert(sigs(1) == sigs(2))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1), sigs(4)) < ham(sigs(1), sigs(5)))
    val pairs = Dedup.simhashPairs(docs, maxHamming = 10, chunks = 4)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simhashPairs skips NULL ids instead of pairing them as id 0") {
    val text = "the quick brown fox jumps over the lazy dog"
    val withNull = Seq[(java.lang.Long, String)](
      (1L, text), (null, text), (3L, text)).toDF("doc_id", "text")
    val got = Dedup.simhashPairs(withNull).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Int]("hamming"))).toSet
    assert(got == Set((1L, 3L, 0)), s"got $got")
  }

  test("simhashPairs accepts the INT ids requireIntegralId admits") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      Dedup.simhashPairs(df, maxHamming = 10).collect()
        .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
          r.getAs[Int]("hamming"))).toSet
    val intIds = docs.select($"doc_id".cast("int").as("doc_id"), $"text")
    val got = pairs(intIds)
    assert(got.nonEmpty && got == pairs(docs), s"got $got")
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    TestVec(0, Seq(1f, 0f, 0f)),
    TestVec(1, Seq(0.9f, 0.1f, 0f)), // closest to 0
    TestVec(2, Seq(0f, 1f, 0f)),
    TestVec(3, Seq(0f, 0.9f, 0.1f)), // closest to 2
    TestVec(4, Seq(-1f, 0f, 0f))
  ).toDF()
  private val noVecs = vecs.filter($"vec_id" < 0)
  private val nullVecs = Seq(TestVec(7, null)).toDF()

  /** The typed empty top-k result, whichever path produced it. */
  private def assertEmptyTopK(out: org.apache.spark.sql.DataFrame): Unit = {
    assert(out.dtypes.toSeq == Seq("q_id" -> "LongType",
      "neighbor_id" -> "LongType", "sim" -> "DoubleType", "rank" -> "IntegerType"))
    assert(out.count() == 0)
  }

  /** A guarded `op` fails by name on a mixed dimensionality when it is
    * called, from its guard job. */
  private def assertMixedDimsAtCall(op: String)(run: => org.apache.spark.sql.DataFrame): Unit = {
    val e = intercept[IllegalArgumentException](run)
    assert(e.getMessage.contains(s"$op: ") && e.getMessage.contains("mixed dimensionality"),
      e.getMessage)
  }

  /** An `op` without a guard job builds its plan, then fails by name on a
    * mixed dimensionality when the result is collected. */
  private def assertMixedDimsInPlan(op: String)(run: => org.apache.spark.sql.DataFrame): Unit = {
    val out = run
    val e = intercept[Exception](out.collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage))
      .exists(m => m.contains(s"$op: ") && m.contains("mixed dimensionality")),
      e.getMessage)
  }

  test("every ANN top-k entry point rejects k < 1 by name, before any work") {
    val dir = tmpDir("graft-sim-k")
    VectorIndex.write(vecs, dir, nCentroids = 2, m = 3, ks = 2)
    // empty inputs too: they used to short-cut to an empty frame unchecked
    for (k <- Seq(0, -1); (corpus, queries) <- Seq((vecs, vecs), (noVecs, noVecs))) {
      val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
        "bruteForceTopK" -> (() => Similarity.bruteForceTopK(corpus, queries, k = k)),
        "filteredTopK" -> (() => Similarity.filteredTopK(corpus, queries, lit(true), k = k)),
        "ivfTopK" -> (() => Similarity.ivfTopK(corpus, queries, k = k, nCentroids = 2)),
        "pqTopK" -> (() => Similarity.pqTopK(corpus, queries, k = k, m = 3, ks = 2)),
        "ivfPqTopK" -> (() => Similarity.ivfPqTopK(corpus, queries, k = k,
          nCentroids = 2, m = 3, ks = 2)),
        "lshTopK" -> (() => Similarity.lshTopK(corpus, queries, k = k)),
        "VectorIndex.search" -> (() => VectorIndex.search(queries, dir, k = k)),
        "VectorIndex.search" -> (() => VectorIndex.searchLoaded(queries,
          VectorIndex.load(spark, dir), k = k)))
      for ((op, run) <- ops) {
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains(s"$op: k must be >= 1, got $k"), e.getMessage)
      }
    }
  }

  test("brute-force top-1 returns the true nearest neighbor") {
    // a NULL embedding, in the corpus or among the queries, scores NULL
    // and ranks last instead of failing the length check
    val withNull = Seq(TestVec(5, null)).toDF()
    for ((corpus, queries) <- Seq((vecs, vecs.filter($"vec_id" < 3)),
        (vecs.union(withNull), vecs.filter($"vec_id" < 3).union(withNull)))) {
      val out = Similarity.bruteForceTopK(corpus = corpus, queries = queries, k = 1)
        .collect().map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("neighbor_id")).toMap
      assert(out(0L) == 1L)
      assert(out(1L) == 0L)
      assert(out(2L) == 3L)
    }
  }

  test("brute-force top-k returns k ordered neighbors") {
    val out = Similarity.bruteForceTopK(
      corpus = vecs, queries = vecs.filter($"vec_id" === 0), k = 3).collect()
    assert(out.length == 3)
    val sims = out.map(_.getAs[Double]("sim"))
    assert(sims.sameElements(sims.sorted.reverse))
    assert(out.head.getAs[Long]("neighbor_id") == 1L)
  }

  test("LSH ANN returns true neighbors for same-bucket vectors") {
    val out = Similarity.lshTopK(
      corpus = vecs, queries = vecs.filter($"vec_id" === 0),
      k = 2, planes = 2, tables = 1).collect()
    // with 2 planes buckets are coarse: the near-identical vector must appear
    assert(out.map(_.getAs[Long]("neighbor_id")).contains(1L))
  }

  test("multi-table LSH strictly improves recall over one table at equal planes") {
    // Deterministic corpus (fixed seed) + deterministic hyperplanes
    // (xxhash64-derived): at 10 planes a single table under-recalls; a second
    // table with a DISJOINT plane set must recover neighbors the first
    // table's buckets split apart.
    // twin-pair corpus: vector i+60 is a small perturbation of vector i, so
    // each query's true top-1 neighbor is its twin — the near-dup regime LSH
    // is for (uniform random vectors have no meaningful neighbors to recall)
    val rnd = new scala.util.Random(11)
    val base = (0 until 60).map(_ => Seq.fill(8)(rnd.nextFloat() * 2 - 1))
    val corpus = (base ++ base.map(_.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f)))
      .zipWithIndex.map { case (v, i) => TestVec(i.toLong, v) }.toDF()
    val queries = corpus.filter($"vec_id" < 60)
    val truth = Similarity.bruteForceTopK(corpus, queries, k = 1)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(tables: Int): Double = {
      val got = Similarity.lshTopK(corpus, queries, k = 1, planes = 10, tables = tables)
        .select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val r1 = recall(1)
    val r2 = recall(2)
    assert(r2 > r1, s"tables=2 recall ($r2) not strictly above tables=1 ($r1)")
    assert(r2 >= 0.5, s"tables=2 recall unexpectedly low: $r2")
  }

  test("multi-probe strictly improves recall over single-probe at equal planes/tables") {
    val rnd = new scala.util.Random(11)
    val base = (0 until 60).map(_ => Seq.fill(8)(rnd.nextFloat() * 2 - 1))
    val corpus = (base ++ base.map(_.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f)))
      .zipWithIndex.map { case (v, i) => TestVec(i.toLong, v) }.toDF()
    val queries = corpus.filter($"vec_id" < 60)
    val truth = Similarity.bruteForceTopK(corpus, queries, k = 1)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(mp: Boolean): Double = {
      val got = Similarity.lshTopK(corpus, queries, k = 1, planes = 10,
        tables = 1, multiProbe = mp)
        .select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val single = recall(false)
    val multi = recall(true)
    assert(multi > single,
      s"multi-probe recall ($multi) not strictly above single-probe ($single)")
    assert(multi >= 0.5, s"multi-probe recall unexpectedly low: $multi")
  }

  test("margin-budget multi-probe results are a subset of full multi-probe at all-candidates k") {
    val rnd = new scala.util.Random(23)
    val base = (0 until 60).map(_ => Seq.fill(8)(rnd.nextFloat() * 2 - 1))
    val corpus = (base ++ base.map(_.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f)))
      .zipWithIndex.map { case (v, i) => TestVec(i.toLong, v) }.toDF()
    val queries = corpus.filter($"vec_id" < 30)
    // k = |corpus|: top-k truncation is a no-op, so the result IS the
    // candidate set — the budgeted probe sequence (exact bucket + the 4
    // closest-margin flips) must generate a subset of the full Hamming-1
    // sequence's candidates, and a strict subset of its probe volume
    def cands(budget: Int): Set[(Long, Long)] =
      Similarity.lshTopK(corpus, queries, k = 120, planes = 10,
        tables = 1, multiProbe = true, probeBudget = budget)
        .select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val budgeted = cands(4)
    val full = cands(0)
    assert(budgeted.subsetOf(full),
      s"budget-4 candidates not a subset: ${(budgeted -- full).take(3)}")
    assert(budgeted.nonEmpty)
  }

  test("margin-budget multi-probe keeps most of full multi-probe recall at half the probes") {
    val rnd = new scala.util.Random(11)
    val base = (0 until 60).map(_ => Seq.fill(8)(rnd.nextFloat() * 2 - 1))
    val corpus = (base ++ base.map(_.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f)))
      .zipWithIndex.map { case (v, i) => TestVec(i.toLong, v) }.toDF()
    val queries = corpus.filter($"vec_id" < 60)
    val truth = Similarity.bruteForceTopK(corpus, queries, k = 1)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(budget: Int): Double = {
      val got = Similarity.lshTopK(corpus, queries, k = 1, planes = 10,
        tables = 1, multiProbe = true, probeBudget = budget)
        .select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val budgeted = recall(4) // 5 probes/query vs full's 11
    val full = recall(0)
    assert(budgeted >= 0.5, s"margin-budget recall unexpectedly low: $budgeted")
    assert(budgeted >= full - 0.2,
      s"margin ordering lost too much recall: $budgeted vs full $full")
  }

  test("LSH ANN on an empty corpus returns an empty, correctly-typed result") {
    assertEmptyTopK(Similarity.lshTopK(corpus = noVecs, queries = vecs, k = 2))
    assertEmptyTopK(Similarity.lshTopK(corpus = nullVecs, queries = vecs, k = 2))
    assertEmptyTopK(Similarity.lshTopK(corpus = vecs, queries = noVecs, k = 2))
  }

  test("LSH ANN rejects mixed vector dimensionality instead of truncating") {
    // ArrayDot dots over min-length, so a ragged column would silently
    // produce wrong signatures — it must throw instead
    val ragged = Seq(
      TestVec(0L, Seq(1f, 2f, 3f)),
      TestVec(1L, Seq(1f, 2f, 3f, 4f))).toDF()
    val e = intercept[IllegalArgumentException] {
      Similarity.lshTopK(corpus = ragged, queries = ragged, k = 1)
    }
    assert(e.getMessage.contains("mixed dimensionality"))
  }

  test("PQ ANN with exact re-rank recovers true neighbors on a twin-pair corpus") {
    // same twin construction as the multi-table LSH test: vector i+60 is a
    // small perturbation of vector i, so the true top-1 is the twin
    val rnd = new scala.util.Random(23)
    val base = (0 until 60).map(_ => Seq.fill(16)(rnd.nextFloat() * 2 - 1))
    val corpus = (base ++ base.map(_.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f)))
      .zipWithIndex.map { case (v, i) => TestVec(i.toLong, v) }.toDF()
    val queries = corpus.filter($"vec_id" < 60)
    val truth = Similarity.bruteForceTopK(corpus, queries, k = 1)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.pqTopK(corpus, queries, k = 1, m = 4, ks = 16, refine = 8)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.8, s"PQ recall $recall below 0.8 on an easy twin corpus")
    // rank-1 rows carry the EXACT cosine of the re-ranked neighbor
    val sims = Similarity.pqTopK(corpus, queries, k = 1, m = 4, ks = 16, refine = 8)
      .filter($"q_id" === 0).collect()
    assert(sims.length == 1 && sims.head.getAs[Int]("rank") == 1)
  }

  test("PQ ANN on an empty corpus returns an empty, correctly-typed result") {
    assertEmptyTopK(Similarity.pqTopK(corpus = noVecs, queries = vecs, k = 2))
    // an all-NULL corpus has no vectors to fit codebooks on either
    assertEmptyTopK(Similarity.pqTopK(corpus = nullVecs, queries = vecs, k = 2, m = 3))
    assertEmptyTopK(Similarity.pqTopK(corpus = vecs, queries = noVecs, k = 2, m = 3))
  }

  test("IVFADC recovers true neighbors on a twin-pair corpus") {
    // same twin construction as the PQ test; cells must not split twins so
    // badly that the constant k·refine shortlist misses them
    val rnd = new scala.util.Random(23)
    val base = (0 until 60).map(_ => Seq.fill(16)(rnd.nextFloat() * 2 - 1))
    val corpus = (base ++ base.map(_.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f)))
      .zipWithIndex.map { case (v, i) => TestVec(i.toLong, v) }.toDF()
    val queries = corpus.filter($"vec_id" < 60)
    val truth = Similarity.bruteForceTopK(corpus, queries, k = 1)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.ivfPqTopK(corpus, queries, k = 1,
      nCentroids = 8, nProbe = 3, m = 4, ks = 16, refine = 8)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.7, s"IVFADC recall $recall below 0.7 on an easy twin corpus")
  }

  test("IVFADC candidates come only from probed cells and rank-1 rows are exact") {
    val out = Similarity.ivfPqTopK(
      corpus = vecs, queries = vecs.filter($"vec_id" === 0), k = 2,
      nCentroids = 2, nProbe = 2, m = 3, ks = 2, refine = 4).collect()
    // nProbe = nCentroids → every cell probed → exact re-rank must find the
    // true top-1 (vector 1), with its exact cosine
    assert(out.nonEmpty && out.head.getAs[Long]("neighbor_id") == 1L)
    val sim = out.head.getAs[Double]("sim")
    val expected = {
      val a = Seq(1.0, 0.0, 0.0); val b = Seq(0.9, 0.1, 0.0)
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    assert(math.abs(sim - expected) < 1e-6)
  }

  test("IVF auto-k (nCentroids <= 0) sizes cells at sqrt(n) and still recovers twins") {
    val rnd = new scala.util.Random(29)
    val base = (0 until 50).map(_ => Seq.fill(8)(rnd.nextFloat() * 2 - 1))
    val corpus = (base ++ base.map(_.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f)))
      .zipWithIndex.map { case (v, i) => TestVec(i.toLong, v) }.toDF()
    val queries = corpus.filter($"vec_id" < 50)
    val truth = Similarity.bruteForceTopK(corpus, queries, k = 1)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 100 vectors → ceil(sqrt(100)) = 10 cells; probe 5 of them
    val got = Similarity.ivfTopK(corpus, queries, k = 1,
      nCentroids = 0, nProbe = 5)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.6, s"auto-k IVF recall $recall below 0.6 on a twin corpus")
  }

  test("IVFADC full-auto mode (cells, probes, shortlist from cardinality) recovers twins") {
    val rnd = new scala.util.Random(37)
    val base = (0 until 50).map(_ => Seq.fill(8)(rnd.nextFloat() * 2 - 1))
    val corpus = (base ++ base.map(_.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f)))
      .zipWithIndex.map { case (v, i) => TestVec(i.toLong, v) }.toDF()
    val queries = corpus.filter($"vec_id" < 40)
    val truth = Similarity.bruteForceTopK(corpus, queries, k = 1)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // nCentroids=0 → 10 cells; nProbe=0 → ceil(3·√10)=10 (all, tiny n);
    // refine=0 → shortlist max(8, ceil(3·√100))=30 — the un-pinned call
    // shape for corpora of unknown scale
    for (res <- Seq(true, false)) {
      val got = Similarity.ivfPqTopK(corpus, queries, k = 1,
        nCentroids = 0, nProbe = 0, m = 4, ks = 16, refine = 0, residual = res)
        .select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = got.intersect(truth).size.toDouble / truth.size
      assert(recall >= 0.7,
        s"full-auto IVFADC (residual=$res) recall $recall below 0.7 on a twin corpus")
    }
  }

  test("IVFADC on an empty corpus returns an empty, correctly-typed result") {
    assertEmptyTopK(Similarity.ivfPqTopK(corpus = noVecs, queries = vecs, k = 2, m = 3))
    assertEmptyTopK(Similarity.ivfPqTopK(corpus = nullVecs, queries = vecs, k = 2, m = 3))
    assertEmptyTopK(Similarity.ivfPqTopK(corpus = vecs, queries = noVecs, k = 2,
      nCentroids = 2, m = 3))
  }

  test("IVF ANN and a stored-index search on empty queries return an empty, correctly-typed result") {
    assertEmptyTopK(Similarity.ivfTopK(vecs, noVecs, k = 2, nCentroids = 2))
    val dir = tmpDir("graft-sim-empty")
    VectorIndex.write(vecs, dir, nCentroids = 2, m = 3, ks = 2)
    assertEmptyTopK(VectorIndex.search(noVecs, dir, k = 2))
  }

  test("IVFADC rejects mixed vector dimensionality instead of truncating") {
    val ragged = Seq(
      TestVec(0L, Seq(1f, 2f, 3f)),
      TestVec(1L, Seq(1f, 2f, 3f, 4f))).toDF()
    val longQuery = Seq(TestVec(9L, Seq(1f, 0f, 0f, 1f))).toDF()
    assertMixedDimsAtCall("ivfPqTopK")(
      Similarity.ivfPqTopK(corpus = ragged, queries = ragged, k = 1, m = 1))
    assertMixedDimsAtCall("pqTopK")(
      Similarity.pqTopK(corpus = vecs, queries = longQuery, k = 1, m = 1))
    // the operators without a guard job: a query of another length than
    // the corpus (and so than ivfTopK's centroids) fails in the plan,
    // where ArrayDot would otherwise dot over the shorter array
    assertMixedDimsInPlan("bruteForceTopK")(
      Similarity.bruteForceTopK(corpus = ragged, queries = ragged, k = 1))
    assertMixedDimsInPlan("bruteForceTopK")(
      Similarity.bruteForceTopK(corpus = vecs, queries = longQuery, k = 1))
    assertMixedDimsInPlan("filteredTopK")(
      Similarity.filteredTopK(corpus = vecs, queries = longQuery, lit(true), k = 1))
    assertMixedDimsInPlan("ivfTopK")(
      Similarity.ivfTopK(corpus = vecs, queries = longQuery, k = 1, nCentroids = 2))
  }

  test("cellCapSample truncates dense cells at cap, keeps sparse cells whole") {
    // 1 and 2 are positive scalings of 0 → SAME cell (scale-invariant
    // signs); 3 is elsewhere. cap=2 must truncate the dense cell to its
    // two smallest ids and keep the sparse cell's single vector.
    val dense = Seq(
      TestVec(0L, Seq(1f, 0f, 0f, 0f)),
      TestVec(1L, Seq(2f, 0f, 0f, 0f)),
      TestVec(2L, Seq(0.5f, 0f, 0f, 0f)),
      TestVec(3L, Seq(0f, -1f, 0f, 0f))).toDF()
    val out = Similarity.cellCapSample(dense, cap = 2, planes = 2)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(out == Set(0L, 1L, 3L), s"got $out")
    // empty input keeps the schema
    val empty = Similarity.cellCapSample(dense.filter($"vec_id" < 0), cap = 2)
    assert(empty.columns.toSeq == Seq("vec_id", "cell") && empty.count() == 0)
  }

  test("contaminationFraction scores shared-shingle ratio per training doc") {
    val bench = "alpha beta gamma delta epsilon"
    val docs = Seq(
      TestDoc(10, bench), // benchmark doc (id % 10 == 0)
      TestDoc(1, bench + " zeta eta theta iota kappa"), // 5 of 10 shingles hit... compute below
      TestDoc(2, "completely different words that overlap nothing at all")
    ).toDF()
    val out = Dedup.contaminationFraction(docs,
      isBenchmark = col("doc_id") % 10 === 0, shingleK = 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_shared"))).toMap
    // doc 1: 10 words → 6 distinct 5-shingles, exactly 1 equals the
    // benchmark text itself
    assert(out(1L) == (6L, 1L))
    assert(out(2L)._2 == 0L, "zero-overlap doc present with zero shared")
    assert(!out.contains(10L), "benchmark docs are not scored")
  }

  test("semDedup drops cosine-duplicates to the lowest-id representative") {
    // 1 and 2 are positive scalings of 0 — cosine exactly 1 and, because
    // hyperplane signs are scale-invariant, the SAME cell by construction.
    // 3 is orthogonal to them: whatever cell it lands in, no companion
    // reaches tau, so it must survive.
    val dup = Seq(
      TestVec(0L, Seq(1f, 0f, 0f, 0f)),
      TestVec(1L, Seq(2f, 0f, 0f, 0f)),
      TestVec(2L, Seq(0.5f, 0f, 0f, 0f)),
      TestVec(3L, Seq(0f, 1f, 0f, 0f))).toDF()
    val out = Similarity.semDedup(dup, tau = 0.9, planes = 2)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Boolean]("kept"), Option(r.getAs[java.lang.Long]("rep_id"))))
      .toMap
    assert(out(0L) == (true, None), "lowest id of the neighborhood survives")
    assert(out(1L) == (false, Some(0L)))
    assert(out(2L) == (false, Some(0L)))
    assert(out(3L) == (true, None), "orthogonal vector must not be dropped")
  }

  test("semDedup is a one-shot prune: any lower-id companion drops, kept or not") {
    // 0 ~ 1 ~ 2 all mutually at cosine 1: 1 drops to 0, and 2 reports the
    // SMALLEST companion (0) even though 1 is also within tau — the drop
    // decision never waits on whether the companion itself survived.
    val chain = Seq(
      TestVec(0L, Seq(1f, 1f, 0f, 0f)),
      TestVec(1L, Seq(2f, 2f, 0f, 0f)),
      TestVec(2L, Seq(4f, 4f, 0f, 0f))).toDF()
    val out = Similarity.semDedup(chain, tau = 0.9, planes = 2)
      .filter(!$"kept").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("rep_id")).toMap
    assert(out == Map(1L -> 0L, 2L -> 0L))
  }

  test("semDedup on an empty input returns an empty, correctly-typed result") {
    val out = Similarity.semDedup(vecs.filter($"vec_id" < 0), tau = 0.5)
    assert(out.columns.toSeq == Seq("vec_id", "cell", "kept", "rep_id"))
    assert(out.count() == 0)
  }

  test("filteredTopK restricts neighborhoods to the predicate slice (pre-filter)") {
    // labels: 0 -> {0,1,2}, 1 -> {3}, so query 3 has NO same-label
    // neighbor — a post-filter would first rank cross-label rows and then
    // drop them; the pre-filter must return nothing for it
    val df = Seq(
      (0L, Seq(1f, 0f), 0), (1L, Seq(0.9f, 0.1f), 0), (2L, Seq(0f, 1f), 0),
      (3L, Seq(1f, 0f), 1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.filteredTopK(
      corpus = df, queries = df, filter = col("c.label") === col("q.label"), k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0L) == 1L, "nearest same-label neighbor")
    assert(!out.contains(3L),
      "query with no same-label companion gets no neighbors (pre-filter)")
    // every returned neighbor shares the query's label
    val all = Similarity.filteredTopK(
      corpus = df, queries = df, filter = col("c.label") === col("q.label"), k = 3)
      .collect()
    val labelOf = Map(0L -> 0, 1L -> 0, 2L -> 0, 3L -> 1)
    all.foreach(r =>
      assert(labelOf(r.getLong(0)) == labelOf(r.getLong(1))))
  }

  test("semDedup schema is identical for empty and non-empty int-typed ids") {
    val intIds = Seq((1, Seq(1f, 0f)), (2, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val full = Similarity.semDedup(intIds, tau = 0.9, planes = 2)
    val empty = Similarity.semDedup(intIds.filter($"vec_id" < 0), tau = 0.9, planes = 2)
    assert(full.schema == empty.schema,
      s"schema flips with emptiness:\n${full.schema}\nvs\n${empty.schema}")
  }

  test("sceneCuts reports energy jumps between consecutive frames only") {
    // frames of 4 bytes: "aaaa" (energy 388), "aaab" (389), "zzzz" (488),
    // "zzzz" (488) — with minDelta 50 only the aaab->zzzz seam is a cut
    val df = Seq((7L, "aaaaaaabzzzzzzzz")).toDF("doc_id", "txt")
      .withColumn("media", encode($"txt", "utf-8"))
    val out = Multimodal.sceneCuts(df, idCol = "doc_id", binCol = "media",
      frameBytes = 4, minDelta = 50L).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("cut_offset") == 8L)
    assert(out.head.getAs[Long]("delta") == 99L)
    // a single-frame payload has no previous frame, so no cuts
    val short = Seq((8L, "ab")).toDF("doc_id", "txt")
      .withColumn("media", encode($"txt", "utf-8"))
    assert(Multimodal.sceneCuts(short, idCol = "doc_id", binCol = "media",
      frameBytes = 4, minDelta = 0L).isEmpty)
  }

  test("keyframeDedup rejects string ids instead of nulling them away") {
    val df = Seq(("a", "xxxxyyyy")).toDF("doc_id", "txt")
      .withColumn("media", encode($"txt", "utf-8"))
    val e = intercept[IllegalArgumentException] {
      Multimodal.keyframeDedup(df, idCol = "doc_id", binCol = "media",
        frameBytes = 4, minShared = 1)
    }
    assert(e.getMessage.contains("integral"))
  }

  test("semDedup rejects mixed vector dimensionality instead of truncating") {
    val ragged = Seq(
      TestVec(0L, Seq(1f, 2f, 3f)),
      TestVec(1L, Seq(1f, 2f, 3f, 4f))).toDF()
    val e = intercept[IllegalArgumentException] {
      Similarity.semDedup(ragged, tau = 0.5)
    }
    assert(e.getMessage.contains("mixed dimensionality"))
  }

  test("cosine fold matches analytic value") {
    val df = Seq((Seq(3.0, 4.0), Seq(4.0, 3.0))).toDF("a", "b")
    val sim = df.select(cosine($"a", $"b").as("s")).head().getDouble(0)
    assert(math.abs(sim - 24.0 / 25.0) < 1e-12)
  }

  test("native ArrayDot is bit-identical to the HOF fold") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 50).map(_ =>
      (Seq.fill(64)(rnd.nextDouble() - 0.5), Seq.fill(64)(rnd.nextDouble() - 0.5)))
    val df = rows.toDF("a", "b")
    val out = df.select(dot($"a", $"b").as("native"), dotHof($"a", $"b").as("hof"))
      .collect()
    // exact bit equality: same left-to-right f64 accumulation
    assert(out.forall(r => r.getDouble(0) == r.getDouble(1)))
    // null propagation
    val nulls = df.limit(1).select(dot(lit(null).cast("array<double>"), $"b"))
    assert(nulls.head().isNullAt(0))
  }

  test("IVF ANN finds the true nearest neighbor when cells are probed") {
    val rnd = new scala.util.Random(3)
    // 3 well-separated clusters of 20 vectors each
    val base = Seq(Seq(10f, 0f, 0f), Seq(0f, 10f, 0f), Seq(0f, 0f, 10f))
    val vecs = (0 until 60).map { i =>
      val b = base(i % 3)
      TestVec(i.toLong, b.map(x => x + rnd.nextFloat() * 0.1f))
    }.toDF()
    // a query with a NULL embedding scores NULL instead of failing the
    // length check against the quantizer
    val queries = vecs.filter($"vec_id" < 3).union(Seq(TestVec(99L, null)).toDF())
    val (nullQ, rows) = Similarity.ivfTopK(queries = queries, corpus = vecs,
      k = 1, nCentroids = 3, nProbe = 1).collect().partition(_.getAs[Long]("q_id") == 99L)
    assert(nullQ.forall(_.isNullAt(2)), nullQ.mkString)
    val out = rows.map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("neighbor_id")).toMap
    // top-1 neighbor must come from the same cluster (id ≡ q_id mod 3)
    assert(out.size == 3)
    out.foreach { case (q, n) => assert(n % 3 == q % 3) }
  }

  test("PolyHash native expression matches a reference Scala fold") {
    val df = Seq("hello world", "", "abc").toDF("t")
    val got = df.select(graft.expressions.PolyHash($"t")).collect().map(_.getLong(0))
    def ref(s: String) = s.getBytes("UTF-8").foldLeft(0L)((h, b) =>
      (h * 257L + (b & 0xff)) % 1000000007L)
    assert(got.sameElements(Array(ref("hello world"), ref(""), ref("abc"))))
  }

  test("cosine near-dup pairs are symmetric-free (a < b) and thresholded") {
    val vecs = Seq(
      TestVec(1, Seq(1f, 0f)), TestVec(2, Seq(0.99f, 0.1f)), TestVec(3, Seq(0f, 1f))
    ).toDF()
    val out = Similarity.cosineNearDupPairs(vecs, threshold = 0.9)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
    assert(out.toSet == Set((1L, 2L)))
  }

  test("native PortableMinHash matches the HOF formulation exactly") {
    val docs = Seq(Seq("a b c", "b c d", "c d e"), Seq("x y z"), Seq.empty[String])
      .toDF("sh")
    val hof = aggregate(
      transform($"sh", s => transform(sequence(lit(0), lit(3)), i =>
        md5(concat(i.cast("string"), lit("|"), s)))),
      array_repeat(lit("g"), 4),
      (acc, hv) => zip_with(acc, hv, (a, b) => least(a, b)))
    val out = docs.select(
      graft.expressions.PortableMinHash($"sh", 4).as("native"), hof.as("hofv"))
      .collect()
    // non-empty shingle sets must agree element-wise
    out.take(2).foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
    assert(out(2).isNullAt(0)) // empty shingles → NULL signature
  }

  test("native PortableSimHash matches the HOF formulation bit-for-bit") {
    val docs = Seq("the quick brown fox", "spark scan join sort merge", "", "x")
      .toDF("text")
    val out = docs.select(
      simhashPortable(words($"text")).as("native"),
      simhashPortableHof(words($"text")).as("hof")).collect()
    assert(out.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("array_dot is SQL-callable after registration") {
    graft.GraftFunctions.register(spark)
    val r = spark.sql("SELECT array_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assert(r == 11.0)
  }

  test("native expression surface is SQL-callable: poly_hash / portable_minhash / portable_simhash") {
    graft.GraftFunctions.register(spark)
    val ph = spark.sql("SELECT poly_hash('abc') AS h").head().getLong(0)
    def ref(s: String) = s.getBytes("UTF-8").foldLeft(0L)((h, b) =>
      (h * 257L + (b & 0xff)) % 1000000007L)
    assert(ph == ref("abc"))
    val mh = spark.sql(
      "SELECT portable_minhash(array('a b c', 'b c d'), 4) AS sig").head().getSeq[String](0)
    assert(mh.length == 4)
    val sh = spark.sql(
      "SELECT portable_simhash(array('the', 'quick', 'fox')) AS sig").head().getLong(0)
    val dsl = Seq(Seq("the", "quick", "fox")).toDF("ws")
      .select(simhashPortable($"ws")).head().getLong(0)
    assert(sh == dsl)
    val ws = spark.sql(
      "SELECT word_shingles(array('a', 'b', 'c', 'd'), 2 + 1) AS sh")
      .head().getSeq[String](0)
    assert(ws == Seq("a b c", "b c d"))
  }
}

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: fewer than k words yields empty array") {
    val df = Seq("one two", "one two three four").toDF("text")
    val out = df.select(shingles(words($"text"), 3).as("sh")).collect()
    assert(out(0).getSeq[String](0).isEmpty)
    assert(out(1).getSeq[String](0) == Seq("one two three", "two three four"))
  }

  test("tokenCount: letter runs, digit runs, punctuation marks") {
    val df = Seq("hello, world 42!").toDF("text")
    // tokens: hello , world 42 !  → 5
    assert(df.select(tokenCount($"text")).head().getInt(0) == 5)
  }

  test("langGuess picks the language with most stopword hits") {
    val df = Seq("the cat and the dog", "el gato y la casa", "der hund und das haus")
      .toDF("text")
    val out = df.select(langGuess(words($"text"))).collect().map(_.getString(0))
    assert(out.sameElements(Array("en", "es", "de")))
  }

  test("quality score is bounded and favors diverse long docs") {
    val df = Seq("a a a a", "the quick brown fox jumps over lazy dogs today quite happily indeed with much vigor and considerable delight overall")
      .toDF("text")
    val out = df.select(qualityScore(words($"text"))).collect().map(_.getDouble(0))
    assert(out.forall(s => s >= 0.0 && s <= 1.0))
    assert(out(1) > out(0))
  }

  test("fingerprint is whitespace/case insensitive") {
    val df = Seq(("A  b C", "a b c")).toDF("x", "y")
    val r = df.select(fingerprint($"x").as("fx"), fingerprint($"y").as("fy")).head()
    assert(r.getString(0) == r.getString(1))
  }
}

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("parquet/jsonl/csv/orc sinks round-trip") {
    val dir = tmpDir("graft-sinks")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    graft.sources.Sinks.parquet(df, s"$dir/p")
    graft.sources.Sinks.jsonl(df, s"$dir/j")
    graft.sources.Sinks.csv(df, s"$dir/c")
    graft.sources.Sinks.orc(df, s"$dir/o")
    assert(spark.read.parquet(s"$dir/p").collect().length == 2)
    assert(spark.read.json(s"$dir/j").collect().length == 2)
    assert(spark.read.option("header", "true").csv(s"$dir/c").collect().length == 2)
    assert(graft.sources.Sources.orc(spark, s"$dir/o").collect().length == 2)
  }

  test("foreachSink runs open/send/close per partition") {
    SinkState.sent.set(0); SinkState.opened.set(0); SinkState.closed.set(0)
    val df = Seq.tabulate(10)(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(2)
    graft.sources.Sinks.foreachSink(df)(() => SinkState.opened.incrementAndGet()) {
      (_, _) => SinkState.sent.incrementAndGet(); ()
    }(_ => SinkState.closed.incrementAndGet())
    assert(SinkState.sent.get() == 10)
    assert(SinkState.opened.get() == 2) // once per partition
    assert(SinkState.closed.get() == SinkState.opened.get())
  }
}

object SinkState {
  val sent = new java.util.concurrent.atomic.AtomicInteger(0)
  val opened = new java.util.concurrent.atomic.AtomicInteger(0)
  val closed = new java.util.concurrent.atomic.AtomicInteger(0)
}

class SourcesSpec extends SparkSpec {

  test("textLines drops blank lines") {
    val dir = new java.io.File(tmpDir("graft-src"))
    val f = new java.io.File(dir, "a.txt")
    val w = new java.io.PrintWriter(f)
    w.println("hello"); w.println("   "); w.println(""); w.println("world")
    w.close()
    val out = graft.sources.Sources.textLines(spark, f.getPath).collect()
    assert(out.map(_.getString(0)).toSet == Set("hello", "world"))
  }

  test("partitioned parquet layout prunes non-matching partitions at the scan") {
    val dir = tmpDir("graft-part")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    graft.sources.Sinks.parquetPartitioned(docs, s"$dir/docs", Seq("lang"))
    val langs = docs.select("lang").distinct().collect().map(_.getString(0))
    assert(langs.length > 1) // pruning must have something to prune
    val one = spark.read.parquet(s"$dir/docs")
      .filter(org.apache.spark.sql.functions.col("lang") === langs.head)
    assert(one.count() == docs.filter(
      org.apache.spark.sql.functions.col("lang") === langs.head).count())
    val scan = one.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .get
    // the partition filter reached the scan and directory pruning happened
    assert(scan.partitionFilters.nonEmpty)
    assert(scan.relation.location.inputFiles.length.toLong > // all partitions...
      scan.selectedPartitions.totalNumberOfFiles)            // ...vs selected
  }

  test("dynamic partition overwrite replaces only the written partitions (daily-ingest contract)") {
    import spark.implicits._
    val dir = tmpDir("graft-dpo")
    def rows(p: String): Set[(Int, Long)] =
      spark.read.parquet(p).select("day", "id").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet
    // backfill: days 1-3
    graft.sources.Sinks.parquetPartitioned(
      Seq((1, 10L), (2, 20L), (3, 30L)).toDF("day", "id"), dir, Seq("day"))
    assert(rows(dir) == Set((1, 10L), (2, 20L), (3, 30L)))
    // steady-state ingest: re-run day 2 (idempotent replace) + new day 4;
    // days 1 and 3 must be untouched — |today| cost, not |history|
    graft.sources.Sinks.parquetPartitionedUpsert(
      Seq((2, 21L), (4, 40L)).toDF("day", "id"), dir, Seq("day"))
    assert(rows(dir) == Set((1, 10L), (2, 21L), (3, 30L), (4, 40L)))
    // contrast: a STATIC overwrite of the same frame drops days 1/3 —
    // the reason the upsert form exists
    graft.sources.Sinks.parquetPartitioned(
      Seq((2, 22L)).toDF("day", "id"), dir, Seq("day"))
    assert(rows(dir) == Set((2, 22L)))
  }

  test("localFiles filters by postfix and exposes basename id") {
    val dir = new java.io.File(tmpDir("graft-files"))
    for (n <- Seq("x.json", "y.json", "z.txt", ".hidden.json")) {
      val w = new java.io.PrintWriter(new java.io.File(dir, n)); w.print("{}"); w.close()
    }
    val out = graft.sources.Sources.localFiles(spark, dir.getPath, ".json").collect()
    assert(out.map(_.getAs[String]("id")).toSet == Set("x.json", "y.json"))
  }

  test("schema evolution contract: ADDITIVE columns merge, type WIDENING fails loud") {
    // sv01's documented boundary: parquet schema merging reconciles new
    // columns (old rows -> NULL) but an int->long retype of an EXISTING
    // column is a conflict, not a silent cast — widening means rewriting
    // or view-casting, never mergeSchema. Pin both sides.
    import spark.implicits._
    val dir = tmpDir("graft-sev")
    Seq((1, "a")).toDF("id", "x").write.parquet(s"$dir/t/g=1")
    Seq((2L, "b", 9.0)).toDF("id", "x", "extra").write.parquet(s"$dir/t2/g=1")
    // additive: ok
    Seq((3, "c", 1.5)).toDF("id", "x", "extra").write.parquet(s"$dir/t/g=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/t")
    assert(merged.columns.toSet == Set("id", "x", "extra", "g"))
    assert(merged.filter(col("extra").isNull).count() == 1)
    // widening: int id vs long id -> loud failure at read/merge time
    Seq((4, "d", 2.5)).toDF("id", "x", "extra").write.parquet(s"$dir/t2/g=2")
    val ex = intercept[Exception] {
      spark.read.option("mergeSchema", "true").parquet(s"$dir/t2").collect()
    }
    assert(ex.getMessage != null)
  }
}
