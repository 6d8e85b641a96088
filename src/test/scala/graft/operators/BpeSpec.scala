package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Independent plain-Scala reference: greedy left-to-right merge of one
    * pair in a symbol list. */
  private def applyMerge(syms: List[String], a: String, b: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toList
  }

  /** Independent reference BPE trainer over (word, freq). */
  private def refBpe(vocab: Map[String, Long], rounds: Int): Seq[(Int, String, String, Long)] = {
    var segs = vocab.map { case (w, f) => (w.map(_.toString).toList, f) }.toList
    val merges = scala.collection.mutable.ListBuffer[(Int, String, String, Long)]()
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      segs.foreach { case (s, f) =>
        s.zip(s.drop(1)).foreach(p => counts(p) = counts.getOrElse(p, 0L) + f)
      }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), c) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        merges += ((r, a, b, c))
        segs = segs.map { case (s, f) => (applyMerge(s, a, b), f) }
      }
      r += 1
    }
    merges.toSeq
  }

  test("learned merges match an independent reference trainer on real-ish text") {
    val docs = Seq(
      "low low low low low", "lower lower",
      "newest newest newest newest newest newest",
      "widest widest widest").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = Bpe.learnMerges(spark, docs, rounds = 6)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    val vocab = docs.as[(Long, String)].collect()
      .flatMap(_._2.split(" ")).groupBy(identity)
      .map { case (w, ws) => (w, ws.length.toLong) }
    assert(got == refBpe(vocab, 6))
    assert(got.nonEmpty)
  }

  test("greedy left-to-right: aaaa merges to [aa,aa] then [aaaa], and training stops when no pairs remain") {
    val docs = Seq((0L, "aaaa")).toDF("doc_id", "text")
    val got = Bpe.learnMerges(spark, docs, rounds = 5)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    // round 0: (a,a) appears 3 times in a-a-a-a; greedy apply -> [aa, aa]
    // round 1: (aa,aa) once -> [aaaa]; round 2: no pairs -> stop at 2 rows
    assert(got == Seq((0, "a", "a", 3L), (1, "aa", "aa", 1L)))
  }

  test("ties break to the lexicographically smallest pair") {
    val docs = Seq((0L, "ab ab cd cd")).toDF("doc_id", "text")
    val got = Bpe.learnMerges(spark, docs, rounds = 1)
      .as[(Int, String, String, Long)].collect()
    assert(got.head == ((0, "a", "b", 2L)))
  }

  test("partitioning-independent: repartitioned corpus learns identical merges") {
    val docs = spark.range(200).select(col("id").as("doc_id"),
      concat(lit("the quick brown fox jumps over thing "),
        col("id").cast("string")).as("text"))
    val a = Bpe.learnMerges(spark, docs, rounds = 4)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    val b = Bpe.learnMerges(spark, docs.repartition(13), rounds = 4)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(a == b)
  }

  test("tokenCounts: segment lengths from the trained vocab, per-doc sums exact") {
    val docs = Seq((0L, "low low lowest"), (1L, "low")).toDF("doc_id", "text")
    val vocab = Map("low" -> 2L, "lowest" -> 1L)
    val merges = refBpe(vocab, 3).map(m => (m._2, m._3))
    // independently segment each word with the reference merges
    val segLen = vocab.keys.map { w =>
      var s = w.map(_.toString).toList
      merges.foreach { case (a, b) => s = applyMerge(s, a, b) }
      (w, s.length.toLong)
    }.toMap
    val got = Bpe.tokenCounts(docs, rounds = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (d, w, c, t) => (d, (w, c, t)) }.toMap
    assert(got(0L) == ((3L, 12L, 2 * segLen("low") + segLen("lowest"))))
    assert(got(1L) == ((1L, 3L, segLen("low"))))
  }

  test("stored artifact round-trips, and OOV words fall back to character count") {
    val train = Seq((0L, "low low low lowest")).toDF("doc_id", "text")
    val path = tmpDir("bpe-spec")
    Bpe.fitAndStore(train, path, rounds = 3)
    val merges = Bpe.storedMerges(spark, path)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(merges == refBpe(Map("low" -> 3L, "lowest" -> 1L), 3))
    // "zzz" was never seen: its 3 chars count as 3 tokens
    val crawl = Seq((9L, "low zzz")).toDF("doc_id", "text")
    val got = Bpe.tokenCountsWithVocab(crawl, Bpe.storedVocab(spark, path))
      .as[(Long, Long, Long, Long)].collect().head
    val lowLen = {
      var s = List("l", "o", "w")
      merges.foreach { case (_, a, b, _) => s = applyMerge(s, a, b) }
      s.length.toLong
    }
    assert(got == ((9L, 2L, 6L, lowLen + 3L)))
  }

  test("driftMonitor: OOV share, in-vocab token rate, and delta vs the trainer's own rate") {
    // train on "aa aa bb": one merge round learns (a,a); aa → 1 token,
    // bb → 2 tokens; ref rate = 1e6·(2·1 + 1·2) div 3 = 1333333
    val train = Seq((0L, "aa aa bb")).toDF("doc_id", "text")
    val path = tmpDir("bpe-drift")
    Bpe.fitAndStore(train, path, rounds = 1)
    val vocab = Bpe.storedVocab(spark, path)
    val batch = Seq(
      ("g1", "aa bb aa"), // all in-vocab: 4 tokens / 3 words
      ("g2", "aa zz"),    // one OOV word
      ("g3", "zz qq")     // everything OOV: rates must be NULL, not 0
    ).toDF("source", "text")
    val got = Bpe.driftMonitor(batch, vocab)
      .as[(String, Long, Long, Long, Option[Long], Long, Option[Long])]
      .collect().map(r => (r._1, r)).toMap
    assert(got("g1") == (("g1", 3L, 0L, 0L, Some(1333333L), 1333333L, Some(0L))))
    assert(got("g2") == (("g2", 2L, 1L, 500000L, Some(1000000L), 1333333L, Some(-333333L))))
    assert(got("g3") == (("g3", 2L, 2L, 1000000L, None, 1333333L, None)))
  }
}
