package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Retrieval operators: BM25 ranking against a brute-force in-memory
  * scorer, tf-idf keyword extraction against hand-computed expectations,
  * the maxDfFrac stopword hatch, and the no-window plan shape. */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "spark engine fast fast fast"),
    (2L, "spark engine slow"),
    (3L, "vector search engine"),
    (4L, "fast vector index probe"),
    (5L, "the the the the the") // stopword-only doc
  ).toDF("doc_id", "text")

  /** Brute-force BM25 with the same rational-idf + integer-millionth
    * quantization, computed entirely in Scala collections. */
  private def bruteBm25(
      corpus: Seq[(Long, String)],
      queries: Seq[(Long, String)],
      k1: Double = 1.2, b: Double = 0.75): Map[(Long, Long), Long] = {
    val toks = corpus.map { case (id, t) =>
      id -> t.split(" ").filter(_.nonEmpty).toSeq }.toMap
    val n = corpus.size.toLong
    val totdl = toks.values.map(_.size.toLong).sum
    val dfm = toks.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toLong }
    val out = scala.collection.mutable.Map[(Long, Long), Long]()
    for ((qid, term) <- queries; (did, ws) <- toks) {
      val tf = ws.count(_ == term).toLong
      if (tf > 0) {
        val df = dfm(term)
        val dl = ws.size.toLong
        val r = (dl * n).toDouble / totdl.toDouble
        val idf = (n.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5)
        val contrib = math.floor(((idf * (tf.toDouble * (k1 + 1.0))) /
          (tf.toDouble + (k1 * ((1.0 - b) + (b * r))))) * 1000000L).toLong
        out((qid, did)) = out.getOrElse((qid, did), 0L) + contrib
      }
    }
    out.toMap
  }

  test("bm25TopK matches the brute-force scorer, ranks and ties by doc_id") {
    val corpus = Seq(
      1L -> "spark engine fast fast fast", 2L -> "spark engine slow",
      3L -> "vector search engine", 4L -> "fast vector index probe",
      5L -> "the the the the the")
    val qs = Seq((1L, "spark"), (1L, "fast"), (2L, "vector"))
    val got = Retrieval.bm25TopK(docs, qs.toDF("qid", "term"), k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val expScores = bruteBm25(corpus, qs)
    // every returned score equals the brute-force sum
    got.foreach { case (qid, did, _, s) =>
      assert(expScores((qid, did)) == s, s"score mismatch for ($qid, $did)") }
    // ranking is score desc, doc_id asc, dense from 1 per query
    got.groupBy(_._1).foreach { case (_, rows) =>
      val byRnk = rows.sortBy(_._3).toSeq
      assert(byRnk.map(_._3) == (1 to rows.length).toSeq)
      assert(byRnk.map(r => (-r._4, r._2)) ==
        byRnk.map(r => (-r._4, r._2)).sorted)
    }
    // only term-sharing docs appear: qid=2 ("vector") never scores doc 1/2/5
    assert(!got.exists(r => r._1 == 2L && Set(1L, 2L, 5L)(r._2)))
  }

  test("bm25TopK k truncates per query") {
    val qs = Seq((1L, "engine")).toDF("qid", "term")
    val got = Retrieval.bm25TopK(docs, qs, k = 2).collect()
    assert(got.length == 2) // 3 docs contain "engine", k=2 survive
  }

  test("maxDfFrac prunes stopword terms from scoring") {
    // "engine" is in 3/5 docs (df frac 0.6): pruned at 0.5. A query of
    // ("engine", "probe") must then equal the query of just "probe".
    val both = Retrieval.bm25TopK(docs,
      Seq((1L, "engine"), (1L, "probe")).toDF("qid", "term"),
      k = 10, maxDfFrac = 0.5).collect()
      .map(r => (r.getLong(1), r.getLong(3))).sorted
    val only = Retrieval.bm25TopK(docs,
      Seq((1L, "probe")).toDF("qid", "term"), k = 10).collect()
      .map(r => (r.getLong(1), r.getLong(3))).sorted
    assert(both.sameElements(only))
  }

  test("tfidfKeywords picks rare terms over stopwords, ties break term DESC") {
    val out = Retrieval.tfidfKeywords(docs, k = 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // doc 4: all four terms distinct tf=1; "probe" and "index" are unique
    // to it (df=1, max idf) and tie on score -> larger term first
    assert(out(4L).take(2) == Seq("probe", "index"))
    // doc 5: only "the" (df=1 since no other doc has it) -> sole keyword
    assert(out(5L) == Seq("the"))
    // doc 1: "fast" tf=3 df=2 outranks "spark"/"engine"
    assert(out(1L).head == "fast")
  }

  test("tfidfKeywords maxDfFrac drops corpus-wide terms entirely") {
    val wide = Seq(
      (1L, "common rare1 common"), (2L, "common rare2"), (3L, "common rare3")
    ).toDF("doc_id", "text")
    val out = Retrieval.tfidfKeywords(wide, k = 5, maxDfFrac = 0.5).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L) == Seq("rare1"))
    assert(out(2L) == Seq("rare2"))
    assert(!out.values.exists(_.contains("common")))
  }

  test("bm25SearchIndexed over the stored index equals the inline bm25TopK") {
    val qs = Seq((1L, "spark"), (1L, "fast"), (2L, "vector"), (3L, "engine"))
      .toDF("qid", "term")
    val inline = Retrieval.bm25TopK(docs, qs, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val (postings, dfT, stats) = Retrieval.bm25Index(docs)
    val indexed = Retrieval.bm25SearchIndexed(postings, dfT, stats, qs, k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(indexed == inline)
  }

  test("the stored BM25 index round-trips exactly; a torn store fails loud") {
    val qs = Seq((1L, "spark"), (1L, "fast"), (2L, "vector"), (3L, "engine"))
      .toDF("qid", "term")
    val inline = Retrieval.bm25TopK(docs, qs, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val root = tmpDir("bm25-idx")
    Retrieval.writeBm25Index(docs, root)
    val (p, d, st) = Retrieval.readBm25Index(spark, root)
    val stored = Retrieval.bm25SearchIndexed(p, d, st, qs, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(stored == inline)
    // a rebuild that crashed mid-stage leaves only dot-prefixed litter —
    // the previous generation keeps serving (the r16 availability story)
    new java.io.File(s"$root/.gen-0000002.inprogress/postings").mkdirs()
    val (p2, d2, st2) = Retrieval.readBm25Index(spark, root)
    assert(Retrieval.bm25SearchIndexed(p2, d2, st2, qs, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet == inline)
    // simulate a crashed partial HAND-ROLLED rebuild inside the live
    // generation: df rewritten alone — BM25 scored with yesterday's df
    // against today's postings is silently mis-ranked, so the read must
    // fail loud instead
    val gen = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("gen-")).map(_.getPath).sorted.last
    spark.read.parquet(s"$gen/df")
      .write.mode("overwrite").parquet(s"$gen/df.tmp")
    spark.read.parquet(s"$gen/df.tmp")
      .write.mode("overwrite").parquet(s"$gen/df")
    val e = intercept[IllegalStateException] {
      Retrieval.readBm25Index(spark, root)
    }
    assert(e.getMessage.contains("torn or stale"), e.getMessage)
  }

  test("hybridRrfTopK fuses ranks; single-arm docs get single contributions") {
    // Embeddings: ids 1..4 share doc ids with the corpus. Query 0's
    // vector is axis-aligned so cosine ranks are knowable: doc 2 ~ e1,
    // doc 3 ~ e2, doc 4 mixed. Doc 5 has no embedding (lex-only);
    // doc 2 has no query terms in text? (it does: "spark engine slow").
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)), // query vec
      (2L, Seq(0.9f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)),
      (4L, Seq(0.5f, 0.5f, 0.0f))
    ).toDF("vec_id", "embedding")
    val qt = Seq((0L, "probe")).toDF("qid", "term") // only doc 4 lexically
    val out = Retrieval.hybridRrfTopK(
      docs, emb, qt, emb.filter(col("vec_id") === 0L), k = 10, poolK = 5)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getLong(3)))
    val byDoc = out.map(r => r._1 -> r._3).toMap
    // vector ranks for q0: doc2 (rank 1), doc4 (rank 2), doc3 (rank 3);
    // lexical: doc4 rank 1 only. RRF with rrfK=60:
    assert(byDoc(4L) == 1000000L / 61 + 1000000L / 62) // lex 1 + vec 2
    assert(byDoc(2L) == 1000000L / 61)                 // vec 1 only
    assert(byDoc(3L) == 1000000L / 63)                 // vec 3 only
    // fused order: doc 4 (both arms) first
    assert(out.find(_._2 == 1).get._1 == 4L)
    assert(out.length == 3)
  }

  test("tfidfKeywords plans the bounded-heap aggregate, not a window") {
    val plan = Retrieval.tfidfKeywords(docs, k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"))
    assert(!plan.contains("Window"))
  }
}
