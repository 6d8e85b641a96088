package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LmSpec extends SparkSpec {
  import spark.implicits._

  // ref corpus: "a b" ×3, "a c" ×1 → P(b|a)=3/4, P(c|a)=1/4; "b d" once.
  private val ref = Seq(
    "a b", "a b", "a b x", // "b x" adds a second left-word family
    "a c", "b d"
  ).toDF("text")

  test("fitBigram: conditionals are floor(1e6·C(ab)/C(a·)) per LEFT word") {
    val lm = Lm.fitBigram(ref).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(lm("a b") == 750000L) // 3/4
    assert(lm("a c") == 250000L) // 1/4
    assert(lm("b x") == 500000L) // b· = {b x, b d}
    assert(lm("b d") == 500000L)
    // conditionals for one left word sum to ~1e6 (floor loss only)
    val byA = lm.groupBy(_._1.split(" ")(0)).view.mapValues(_.values.sum)
    byA.foreach { case (_, s) => assert(s > 999998L && s <= 1000000L) }
  }

  test("perplexityBuckets: OOV backs off to 1, short docs drop, means exact") {
    val lm = Lm.fitBigram(ref)
    val target = Seq(
      (1L, "a b a c"),   // transitions: a b(750000), b a(OOV=1), a c(250000)
      (2L, "z z z"),     // all OOV → mean 1
      (3L, "solo"),      // one word, no transitions → excluded
      (4L, "")           // empty → excluded
    ).toDF("doc_id", "text")
    val out = Lm.perplexityBuckets(target, lm, headMin = 300000L, midMin = 10L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("mean_scaled"),
          r.getAs[String]("bucket")))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == ((3L, 333333L, "head"))) // floor(1000001/3)
    assert(out(2L) == ((2L, 1L, "tail")))
    intercept[IllegalArgumentException] {
      Lm.perplexityBuckets(target, lm, headMin = 10L, midMin = 10L)
    }
  }

  test("fitThresholds: exact discrete quantiles, partitioning-independent, degenerate-safe") {
    // 8 docs with means 10,20,...,80: q(0.25) = min{m : cum·1e6 >= n·25e4}
    // = 20 (cum(20)=2, 2e6 >= 8·25e4), q(0.75) = 60 (cum(60)=6).
    val scored = (1 to 8).map(i => (i.toLong, i * 10L)).toDF("doc_id", "mean_scaled")
    val t = Lm.fitThresholds(scored).head()
    assert(t.getLong(0) == 60L && t.getLong(1) == 20L)
    // partitioning must not move a quantile
    val t13 = Lm.fitThresholds(scored.repartition(13)).head()
    assert(t13.getLong(0) == 60L && t13.getLong(1) == 20L)
    // degenerate: all means equal → head==mid → (2,1) fallback keeps the
    // gate total instead of tripping perplexityBuckets' require
    val flat = (1 to 5).map(i => (i.toLong, 42L)).toDF("doc_id", "mean_scaled")
    val tf = Lm.fitThresholds(flat).head()
    assert(tf.getLong(0) == 2L && tf.getLong(1) == 1L)
    // empty slice → same fallback, no nulls
    val te = Lm.fitThresholds(scored.filter(lit(false))).head()
    assert(te.getLong(0) == 2L && te.getLong(1) == 1L)
  }

  test("stored gate artifact: fit once, score later runs identically from disk") {
    val root = tmpDir("graft-lm-spec")
    val refDocs = (1 to 40).map(i =>
      (i.toLong, s"a b w${i % 5} a c token${i % 3} a b")).toDF("doc_id", "text")
    Lm.fitAndStoreGate(refDocs, root)
    val thr = spark.read.parquet(s"$root/thresholds").head()
    assert(thr.getAs[Long]("head_min") > thr.getAs[Long]("mid_min"))
    val target = (100 to 130).map(i =>
      (i.toLong, s"a b w${i % 5} unseen${i} a c")).toDF("doc_id", "text")
    // the stored path must equal fitting + bucketing in-memory
    val stored = Lm.gateWithStored(spark, target, root)
      .orderBy("doc_id").collect().map(_.mkString("|")).toSeq
    val inline = Lm.perplexityBuckets(target,
        Lm.fitBigram(refDocs.select(col("text"))),
        thr.getAs[Long]("head_min"), thr.getAs[Long]("mid_min"))
      .orderBy("doc_id").collect().map(_.mkString("|")).toSeq
    assert(stored == inline)
    // a second fit over the same slice reproduces the artifact bit-for-bit
    val root2 = tmpDir("graft-lm-spec2")
    Lm.fitAndStoreGate(refDocs.repartition(7), root2)
    assert(spark.read.parquet(s"$root2/thresholds").head().toSeq ==
      thr.toSeq, "threshold fit must be sample- and partitioning-deterministic")
  }

  test("gateDriftReport: in-distribution crawl keeps the gate; a drifted crawl trips refit") {
    // ref corpus with four DISTINCT per-doc means so the stored
    // thresholds are real quantiles: LM over all four docs gives
    // scaled(a b)=571428 (4/7 of a·), scaled(a c)=428571, b a / c a /
    // z z = 1e6; doc means 742856 / 666666 / 619047 / 1000000 → stored
    // head_min = 742856 (q75), mid_min = 619047 (q25).
    val ref = Seq(
      (1L, "a b a b a b"), (2L, "a b a c"),
      (3L, "a c a c"), (4L, "z z")
    ).toDF("doc_id", "text")
    val root = tmpDir("graft-lm-drift")
    Lm.fitAndStoreGate(ref, root)
    val stored = spark.read.parquet(s"$root/thresholds").head()
    assert(stored.getAs[Long]("head_min") == 742856L
      && stored.getAs[Long]("mid_min") == 619047L)
    // crawl == the reference distribution: crawl quantiles land exactly
    // on the stored pair, moves are 0, the gate keeps
    val same = Lm.gateDriftReport(spark, ref, root).head()
    assert(same.getAs[Long]("n_docs") == 4L)
    assert(same.getAs[Long]("crawl_head_q") == 742856L
      && same.getAs[Long]("crawl_mid_q") == 619047L)
    assert(same.getAs[Long]("head_move_ppm") == 0L
      && same.getAs[Long]("mid_move_ppm") == 0L)
    assert(!same.getAs[Boolean]("refit"))
    // shares: head = docs 1,4 (means >= 742856), mid = docs 2,3, tail 0
    assert(same.getAs[Long]("head_share_ppm") == 500000L
      && same.getAs[Long]("mid_share_ppm") == 500000L
      && same.getAs[Long]("tail_share_ppm") == 0L)
    // an all-OOV crawl scores flat (mean 1 everywhere) → the crawl fit
    // degenerates to the (2,1) fallback → relative move ~100% → refit
    val drifted = Seq((9L, "q r q r"), (10L, "s t s t")).toDF("doc_id", "text")
    val d = Lm.gateDriftReport(spark, drifted, root).head()
    assert(d.getAs[Long]("crawl_head_q") == 2L && d.getAs[Long]("crawl_mid_q") == 1L)
    assert(d.getAs[Boolean]("refit"))
    assert(d.getAs[Long]("tail_share_ppm") == 1000000L)
    intercept[IllegalArgumentException] {
      Lm.gateDriftReport(spark, ref, root, tolPpm = 0L)
    }
  }

  test("scoring is engine-deterministic: identical across partitionings") {
    val docs = spark.range(200).select(col("id").as("doc_id"),
      concat_ws(" ", lit("a"), lit("b"),
        concat(lit("w"), pmod(col("id"), lit(7))),
        lit("a"), lit("c")).as("text"))
    val lm = Lm.fitBigram(ref)
    def run(parts: Int) =
      Lm.perplexityBuckets(docs.repartition(parts), lm, 300000L, 10L)
        .groupBy("bucket").agg(count(lit(1)).as("n"),
          sum(col("mean_scaled")).as("sm"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(1) == run(13))
  }
}
