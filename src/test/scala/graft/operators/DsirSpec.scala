package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DsirSpec extends SparkSpec {
  import spark.implicits._

  // target corpus is "a b"-shaped; raw pool is "x y"-shaped — the two
  // models disagree maximally on those bigrams and agree (both OOV → 1)
  // on anything neither saw.
  private val target = Seq("a b", "a b", "a b c").toDF("text")
  private val rawFit = Seq("x y", "x y", "x y z").toDF("text")

  private def weighted(docs: org.apache.spark.sql.DataFrame) =
    Dsir.importanceWeights(docs,
      Lm.fitBigram(target), Lm.fitBigram(rawFit))

  test("importanceWeights: target-like positive, raw-typical negative, both-OOV zero") {
    val docs = Seq(
      (1L, "a b a b"),  // all transitions target-heavy
      (2L, "x y x y"),  // all transitions raw-heavy
      (3L, "q r q r"),  // OOV under BOTH models → st=sr=1 → weight 0
      (4L, "solo"),     // one word → no transitions → excluded
      (5L, "")          // empty → excluded
    ).toDF("doc_id", "text")
    val out = weighted(docs).collect().map(r =>
      r.getAs[Long]("doc_id") -> ((r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("mean_t"), r.getAs[Long]("mean_r"),
        r.getAs[Long]("weight_ppm")))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    // target LM: C(a b)=3 of C(a·)=3 → scaled 1e6; C(b c)=1 of C(b·)=1.
    // doc 1: bigrams a b(t=1e6, r=1), b a(OOV: 1, 1), a b → n=3,
    //   mean_t = floor((1e6+1+1e6)/3) = 666667, mean_r = 1
    assert(out(1L) == ((3L, 666667L, 1L, 666666L)))
    // doc 2 is the mirror image: weight strictly negative
    assert(out(2L) == ((3L, 1L, 666667L, -666666L)))
    // doc 3: common-feature cancellation — both models back off to 1
    assert(out(3L) == ((3L, 1L, 1L, 0L)))
  }

  test("selectTopK: budget cut is deterministic, ties break on doc_id") {
    val docs = Seq(
      (10L, "a b"), (7L, "a b"), (3L, "x y") // 10 and 7 tie on weight
    ).toDF("doc_id", "text")
    val top = Dsir.selectTopK(weighted(docs), 2)
      .select("doc_id").as[Long].collect().toSet
    assert(top == Set(7L, 10L)) // both target-like docs beat the raw one
    val top1 = Dsir.selectTopK(weighted(docs), 1)
      .select("doc_id").as[Long].collect().toSeq
    assert(top1 == Seq(7L)) // tie at the boundary → smaller doc_id wins
    intercept[IllegalArgumentException] { Dsir.selectTopK(weighted(docs), 0) }
  }

  test("stored-artifact path ≡ in-memory path; repartition-invariant") {
    val docs = Seq(
      (1L, "a b x y"), (2L, "x y a b"), (3L, "a b a b x y")
    ).toDF("doc_id", "text")
    val dir = tmpDir("dsir-spec")
    Dsir.fitAndStore(target, rawFit, dir)
    val mem = weighted(docs).orderBy("doc_id").collect().toSeq
    val stored = Dsir.weightsWithStored(spark, docs, dir)
      .orderBy("doc_id").collect().toSeq
    assert(stored == mem)
    val repart = Dsir.weightsWithStored(spark, docs.repartition(7), dir)
      .orderBy("doc_id").collect().toSeq
    assert(repart == mem)
  }
}
