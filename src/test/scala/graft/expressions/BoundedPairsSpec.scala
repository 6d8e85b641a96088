package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BoundedPairsSpec extends SparkSpec {
  import spark.implicits._

  // Many partitions so partial aggregation, serialize/deserialize and merge
  // all execute — the paths a capped buffer can get wrong.
  private def postings = {
    val rnd = new scala.util.Random(7)
    // group sizes 5, 8, ..., 122 — straddling every cap the tests use
    (0 until 40).flatMap { k =>
      (0 until (5 + 3 * k)).map { _ =>
        (k.toLong, rnd.nextLong().abs % 100000L, rnd.nextLong().abs % 13L + 1L)
      }
    }
  }.toDF("key", "id", "payload").dropDuplicates("key", "id")
    .repartition(16)

  test("capped_collect equals count-filter + collect_list, sorted") {
    val cap = 60
    val got = postings.groupBy("key")
      .agg(CappedIdPayloadCollect(col("id"), col("payload"), cap).as("ds"))
      .filter(col("ds").isNotNull)
      .select(col("key"), expr("transform(ds, s -> struct(s.id, s.payload))"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getLong(0), x.getLong(1))).toVector).toMap
    val ref = postings.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
      .collect { case (k, rs) if rs.length <= cap =>
        k -> rs.map(t => (t._2, t._3)).sortBy(identity).toVector }
    assert(got == ref)
    assert(ref.nonEmpty && ref.size < 40) // both regimes exercised
  }

  test("overflowed groups are NULL and bounded: a hot key never returns") {
    val hot = (0 until 5000).map(i => (1L, i.toLong, 0L))
      .toDF("key", "id", "payload").repartition(8)
    val out = hot.groupBy("key")
      .agg(CappedIdPayloadCollect(col("id"), col("payload"), 10).as("ds"))
      .collect()
    assert(out.length == 1 && out.head.isNullAt(1))
  }

  test("payload_pairs_gen yields ordered pairs with riders") {
    val df = Seq(Seq((1L, 10L), (3L, 30L), (7L, 70L)))
      .toDF("arr")
      .select(col("arr").cast("array<struct<id:bigint,payload:bigint>>").as("arr"))
    val got = df.select(PayloadPairsGen(col("arr")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set((1L, 10L, 3L, 30L), (1L, 10L, 7L, 70L), (3L, 30L, 7L, 70L)))
  }

  test("both pair generators reject a NULL id field instead of reading it as 0") {
    val df = Seq(Seq[(java.lang.Long, Long)]((1L, 10L), (null, 20L)))
      .toDF("arr")
      .select(col("arr").cast("array<struct<id:bigint,payload:bigint>>").as("arr"))
    for (gen <- Seq(PayloadPairsGen(col("arr")), HammingPairsGen(col("arr"), lit(60)))) {
      val e = intercept[Exception](df.select(gen).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("null element at position 1"))),
        e.getMessage)
    }
  }

  test("fused pair plan ≡ count-then-join pair plan on a posting table") {
    // the overlapPairs restructure in miniature: per-key capped gather +
    // local pair fan-out must equal the df-filter + self-join formulation
    val cap = 25
    val p = postings
    val fused = p.groupBy("key")
      .agg(CappedIdPayloadCollect(col("id"), col("payload"), cap).as("ds"))
      .filter(col("ds").isNotNull)
      .select(PayloadPairsGen(col("ds")))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val rare = p.groupBy("key").agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap).select("key")
    val pp = p.join(rare, "key")
    val ref = pp.as("x").join(pp.as("y"),
        col("x.key") === col("y.key") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(fused == ref && fused.nonEmpty)
  }
}
