package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Ivm.maintainAdditive (delta-join view maintenance) and
  * Drift.categoricalDrift (exact TVD) — the round-12 additions' unit
  * contracts; mv02/x26 are their oracled query-level twins. */
class IvmDriftSpec extends SparkSpec {
  import spark.implicits._

  test("additive maintenance is indistinguishable from recompute, across two deltas") {
    val dim = Seq((1L, 10), (2L, 20), (3L, 20)).toDF("k", "grp")
    def view(fact: DataFrame): DataFrame = fact
      .join(dim, "k")
      .groupBy("grp")
      .agg(count(lit(1)).as("n"),
        sum(col("amt").cast(DecimalType(18, 2))).cast(DecimalType(18, 2)).as("rev"))
    val f1 = Seq((1L, 5.0), (2L, 7.5), (2L, 2.5)).toDF("k", "amt")
    val f2 = Seq((3L, 1.25), (1L, 0.75)).toDF("k", "amt")
    val f3 = Seq((2L, 100.0)).toDF("k", "amt")

    val p = tmpDir("graft-ivm") + "/v"
    view(f1).write.parquet(p)
    Ivm.maintainAdditive(spark, p, view(f2), Seq("grp"), Seq("n", "rev"))
    Ivm.maintainAdditive(spark, p, view(f3), Seq("grp"), Seq("n", "rev"))

    val got = spark.read.parquet(p).orderBy("grp")
      .collect().map(_.mkString("|")).toSeq
    val want = view(f1.unionByName(f2).unionByName(f3)).orderBy("grp")
      .collect().map(_.mkString("|")).toSeq
    assert(got == want, "incremental view must equal the from-scratch recompute")
    // schema stays the declared one across refreshes (no decimal widening)
    assert(spark.read.parquet(p).schema("rev").dataType == DecimalType(18, 2))
  }

  test("categorical TVD: exact hand value, identity zero, one-sided categories") {
    // ref: a=3, b=1 (Nr=4). group g1: a=1, b=3 (No=4) →
    // TVD = ½(|1·4−3·4| + |3·4−1·4|)/16 = ½·16/16 = 0.5 → 500000
    // group g2 ≡ ref scaled ×2 → 0. group g3: all category c (ref-absent)
    // → ½(|0−3·2|+|0−1·2|+|2·4−0|)/8 = ½·16/8 = 1 → 1000000 (total mass moved)
    val ref = Seq("a", "a", "a", "b").toDF("cat")
    val cur = (Seq(("g1", "a"), ("g1", "b"), ("g1", "b"), ("g1", "b")) ++
      Seq(("g2", "a"), ("g2", "a"), ("g2", "a"), ("g2", "a"),
        ("g2", "a"), ("g2", "a"), ("g2", "b"), ("g2", "b")) ++
      Seq(("g3", "c"), ("g3", "c"))).toDF("g", "cat")
    val got = Drift.categoricalDrift(ref, cur, "cat", "g")
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(got("g1") == ((500000L, true)))
    assert(got("g2") == ((0L, false)))
    assert(got("g3") == ((1000000L, true)))
  }

  test("categorical TVD is partitioning-independent; empty reference yields no verdicts") {
    val ref = spark.range(0, 500).select((col("id") % 7).cast("string").as("cat"))
    val cur = spark.range(0, 900).select(
      (col("id") % 3).cast("string").as("g"), (col("id") % 5).cast("string").as("cat"))
    def run(parts: Int) = Drift.categoricalDrift(
        ref.repartition(parts), cur.repartition(parts), "cat", "g")
      .orderBy("g").collect().map(_.mkString("|")).toSeq
    assert(run(1) == run(13))
    assert(Drift.categoricalDrift(ref.filter(lit(false)), cur, "cat", "g").isEmpty)
    assert(Drift.categoricalDrift(ref, cur.filter(lit(false)), "cat", "g").isEmpty)
  }
}
