package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("mortonValue interleaves bits exactly (hand-computed cases)") {
    // min=0, max=3 over 2 bits: scale is the identity on 0..3.
    // z(x=1, y=2): x bits (1,0) -> positions 0,2; y bits (0,1) -> 1,3
    //   => 0b1001 = 9.  z(3,3) = 0b1111 = 15.  z(0,0) = 0.
    val df = Seq((0L, 0L), (1L, 2L), (3L, 3L), (2L, 1L), (0L, 3L))
      .toDF("x", "y")
    val z = Layout.mortonValue(df, Seq("x", "y"), bits = 2)
      .select("x", "y", "z_val").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(z == Map((0L, 0L) -> 0L, (1L, 2L) -> 9L, (3L, 3L) -> 15L,
      (2L, 1L) -> 6L, (0L, 3L) -> 10L))
  }

  test("constant columns scale to zero instead of dividing by zero") {
    val z = Layout.mortonValue(Seq((5L, 1L), (5L, 9L)).toDF("x", "y"),
      Seq("x", "y"), bits = 4).select("z_val").collect().map(_.getLong(0))
    // x contributes nothing; z is y's bits spread to odd positions
    assert(z.forall(v => (0 until 4).forall(j => ((v >> (2 * j)) & 1) == 0)))
    assert(z.distinct.length == 2)
  }

  test("an over-range column fails loud instead of silently wrapping the scale product") {
    // range ±2^60 blows the Long.MaxValue/255 scale budget at bits=8: the
    // old arithmetic wrapped silently (answers fine, layout scrambled);
    // now the broadcast-stats check raises before any z value is emitted
    val wild = Seq((-(1L << 60), 1L), ((1L << 60), 2L)).toDF("x", "y")
    val ex = intercept[Exception] {
      Layout.mortonValue(wild, Seq("x", "y"), bits = 8).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("layout: range of column 'x'")),
      s"expected the range-budget raise_error, got: $ex")
    // in-budget data on the same frame still works (the guard is per-column)
    val ok = Layout.mortonValue(
      Seq((0L, 1L), (10L, 2L)).toDF("x", "y"), Seq("x", "y"), bits = 8)
    assert(ok.select("z_val").collect().length == 2)
  }

  test("internal helper-column namespace is reserved, caller columns never shadowed") {
    val clash = Seq((1L, 2L)).toDF("x", "__zi_x")
    val ex = intercept[IllegalArgumentException] {
      Layout.mortonValue(clash, Seq("x"), bits = 4)
    }
    assert(ex.getMessage.contains("__zi_x"))
  }

  test("z-order layout touches fewer files than natural layout on a box predicate") {
    // 40k uniform 2-D points, 16 files each way. A 10%x10% box intersects
    // ~sqrt-many z-order rectangles but EVERY round-robin file.
    val rnd = new scala.util.Random(11)
    val pts = Seq.fill(40000)((rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong))
      .zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      .toDF("id", "x", "y")
    val dir = new java.io.File(tmpDir("graft-layout"))
    val natural = s"$dir/natural"
    val zordered = s"$dir/zorder"
    pts.repartition(16).write.mode("overwrite").parquet(natural)
    Layout.zorderWrite(pts, Seq("x", "y"), zordered, nFiles = 16)
    def filesTouched(path: String): Long = spark.read.parquet(path)
      .filter(col("x").between(100, 199) && col("y").between(500, 599))
      .select(input_file_name()).distinct().count()
    val (nf, zf) = (filesTouched(natural), filesTouched(zordered))
    // the box has ~400 points: round-robin scatters them over all 16
    // files; the z-order layout confines them to a handful of rectangles
    assert(nf >= 12, s"natural layout unexpectedly clustered ($nf files)")
    assert(zf * 2 <= nf, s"z-order layout not local: $zf vs natural $nf")
    // same rows either way — layout must never change content
    assert(spark.read.parquet(zordered).count() == 40000)
  }

  test("hilbert layout also confines a box predicate to few files; rows intact") {
    val rnd = new scala.util.Random(11)
    val pts = Seq.fill(40000)((rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong))
      .zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      .toDF("id", "x", "y")
    val dir = new java.io.File(tmpDir("graft-hilbert"))
    val natural = s"$dir/natural"
    val hilberted = s"$dir/hilbert"
    pts.repartition(16).write.mode("overwrite").parquet(natural)
    Layout.hilbertWrite(pts, Seq("x", "y"), hilberted, nFiles = 16)
    def filesTouched(path: String): Long = spark.read.parquet(path)
      .filter(col("x").between(100, 199) && col("y").between(500, 599))
      .select(input_file_name()).distinct().count()
    val (nf, hf) = (filesTouched(natural), filesTouched(hilberted))
    assert(nf >= 12, s"natural layout unexpectedly clustered ($nf files)")
    // the same locality bar the z-order write clears; whether Hilbert
    // edges out Morton by a file on a given draw is noise — the curve's
    // structural advantage is the 0-jump walk, proven exactly below
    assert(hf * 2 <= nf, s"hilbert layout not local: $hf vs natural $nf")
    assert(spark.read.parquet(hilberted).count() == 40000)
  }

  test("hilbertValue: order-2 truth table; order-3 walk never jumps where Morton does") {
    import spark.implicits._
    // the classic 4x4 Hilbert grid (xy2d with the n-based rotation)
    val truth = Map(
      (0, 0) -> 0L, (1, 0) -> 1L, (2, 0) -> 14L, (3, 0) -> 15L,
      (0, 1) -> 3L, (1, 1) -> 2L, (2, 1) -> 13L, (3, 1) -> 12L,
      (0, 2) -> 4L, (1, 2) -> 7L, (2, 2) -> 8L, (3, 2) -> 11L,
      (0, 3) -> 5L, (1, 3) -> 6L, (2, 3) -> 9L, (3, 3) -> 10L)
    val g2 = (for (x <- 0 to 3; y <- 0 to 3) yield (x, y)).toDF("x", "y")
    // ranges are already [0, 3] so min/max scaling is the identity
    val got = Layout.hilbertValue(g2, Seq("x", "y"), bits = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getAs[Long]("h_val"))
      .toMap
    assert(got == truth, s"hilbert grid mismatch: $got")
    // order-3: every consecutive Hilbert step is a grid neighbor (the
    // no-jump guarantee Faloutsos & Roseman measured); the Morton walk
    // on the same grid jumps at quadrant boundaries — both facts exact
    val g3 = (for (x <- 0 to 7; y <- 0 to 7) yield (x, y)).toDF("x", "y")
    def walk(vals: Map[(Int, Int), Long]): Int = {
      val pos = vals.map(_.swap)
      (0L to 62L).count(d =>
        (pos(d)._1 - pos(d + 1)._1).abs + (pos(d)._2 - pos(d + 1)._2).abs > 1)
    }
    val hJumps = walk(Layout.hilbertValue(g3, Seq("x", "y"), bits = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getAs[Long]("h_val")).toMap)
    val zJumps = walk(Layout.mortonValue(g3, Seq("x", "y"), bits = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getAs[Long]("z_val")).toMap)
    assert(hJumps == 0, s"hilbert walk must never jump, found $hJumps")
    assert(zJumps > 0, s"morton walk should jump at quadrant boundaries")
    intercept[IllegalArgumentException] {
      Layout.hilbertValue(g2, Seq("x"), bits = 2)
    }
    intercept[IllegalArgumentException] {
      Layout.hilbertValue(g2, Seq("x", "y"), bits = 16)
    }
  }
}
