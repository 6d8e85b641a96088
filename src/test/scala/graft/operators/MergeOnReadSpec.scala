package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MergeOnReadSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String = {
    val p = tmpDir("graft-mor") + "/t"
    spark.range(0, 1000)
      .select(col("id"), (col("id") % 4).cast("int").as("part"),
        (col("id") * 3).as("v"))
      .write.partitionBy("part").parquet(p)
    p
  }

  test("read subtracts the sidecar; plain readers and files are untouched") {
    val p = freshTable()
    val filesBefore = spark.read.parquet(p).inputFiles.toSet
    val keys = spark.range(0, 1000).filter(col("id") % 10 === 3)
      .select(col("id"), (col("id") % 4).cast("int").as("part"))
    val n = MergeOnRead.appendDeletes(spark, p, keys,
      keyCols = Seq("id"), partCols = Seq("part"))
    assert(n == 100)
    // merge-on-read visibility: exactly the non-deleted rows
    val got = MergeOnRead.read(spark, p, Seq("id"))
    assert(got.count() == 900)
    assert(got.filter(col("id") % 10 === 3).count() == 0)
    // no data was rewritten (the whole point of deferring)
    assert(spark.read.parquet(p).inputFiles.toSet == filesBefore)
    // the underscore sidecar is invisible to plain readers
    assert(spark.read.parquet(p).count() == 1000)
    // appending the same keys again changes nothing (retried job converges)
    MergeOnRead.appendDeletes(spark, p, keys, Seq("id"), Seq("part"))
    assert(MergeOnRead.read(spark, p, Seq("id")).count() == 900)
    // no sidecar → the plain scan
    val p2 = freshTable()
    assert(MergeOnRead.read(spark, p2, Seq("id")).count() == 1000)
  }

  test("fold applies the sidecar physically, clears it, and composes with the manifest") {
    val p = freshTable()
    val man = p.stripSuffix("/t") + "/m"
    FileManifest.build(spark, p, Seq("id"), man)
    val keys = spark.range(0, 1000).filter(col("id") % 7 === 0)
      .select(col("id"), (col("id") % 4).cast("int").as("part"))
    MergeOnRead.appendDeletes(spark, p, keys, Seq("id"), Seq("part"))
    val preFold = MergeOnRead.read(spark, p, Seq("id"))
      .orderBy("id").collect().map(_.mkString("|")).toSeq

    val st = MergeOnRead.fold(spark, p, Seq("id"), Seq("part"),
      manifestPath = Some(man))
    assert(st.partitionsTouched == 4 && st.rowsReplaced == 143)
    // physical state == the pre-fold logical view, bit for bit
    val folded = spark.read.parquet(p)
      .orderBy("id").collect().map(_.mkString("|")).toSeq
    assert(folded == preFold, "fold must be invisible to readers")
    // sidecar cleared; a second fold is a no-op
    assert(MergeOnRead.fold(spark, p, Seq("id"), Seq("part"))
      == Merge.MergeStats(0L, 0L, 0L, 0L))
    // the in-commit manifest refresh kept the file index consistent
    val live = spark.read.parquet(p).inputFiles.toSet
    val manFiles = spark.read.parquet(man).select("file").as[String].collect().toSet
    assert(manFiles == live, "fold's COW commit must refresh the manifest")
    // and the pruned read over the folded table answers correctly
    val (df, _) = FileManifest.prunedRead(spark, p, man, Seq(("id", 0L, 999L)))
    assert(df.count() == 857)
  }

  test("NULL keys never match: null-keyed rows survive, null delete keys are inert") {
    val p = tmpDir("graft-mor-null") + "/t"
    Seq((Some(1L), 0, "a"), (None, 0, "b"), (Some(2L), 0, "c"))
      .toDF("id", "part", "x")
      .write.partitionBy("part").parquet(p)
    val keys = Seq((Some(1L), 0), (None: Option[Long], 0)).toDF("id", "part")
    MergeOnRead.appendDeletes(spark, p, keys, Seq("id"), Seq("part"))
    val got = MergeOnRead.read(spark, p, Seq("id"))
      .select("x").as[String].collect().toSet
    assert(got == Set("b", "c"), "row 1 deleted; the NULL-keyed row survives")
  }
}
