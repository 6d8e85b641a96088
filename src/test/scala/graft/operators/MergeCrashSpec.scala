package graft.operators

import org.apache.spark.sql.functions._

/** [[CrashSpec]] over the table writers: [[Merge]]'s per-leaf commit
  * (shared by [[Compaction]], [[Scd]] and [[Ivm]]) and [[FileManifest]]'s
  * generation stamp and manifest. */
class MergeCrashSpec extends CrashSpec {
  import spark.implicits._

  private def table(rows: Seq[(Long, String, Int)]): String = {
    val dir = s"${tmpDir("graft-crash-fixture")}/t"
    graft.sources.Sinks.parquetPartitioned(rows.toDF("id", "v", "yr"), dir, Seq("yr"))
    dir
  }

  private val base = Seq((1L, "a", 2023), (2L, "b", 2023),
    (3L, "c", 2024), (4L, "d", 2024), (5L, "e", 2024))

  /** Rows per partition leaf: each leaf commits on its own. */
  private def leaves(path: String): Map[Int, Set[(Long, String)]] =
    spark.read.parquet(path).as[(Long, String, Int)].collect().toSeq
      .groupBy(_._3).map { case (yr, rs) => yr -> rs.map(r => (r._1, r._2)).toSet }

  test("crash: Merge.upsert reads old or new per leaf after recover, and its replay converges") {
    // A crash between a leaf's delete and its rename, replayed, used to
    // restage from the table WITHOUT that leaf: {1,2,4} instead of {1..5}
    everyCrash(table(base), leaves, Merge.recover(spark, _)) { p =>
      Merge.upsert(spark, p, Seq((4L, "D!", 2024)).toDF("id", "v", "yr"),
        Seq("id"), Seq("yr"))
    }
  }

  test("crash: Merge.delete, emptying one leaf, reads old or new per leaf and converges") {
    everyCrash(table(base), leaves, Merge.recover(spark, _)) { p =>
      Merge.delete(spark, p, Seq((1L, 2023), (2L, 2023), (4L, 2024))
        .toDF("id", "yr"), Seq("id"), Seq("yr"))
    }
  }

  test("crash: Scd.applyChanges commits its closed and current leaves recoverably") {
    val fixture = s"${tmpDir("graft-crash-scd")}/d"
    Scd.init(spark, fixture, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val byPart = (p: String) => Scd.history(spark, p)
      .select(col("k"), col("v"), col("scd_valid_from"), col("scd_valid_to"))
      .as[(Long, String, Long, Option[Long])].collect().toSeq
      .groupBy(_._4.isEmpty).map { case (open, rs) => open -> rs.toSet }
    everyCrash(fixture, byPart, Merge.recover(spark, _)) { p =>
      Scd.applyChanges(spark, p, Seq((2L, "B!"), (3L, "c")).toDF("k", "v"),
        Seq("k"), version = 2L)
    }
  }

  test("crash: FileManifest.writeStamp always reads the old stamp or the new one") {
    val fixture = tmpDir("graft-crash-stamp")
    FileManifest.writeStamp(spark, fixture, "g1")
    val calls = everyCrash(fixture,
      p => Map("stamp" -> FileManifest.readStamp(spark, p)), taskWrite = false) {
      FileManifest.writeStamp(spark, _, "g2")
    }
    assert(calls.exists(_.contains("rename")))
  }

  test("crash: FileManifest.refresh publishes the manifest and its stamp together") {
    val fixture = tmpDir("graft-crash-manifest")
    graft.sources.Sinks.parquetPartitioned(
      base.toDF("id", "v", "yr"), s"$fixture/t", Seq("yr"))
    FileManifest.build(spark, s"$fixture/t", Seq("id"), s"$fixture/m")
    Merge.upsert(spark, s"$fixture/t", Seq((9L, "z", 2025)).toDF("id", "v", "yr"),
      Seq("id"), Seq("yr"))
    // the manifest's view: its files (relative to the table) and stamp
    val view = (p: String) => Map(
      "files" -> spark.read.parquet(Commit.resolve(spark, s"$p/m"))
        .select("file").as[String].collect().map(_.split("/t/").last).toSet,
      "stamp" -> FileManifest.readStamp(spark, s"$p/m").toSet)
    everyCrash(fixture, view) { p =>
      FileManifest.refresh(spark, s"$p/t", s"$p/m")
    }
  }
}
