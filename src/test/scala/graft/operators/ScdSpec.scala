package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ScdSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(): String = {
    val p = tmpDir("graft-scd") + "/t"
    val dim = Seq(
      (1L, "alice", "GOLD", 100.0),
      (2L, "bob", "SILVER", 50.0),
      (3L, "carol", "GOLD", 75.0)
    ).toDF("id", "name", "tier", "bal")
    Scd.init(spark, p, dim, version = 1L)
    p
  }

  test("applyChanges closes old versions, opens new ones, inserts fresh keys") {
    val p = mkTable()
    val batch = Seq(
      (1L, "alice", "PLAT", 100.0), // tier changed
      (2L, "bob", "SILVER", 50.0), // identical -> no-op
      (9L, "dave", "BRONZE", 10.0) // new key
    ).toDF("id", "name", "tier", "bal")
    val st = Scd.applyChanges(spark, p, batch, Seq("id"), version = 2L)
    assert(st == Scd.ScdStats(1L, 1L, 1L))

    val cur = Scd.current(spark, p).orderBy("id")
      .select("id", "tier", "scd_valid_from").as[(Long, String, Long)].collect()
    assert(cur.toSeq == Seq((1L, "PLAT", 2L), (2L, "SILVER", 1L),
      (3L, "GOLD", 1L), (9L, "BRONZE", 2L)))

    val closed = Scd.history(spark, p).filter(col("scd_valid_to").isNotNull)
      .select("id", "tier", "scd_valid_from", "scd_valid_to")
      .as[(Long, String, Long, Long)].collect()
    assert(closed.toSeq == Seq((1L, "GOLD", 1L, 2L)))

    // the dimension is generation-stamped like every in-place mutation:
    // init seeded a stamp, applyChanges moved it — a stats manifest over
    // the dimension fails loud instead of serving the pre-commit files
    val g1 = FileManifest.readStamp(spark, p)
    assert(g1.nonEmpty, "init must seed a generation stamp")
    Scd.applyChanges(spark, p,
      Seq((1L, "alice", "IRON", 1.0)).toDF("id", "name", "tier", "bal"),
      Seq("id"), version = 3L)
    assert(FileManifest.readStamp(spark, p) != g1,
      "applyChanges must bump the generation")
  }

  test("re-applying a committed batch is a detected no-op (idempotent replay)") {
    val p = mkTable()
    val batch = Seq((1L, "alice", "PLAT", 100.0)).toDF("id", "name", "tier", "bal")
    assert(Scd.applyChanges(spark, p, batch, Seq("id"), 2L) ==
      Scd.ScdStats(1L, 0L, 1L))
    val before = Scd.history(spark, p).orderBy("id", "scd_valid_from")
      .collect().toSeq
    val st = Scd.applyChanges(spark, p, batch, Seq("id"), 3L)
    assert(st == Scd.ScdStats(0L, 0L, 0L), "identical batch must not write")
    val after = Scd.history(spark, p).orderBy("id", "scd_valid_from")
      .collect().toSeq
    assert(after == before)
  }

  test("asOf reconstructs any past state; closed directories are never rewritten") {
    val p = mkTable()
    val fs = new java.io.File(p)
    Scd.applyChanges(spark, p,
      Seq((1L, "alice", "PLAT", 100.0), (4L, "erin", "GOLD", 20.0))
        .toDF("id", "name", "tier", "bal"), Seq("id"), 2L)
    val closedDirMtime = new java.io.File(fs, "scd_part=2").lastModified()
    val closedFiles = new java.io.File(fs, "scd_part=2")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    Scd.applyChanges(spark, p,
      Seq((1L, "alice", "PLAT", 999.0)).toDF("id", "name", "tier", "bal"),
      Seq("id"), 3L)

    // v1 state: the original three rows, no erin, alice still GOLD
    val v1 = Scd.asOf(spark, p, 1L).orderBy("id")
      .select("id", "tier", "bal").as[(Long, String, Double)].collect()
    assert(v1.toSeq == Seq((1L, "GOLD", 100.0), (2L, "SILVER", 50.0),
      (3L, "GOLD", 75.0)))
    // v2 state: alice PLAT at bal 100 (the version closed at v3), erin present
    val v2 = Scd.asOf(spark, p, 2L).orderBy("id")
      .select("id", "tier", "bal").as[(Long, String, Double)].collect()
    assert(v2.toSeq == Seq((1L, "PLAT", 100.0), (2L, "SILVER", 50.0),
      (3L, "GOLD", 75.0), (4L, "GOLD", 20.0)))
    // current: alice at 999
    assert(Scd.current(spark, p).filter(col("id") === 1)
      .select("bal").as[Double].head() == 999.0)
    // exactly one open version per key at every as-of point
    assert(Scd.asOf(spark, p, 2L).groupBy("id").count()
      .filter(col("count") > 1).isEmpty)
    // the v3 apply must not have touched the scd_part=2 closed directory
    val closedFilesAfter = new java.io.File(fs, "scd_part=2")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(closedFilesAfter == closedFiles &&
      new java.io.File(fs, "scd_part=2").lastModified() == closedDirMtime,
      "closed-history directories are append-only, never rewritten")
  }

  test("duplicate-key batch is rejected loudly") {
    val p = mkTable()
    val dup = Seq((1L, "a", "X", 1.0), (1L, "a", "Y", 2.0))
      .toDF("id", "name", "tier", "bal")
    val e = intercept[IllegalArgumentException] {
      Scd.applyChanges(spark, p, dup, Seq("id"), 2L)
    }
    assert(e.getMessage.contains("duplicate keys"))
  }

  test("null-safe change detection: value<->NULL transitions are changes, NULL==NULL is not") {
    val p = tmpDir("graft-scd-n") + "/t"
    Scd.init(spark, p,
      Seq((1L, Some("GOLD")), (2L, None))
        .toDF("id", "tier"), 1L)
    val st = Scd.applyChanges(spark, p,
      Seq((1L, None: Option[String]), (2L, None)).toDF("id", "tier"),
      Seq("id"), 2L)
    assert(st == Scd.ScdStats(1L, 0L, 1L),
      "GOLD->NULL must close a version; NULL->NULL must not")
  }
}
