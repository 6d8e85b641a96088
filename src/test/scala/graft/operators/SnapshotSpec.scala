package graft.operators

import graft.SparkSpec

class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  test("diff classifies added/removed/changed/unchanged") {
    val v1 = Seq((1L, "aa"), (2L, "bb"), (3L, "cc")).toDF("doc_id", "text")
    val v2 = Seq((2L, "bb"), (3L, "cc EDITED"), (4L, "dd")).toDF("doc_id", "text")
    val out = Snapshot.diff(v1, v2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("diff of a snapshot against itself is all unchanged") {
    val v = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
    assert(Snapshot.diff(v, v).collect().forall(_.getString(1) == "unchanged"))
  }

  test("versioned publish / time-travel read / retention") {
    val root = tmpDir("graft-ver") + "/t"
    assert(Snapshot.versions(spark, root).isEmpty)
    assert(Snapshot.publish(Seq((1L, "a")).toDF("id", "x"), root) == 1)
    assert(Snapshot.publish(Seq((1L, "a2"), (2L, "b")).toDF("id", "x"), root) == 2)
    assert(Snapshot.publish(Seq((3L, "c")).toDF("id", "x"), root) == 3)
    assert(Snapshot.versions(spark, root) == Seq(1, 2, 3))
    // pinned read: version 1 is immutable history
    assert(Snapshot.readVersion(spark, root, Some(1))
      .select("x").as[String].collect().toSeq == Seq("a"))
    // latest by default
    assert(Snapshot.readVersion(spark, root)
      .select("x").as[String].collect().toSeq == Seq("c"))
    // root is hive-readable: all versions, one scan, `v` column
    val byV = spark.read.parquet(root).groupBy("v").count()
      .as[(Int, Long)].collect().toMap
    assert(byV == Map(1 -> 1L, 2 -> 2L, 3 -> 1L))
    // retention drops the oldest
    assert(Snapshot.retain(spark, root, keep = 2) == Seq(1))
    assert(Snapshot.versions(spark, root) == Seq(2, 3))
    intercept[IllegalArgumentException] {
      Snapshot.readVersion(spark, root, Some(1))
    }
  }

  test("changeFeed emits all four CDC row classes; unchanged ids emit nothing") {
    val v1 = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("id", "x", "amt")
    val v2 = Seq((2L, "b", 20.0),          // unchanged → absent
      (3L, "c2", 30.0),                    // update (x changed)
      (4L, "d", 41.0),                     // update (amt changed)
      (5L, "e", 50.0))                     // insert; id 1 deleted
      .toDF("id", "x", "amt")
    val got = Snapshot.changeFeed(v1, v2, "id", Seq("x", "amt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSet
    assert(got == Set(
      ("delete", 1L, "a", 10.0),
      ("update_pre", 3L, "c", 30.0), ("update_post", 3L, "c2", 30.0),
      ("update_pre", 4L, "d", 40.0), ("update_post", 4L, "d", 41.0),
      ("insert", 5L, "e", 50.0)))
    assert(!got.exists(_._2 == 2L), "unchanged id must emit nothing")
    // null payload fields compare structurally (null-safe), not as changes
    val n1 = Seq((1L, None: Option[String]), (2L, Some("y"))).toDF("id", "x")
    val n2 = Seq((1L, None: Option[String]), (2L, None: Option[String])).toDF("id", "x")
    val ops = Snapshot.changeFeed(n1, n2, "id", Seq("x"))
      .collect().map(r => r.getLong(1) -> r.getString(0)).toSet
    assert(ops == Set(2L -> "update_pre", 2L -> "update_post"),
      "null==null is unchanged; value→null is an update")
  }

  test("changeFeed fails loud on payload schema drift; tolerance scopes to payloadCols") {
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "x")
    // the routine migration event: v2 gained a column
    val v2added = Seq((1L, "a", 9L), (2L, "b2", 7L)).toDF("id", "x", "extra")
    val eAdd = intercept[IllegalStateException] {
      Snapshot.changeFeed(v1, v2added, "id", Seq("x"))
    }
    assert(eAdd.getMessage.contains("added [extra]"), eAdd.getMessage)
    // dropped and retyped are named too
    val v2retyped = Seq((1L, 5L), (2L, 6L)).toDF("id", "x")
    val eTy = intercept[IllegalStateException] {
      Snapshot.changeFeed(v1, v2retyped, "id", Seq("x"))
    }
    assert(eTy.getMessage.contains("retyped [x:"), eTy.getMessage)
    val eDrop = intercept[IllegalStateException] {
      Snapshot.changeFeed(v2added, v1, "id", Seq("x"))
    }
    assert(eDrop.getMessage.contains("dropped [extra]"), eDrop.getMessage)
    // an acknowledged migration: the feed scopes to the stated payload
    val got = Snapshot.changeFeed(v1, v2added, "id", Seq("x"),
        tolerateSchemaDrift = true)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set(("update_pre", 2L, "b"), ("update_post", 2L, "b2")))
  }

  test("retention past a pinned version fails LOUD on action, never silent-empty") {
    // The race the reference's drain-ordering care guards against
    // (pipeline.py:327-329), in storage form: a long-running job pins a
    // version (plans a DataFrame on it), a retention sweep deletes it
    // before the job acts. The contract: the pinned read must THROW at
    // action time — a silent empty result would quietly train on nothing.
    val root = tmpDir("graft-ret") + "/t"
    Snapshot.publish(spark.range(0, 100).toDF("id"), root)
    Snapshot.publish(spark.range(0, 50).toDF("id"), root)
    val pinned = Snapshot.readVersion(spark, root, Some(1)) // planned, not acted
    assert(Snapshot.retain(spark, root, keep = 1) == Seq(1))
    // new reads of the retained-away version fail the version check
    intercept[IllegalArgumentException] {
      Snapshot.readVersion(spark, root, Some(1))
    }
    // the already-planned frame fails at action time (file listing is
    // re-validated by the scan), with an exception — not 0 rows
    val thrown = intercept[Throwable] { pinned.count() }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(thrown).exists(t =>
      t.isInstanceOf[java.io.FileNotFoundException] ||
        String.valueOf(t.getMessage).contains("PATH_NOT_FOUND") ||
        String.valueOf(t.getMessage).contains("does not exist")),
      s"expected a loud missing-path failure, got: $thrown")
    // the survivor version still reads exactly
    assert(Snapshot.readVersion(spark, root, Some(2)).count() == 50)
  }
}
