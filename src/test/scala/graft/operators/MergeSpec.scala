package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class MergeSpec extends SparkSpec {
  import spark.implicits._

  /** (relative path, length, mtime) of every data file under a partition
    * dir — the copy-on-write invariant: untouched partitions keep their
    * exact files, byte-for-byte and timestamp-for-timestamp. */
  private def fileSig(path: String, part: String): Set[(String, Long, Long)] = {
    val base = new java.io.File(s"$path/$part")
    if (!base.exists()) Set.empty
    else base.listFiles().filter(f => f.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length(), f.lastModified())).toSet
  }

  private def base(): DataFrame =
    Seq(
      (1L, "a", 2023, 10.0), (2L, "b", 2023, 20.0), (3L, "c", 2023, 30.0),
      (4L, "d", 2024, 40.0), (5L, "e", 2024, 50.0),
      (6L, "f", 2025, 60.0)
    ).toDF("id", "v", "yr", "amt")

  test("upsert replaces matched rows, inserts the rest, leaves untouched partitions' files alone") {
    val path = tmpDir("graft-merge-up") + "/t"
    graft.sources.Sinks.parquetPartitioned(base(), path, Seq("yr"))
    val sig2023 = fileSig(path, "yr=2023")
    val sig2025 = fileSig(path, "yr=2025")

    // touches only 2024: one update (id=4), one insert (id=99)
    val batch = Seq((4L, "D!", 2024, 44.0), (99L, "new", 2024, 99.0))
      .toDF("id", "v", "yr", "amt")
    val st = Merge.upsert(spark, path, batch, Seq("id"), Seq("yr"))
    assert(st.partitionsTouched == 1 && st.targetRowsBefore == 2
      && st.rowsReplaced == 1 && st.rowsWritten == 3)

    val got = spark.read.parquet(path)
      .select("id", "v", "yr", "amt").as[(Long, String, Int, Double)]
      .collect().toSet
    assert(got == Set(
      (1L, "a", 2023, 10.0), (2L, "b", 2023, 20.0), (3L, "c", 2023, 30.0),
      (4L, "D!", 2024, 44.0), (5L, "e", 2024, 50.0), (99L, "new", 2024, 99.0),
      (6L, "f", 2025, 60.0)))
    // COW invariant: 2023/2025 directories untouched (same files, same mtimes)
    assert(fileSig(path, "yr=2023") == sig2023)
    assert(fileSig(path, "yr=2025") == sig2025)
    assert(fileSig(path, "yr=2024") != Set.empty)
  }

  test("upsert is idempotent: re-applying the same batch converges") {
    val path = tmpDir("graft-merge-idem") + "/t"
    graft.sources.Sinks.parquetPartitioned(base(), path, Seq("yr"))
    val batch = Seq((4L, "D!", 2024, 44.0), (99L, "new", 2024, 99.0))
      .toDF("id", "v", "yr", "amt")
    Merge.upsert(spark, path, batch, Seq("id"), Seq("yr"))
    val first = spark.read.parquet(path).collect().map(_.toString).sorted
    val st2 = Merge.upsert(spark, path, batch, Seq("id"), Seq("yr"))
    val second = spark.read.parquet(path).collect().map(_.toString).sorted
    assert(first.sameElements(second))
    assert(st2.rowsReplaced == 2 && st2.rowsWritten == 3)
  }

  test("the target read is partition-pruned to the batch's partitions") {
    val path = tmpDir("graft-merge-prune") + "/t"
    graft.sources.Sinks.parquetPartitioned(base(), path, Seq("yr"))
    val batch = Seq((4L, "D!", 2024, 44.0)).toDF("id", "v", "yr", "amt")
    // same filter Merge builds internally; assert it resolves to
    // PartitionFilters with the literal year, not a post-scan Filter
    val plan = spark.read.parquet(path).filter(col("yr") === 2024)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("2024"),
      s"expected partition-pruned scan, got:\n$plan")
    Merge.upsert(spark, path, batch, Seq("id"), Seq("yr"))
    assert(spark.read.parquet(path).count() == 6)
  }

  test("delete removes matched keys, drops fully-emptied partition dirs, keeps the rest") {
    val path = tmpDir("graft-merge-del") + "/t"
    graft.sources.Sinks.parquetPartitioned(base(), path, Seq("yr"))
    val sig2023 = fileSig(path, "yr=2023")

    // delete id=4 (partial: 2024 keeps id=5) and id=6 (empties 2025)
    val keys = Seq((4L, 2024), (6L, 2025)).toDF("id", "yr")
    val st = Merge.delete(spark, path, keys, Seq("id"), Seq("yr"))
    assert(st.partitionsTouched == 2 && st.targetRowsBefore == 3
      && st.rowsReplaced == 2 && st.rowsWritten == 1)

    val got = spark.read.parquet(path).select("id").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L, 5L))
    // the emptied directory is GONE (the dynamic-overwrite blind spot)
    assert(!new java.io.File(s"$path/yr=2025").exists())
    assert(fileSig(path, "yr=2023") == sig2023)
  }

  test("two-level partitioning: upsert and delete touch only the named leaf dirs") {
    val path = tmpDir("graft-merge-2lvl") + "/t"
    val base2 = Seq(
      (1L, 2023, 1, "a"), (2L, 2023, 2, "b"),
      (3L, 2024, 1, "c"), (4L, 2024, 1, "d"), (5L, 2024, 2, "e")
    ).toDF("id", "yr", "mo", "v")
    graft.sources.Sinks.parquetPartitioned(base2, path, Seq("yr", "mo"))
    val sig23_1 = fileSig(path, "yr=2023/mo=1")

    // upsert into (2024, 1): replace id=3, insert id=99
    val batch = Seq((3L, 2024, 1, "C!"), (99L, 2024, 1, "new"))
      .toDF("id", "yr", "mo", "v")
    val st = Merge.upsert(spark, path, batch, Seq("id"), Seq("yr", "mo"))
    assert(st.partitionsTouched == 1 && st.rowsWritten == 3)
    assert(fileSig(path, "yr=2023/mo=1") == sig23_1)
    val got = spark.read.parquet(path).select("id", "v")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "b", 3L -> "C!", 4L -> "d",
      5L -> "e", 99L -> "new"))

    // delete everything in (2023, 2): the LEAF dir goes, yr=2023 stays
    val keys = Seq((2L, 2023, 2)).toDF("id", "yr", "mo")
    Merge.delete(spark, path, keys, Seq("id"), Seq("yr", "mo"))
    assert(!new java.io.File(s"$path/yr=2023/mo=2").exists())
    assert(new java.io.File(s"$path/yr=2023/mo=1").exists())
    assert(spark.read.parquet(path).select("id").as[Long].collect().toSet
      == Set(1L, 3L, 4L, 5L, 99L))
  }

  test("documented boundary: a key that MOVES partitions duplicates (partition cols must be stable)") {
    // The scaladoc contract, pinned so it can't silently change: the
    // touched-partition set comes from the BATCH's partition values, so a
    // key whose batch row moved to a different partition leaves its old
    // row alive in the untouched directory. Partition columns must be
    // stable row properties (event date, language) — never mutable
    // attributes.
    val path = tmpDir("graft-merge-move") + "/t"
    graft.sources.Sinks.parquetPartitioned(base(), path, Seq("yr"))
    val moved = Seq((1L, "a!", 2024, 99.0)).toDF("id", "v", "yr", "amt") // was yr=2023
    Merge.upsert(spark, path, moved, Seq("id"), Seq("yr"))
    val ids = spark.read.parquet(path).filter(col("id") === 1L)
      .select("yr").as[Int].collect().sorted
    assert(ids.toSeq == Seq(2023, 2024), "moving key should duplicate (documented)")
  }

  test("empty change batch is a no-op") {
    val path = tmpDir("graft-merge-empty") + "/t"
    graft.sources.Sinks.parquetPartitioned(base(), path, Seq("yr"))
    val sig = Seq("yr=2023", "yr=2024", "yr=2025").map(fileSig(path, _))
    val empty = Seq.empty[(Long, String, Int, Double)].toDF("id", "v", "yr", "amt")
    val st1 = Merge.upsert(spark, path, empty, Seq("id"), Seq("yr"))
    val st2 = Merge.delete(spark, path, empty.select("id", "yr"), Seq("id"), Seq("yr"))
    assert(st1.rowsWritten == 0 && st2.rowsWritten == 0)
    assert(Seq("yr=2023", "yr=2024", "yr=2025").map(fileSig(path, _)) == sig)
  }

  test("escaped partition values: delete removes emptied dirs by their written names") {
    // Spark escapes some characters of partition values in directory
    // names (`a:b` is written `p=a%3Ab`): the emptied set must compare
    // names as written, never re-format `col=value`
    val path = tmpDir("graft-merge-esc") + "/t"
    val rows = Seq((1L, "a:b"), (2L, "x y"), (3L, "plain"), (4L, "plain"))
      .toDF("id", "p")
    graft.sources.Sinks.parquetPartitioned(rows, path, Seq("p"))
    val sigPlain = fileSig(path, "p=plain")

    val up = Merge.upsert(spark, path,
      Seq((1L, "a:b"), (9L, "a:b")).toDF("id", "p"), Seq("id"), Seq("p"))
    assert(up == Merge.MergeStats(1L, 1L, 1L, 2L))
    val st = Merge.delete(spark, path,
      Seq((1L, "a:b"), (9L, "a:b"), (2L, "x y")).toDF("id", "p"),
      Seq("id"), Seq("p"))
    assert(st == Merge.MergeStats(2L, 3L, 3L, 0L))
    assert(spark.read.parquet(path).select("id").as[Long].collect().toSet
      == Set(3L, 4L))
    assert(new java.io.File(path).list().filterNot(_.startsWith("_"))
      .filterNot(_.startsWith(".")).toSet == Set("p=plain"))
    assert(fileSig(path, "p=plain") == sigPlain)
  }

  test("date and timestamp partitions: upsert swaps and delete empties the right leaves") {
    import java.sql.{Date, Timestamp}
    val path = tmpDir("graft-merge-dt") + "/t"
    val (d1, d2) = (Date.valueOf("2024-01-01"), Date.valueOf("2024-01-02"))
    val (t1, t2) = (Timestamp.valueOf("2024-01-01 10:30:00"),
      Timestamp.valueOf("2024-01-01 11:45:00"))
    val rows = Seq((1L, d1, t1, "a"), (2L, d1, t2, "b"), (3L, d2, t1, "c"))
      .toDF("id", "d", "ts", "v")
    graft.sources.Sinks.parquetPartitioned(rows, path, Seq("d", "ts"))
    val leaves = new java.io.File(s"$path/d=2024-01-01").list().sorted.toSeq
    assert(leaves.size == 2)

    val up = Merge.upsert(spark, path,
      Seq((1L, d1, t1, "A!")).toDF("id", "d", "ts", "v"),
      Seq("id"), Seq("d", "ts"))
    assert(up == Merge.MergeStats(1L, 1L, 1L, 1L))
    // empties (d1, t2) and (d2, t1); (d1, t1) keeps its one row
    val st = Merge.delete(spark, path,
      Seq((2L, d1, t2), (3L, d2, t1)).toDF("id", "d", "ts"),
      Seq("id"), Seq("d", "ts"))
    assert(st == Merge.MergeStats(2L, 2L, 2L, 0L))
    assert(spark.read.parquet(path).select("id", "v").as[(Long, String)]
      .collect().toSeq == Seq((1L, "A!")))
    assert(!new java.io.File(s"$path/d=2024-01-02").list()
      .exists(_.startsWith("ts=")))
    assert(new java.io.File(s"$path/d=2024-01-01").list().toSeq == leaves.take(1))
  }

  test("upsert writes every row once: task recordsWritten equals rowsWritten") {
    val path = tmpDir("graft-merge-once") + "/t"
    graft.sources.Sinks.parquetPartitioned(base(), path, Seq("yr"))
    val batch = Seq((1L, "A!", 2023, 11.0), (4L, "D!", 2024, 44.0),
      (99L, "new", 2024, 99.0)).toDF("id", "v", "yr", "amt")
    val group = s"merge-once-${java.util.UUID.randomUUID()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val written = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          stages.add(e.stageInfo.stageId)
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          written.addAndGet(e.taskMetrics.outputMetrics.recordsWritten)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "one upsert")
      val st = try Merge.upsert(spark, path, batch, Seq("id"), Seq("yr"))
        finally sc.clearJobGroup()
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      assert(st == Merge.MergeStats(2L, 5L, 2L, 6L))
      assert(!stages.isEmpty)
      assert(written.get == st.rowsWritten,
        s"recordsWritten ${written.get} != rowsWritten ${st.rowsWritten}")
    } finally sc.removeSparkListener(listener)
  }

  test("a crashed attempt's leftover staging tree never reaches the table") {
    val path = tmpDir("graft-merge-leftover") + "/t"
    graft.sources.Sinks.parquetPartitioned(base(), path, Seq("yr"))
    // what a crash between the staged write and the swap leaves behind: a
    // staged leaf for a touched partition and one for an untouched one
    Seq((500L, "stale", 2024, 0.0), (501L, "stale", 2030, 0.0))
      .toDF("id", "v", "yr", "amt")
      .write.partitionBy("yr").parquet(s"${path}__graft_staging")
    val batch = Seq((4L, "D!", 2024, 44.0)).toDF("id", "v", "yr", "amt")
    val st = Merge.upsert(spark, path, batch, Seq("id"), Seq("yr"))
    assert(st == Merge.MergeStats(1L, 2L, 1L, 2L))
    assert(spark.read.parquet(path).select("id").as[Long].collect().toSet
      == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(!new java.io.File(s"$path/yr=2030").exists())
    assert(!new java.io.File(s"${path}__graft_staging").exists())
  }
}
