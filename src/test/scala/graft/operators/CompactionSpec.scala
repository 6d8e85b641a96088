package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def fileSig(path: String, part: String): Set[(String, Long, Long)] = {
    val base = new java.io.File(s"$path/$part")
    if (!base.exists()) Set.empty
    else base.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length(), f.lastModified())).toSet
  }

  test("compacts a many-small-files partition, leaves healthy partitions' files untouched") {
    val path = tmpDir("graft-compact") + "/t"
    // yr=1 fragmented into 8 files; yr=2 healthy with 1 file
    (1 to 400).map(i => (i.toLong, s"v$i", 1)).toDF("id", "v", "yr")
      .repartition(8)
      .write.partitionBy("yr").parquet(path)
    (1 to 50).map(i => (1000L + i, s"w$i", 2)).toDF("id", "v", "yr")
      .coalesce(1)
      .write.mode("append").partitionBy("yr").parquet(path)
    val sig2 = fileSig(path, "yr=2")
    assert(fileSig(path, "yr=1").size == 8)

    val st = Compaction.compact(spark, path, Seq("yr"), targetBytes = 1L << 30)
    assert(st.partitionsCompacted == 1)
    assert(fileSig(path, "yr=1").size == 1, "fragmented partition should coalesce to 1 file")
    assert(fileSig(path, "yr=2") == sig2, "healthy partition must keep its exact files")

    val got = spark.read.parquet(path).select("id", "v", "yr")
      .as[(Long, String, Int)].collect().toSet
    val want = ((1 to 400).map(i => (i.toLong, s"v$i", 1)) ++
      (1 to 50).map(i => (1000L + i, s"w$i", 2))).toSet
    assert(got == want, "compaction must be row-identical")
  }

  test("escaped string partition values: the fragmented directory is compacted in place") {
    val path = tmpDir("graft-compact-esc") + "/t"
    // `a:b` is written `p=a%3Ab`: the prune filter must match the value,
    // and the swap must land on the directory as written
    (1 to 200).map(i => (i.toLong, "a:b")).toDF("id", "p")
      .repartition(6).write.partitionBy("p").parquet(path)
    assert(fileSig(path, "p=a%3Ab").size == 6)
    val st = Compaction.compact(spark, path, Seq("p"), targetBytes = 1L << 30)
    assert(st == Compaction.CompactStats(1, 6, 1))
    assert(new java.io.File(path).list().filter(_.startsWith("p=")).toSeq
      == Seq("p=a%3Ab"))
    assert(spark.read.parquet(path).select("id", "p").as[(Long, String)]
      .collect().toSet == (1 to 200).map(i => (i.toLong, "a:b")).toSet)
  }

  test("respects the per-partition size target (multiple output files when bytes demand it)") {
    val path = tmpDir("graft-compact-sz") + "/t"
    (1 to 20000).map(i => (i.toLong, "x" * 100, 1)).toDF("id", "v", "yr")
      .repartition(32)
      .write.partitionBy("yr").parquet(path)
    val bytes = Compaction.stats(spark, path, Seq("yr")).head.bytes
    val target = bytes / 3 // expect ceil(bytes/target) = 3-4 files
    val st = Compaction.compact(spark, path, Seq("yr"), targetBytes = target)
    val after = fileSig(path, "yr=1").size
    assert(after < 32 && after <= 4, s"expected ~3-4 files, got $after")
    assert(spark.read.parquet(path).count() == 20000)
  }

  test("no-op when everything is healthy; stats lists every partition") {
    val path = tmpDir("graft-compact-noop") + "/t"
    Seq((1L, 1), (2L, 2)).toDF("id", "yr")
      .repartition(1)
      .write.partitionBy("yr").parquet(path)
    val sigs = Seq("yr=1", "yr=2").map(fileSig(path, _))
    val st = Compaction.compact(spark, path, Seq("yr"), targetBytes = 1L << 30)
    assert(st.partitionsCompacted == 0 && st.filesBefore == st.filesAfter)
    assert(Seq("yr=1", "yr=2").map(fileSig(path, _)) == sigs)
    assert(Compaction.stats(spark, path, Seq("yr")).size == 2)
  }

  test("two-level partitioning: stats walks leaves, compaction rewrites only fragmented ones") {
    val path = tmpDir("graft-compact-2lvl") + "/t"
    (1 to 200).map(i => (i.toLong, 2024, 1 + i % 2)).toDF("id", "yr", "mo")
      .repartition(6)
      .write.partitionBy("yr", "mo").parquet(path)
    val st0 = Compaction.stats(spark, path, Seq("yr", "mo"))
    assert(st0.size == 2 && st0.forall(_.values.head == "2024"))
    assert(st0.forall(_.files > 1))
    val st = Compaction.compact(spark, path, Seq("yr", "mo"), targetBytes = 1L << 30)
    assert(st.partitionsCompacted == 2)
    assert(fileSig(path, "yr=2024/mo=1").size == 1
      && fileSig(path, "yr=2024/mo=2").size == 1)
    assert(spark.read.parquet(path).count() == 200)
  }

  test("string partition columns round-trip through the dir-name parse") {
    val path = tmpDir("graft-compact-str") + "/t"
    (1 to 100).map(i => (i.toLong, if (i % 2 == 0) "en" else "de"))
      .toDF("id", "lang").repartition(6)
      .write.partitionBy("lang").parquet(path)
    val st = Compaction.compact(spark, path, Seq("lang"), targetBytes = 1L << 30)
    assert(st.partitionsCompacted == 2)
    assert(fileSig(path, "lang=en").size == 1 && fileSig(path, "lang=de").size == 1)
    assert(spark.read.parquet(path).groupBy("lang").count()
      .as[(String, Long)].collect().toSet == Set(("en", 50L), ("de", 50L)))
  }

  test("zorder mode: row-identical, packed to target count, clustering restored") {
    val path = tmpDir("graft-compact-z") + "/t"
    // one directory, 20k uniform 2-D points scattered across 16 files —
    // the post-ingest worst case: fragmented AND unclustered
    val rnd = new scala.util.Random(23)
    val pts = Seq.fill(20000)((rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong))
      .zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y, 1) }
      .toDF("id", "x", "y", "yr")
    pts.repartition(16).write.partitionBy("yr").parquet(path)
    assert(fileSig(path, "yr=1").size == 16)
    def filesTouched(): Long = spark.read.parquet(path)
      .filter(col("x").between(100, 199) && col("y").between(500, 599))
      .select(input_file_name()).distinct().count()
    assert(filesTouched() >= 12, "pre-compaction box should touch ~all files")

    // target enough bytes per file that the directory packs to ~4 files
    val bytes = fileSig(path, "yr=1").toSeq.map(_._2).sum
    val st = Compaction.compact(spark, path, Seq("yr"),
      targetBytes = bytes / 4 + 1, zorderBy = Seq("x", "y"))
    assert(st.partitionsCompacted == 1)
    val nAfter = fileSig(path, "yr=1").size
    assert(nAfter <= 5, s"expected ~4 packed files, got $nAfter")
    // equal-depth z-ranges: the 10%x10% box concentrates in a strict
    // minority of the packed files instead of being smeared over all
    assert(filesTouched() < nAfter,
      s"z-order not restored: box touches all $nAfter files")
    // maintenance must move rows, never change them
    val got = spark.read.parquet(path).select("id", "x", "y")
      .as[(Long, Long, Long)].collect().toSet
    val want = pts.select("id", "x", "y").as[(Long, Long, Long)].collect().toSet
    assert(got == want)
  }

  test("hilbert curve mode: a hilbert-laid-out table re-clusters in the same rewrite") {
    // z06's write-side layout fragments like any other; compact(curve =
    // "hilbert") restores it without a second rewrite — same locality
    // bar as the morton test, same row-identity contract, and the
    // manifest refresh rides the commit like every maintenance op.
    val path = tmpDir("graft-compact-h") + "/t"
    val man = tmpDir("graft-compact-h-man") + "/t"
    val rnd = new scala.util.Random(29)
    val pts = Seq.fill(20000)((rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong))
      .zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y, 1) }
      .toDF("id", "x", "y", "yr")
    pts.repartition(16).write.partitionBy("yr").parquet(path)
    FileManifest.build(spark, path, Seq("x", "y"), man)
    def filesTouched(): Long = spark.read.parquet(path)
      .filter(col("x").between(100, 199) && col("y").between(500, 599))
      .select(input_file_name()).distinct().count()
    assert(filesTouched() >= 12, "pre-compaction box should touch ~all files")

    val bytes = fileSig(path, "yr=1").toSeq.map(_._2).sum
    val st = Compaction.compact(spark, path, Seq("yr"),
      targetBytes = bytes / 4 + 1, zorderBy = Seq("x", "y"),
      curve = "hilbert", manifestPath = Some(man))
    assert(st.partitionsCompacted == 1)
    val nAfter = fileSig(path, "yr=1").size
    assert(nAfter <= 5, s"expected ~4 packed files, got $nAfter")
    assert(filesTouched() < nAfter,
      s"hilbert clustering not restored: box touches all $nAfter files")
    val got = spark.read.parquet(path).select("id", "x", "y")
      .as[(Long, Long, Long)].collect().toSet
    val want = pts.select("id", "x", "y").as[(Long, Long, Long)].collect().toSet
    assert(got == want)
    // the manifest half of the commit held: live files exactly covered,
    // and a pruned read through it answers over the re-clustered layout
    val after = spark.read.parquet(man).select("file").as[String].collect().toSet
    assert(after == spark.read.parquet(path).inputFiles.toSet)
    val (df, ps) = FileManifest.prunedRead(spark, path, man,
      Seq(("x", 100L, 199L), ("y", 500L, 599L)))
    assert(ps.filesSelected < ps.filesTotal,
      "post-compaction manifest should prune through the restored clustering")
    assert(df.count() == pts.filter(col("x").between(100, 199) &&
      col("y").between(500, 599)).count())
  }

  test("unknown curve fails loud before any file is touched") {
    val path = tmpDir("graft-compact-badcurve") + "/t"
    (1 to 100).map(i => (i.toLong, i % 10L, i % 7L, 1)).toDF("id", "x", "y", "yr")
      .repartition(4).write.partitionBy("yr").parquet(path)
    val sig = fileSig(path, "yr=1")
    intercept[IllegalArgumentException] {
      Compaction.compact(spark, path, Seq("yr"), targetBytes = 1L,
        zorderBy = Seq("x", "y"), curve = "peano")
    }
    // hilbert is 2-D: a 3-column config must also fail eagerly, not after
    // the stats walk inside Layout.hilbertValue
    intercept[IllegalArgumentException] {
      Compaction.compact(spark, path, Seq("yr"), targetBytes = 1L,
        zorderBy = Seq("x", "y", "id"), curve = "hilbert")
    }
    assert(fileSig(path, "yr=1") == sig, "failed compaction must leave files untouched")
  }
}
