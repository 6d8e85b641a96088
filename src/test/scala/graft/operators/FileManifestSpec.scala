package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FileManifestSpec extends SparkSpec {
  import spark.implicits._

  test("range read via the manifest skips non-intersecting files, result row-identical") {
    val base = tmpDir("graft-fm")
    val (table, man) = (s"$base/t", s"$base/m")
    // 8 files with tight, disjoint id ranges (sorted write = the z01 idea)
    spark.range(0, 8000).select(col("id"), (col("id") % 97).as("v"))
      .repartitionByRange(8, col("id")).sortWithinPartitions("id")
      .write.parquet(table)
    FileManifest.build(spark, table, Seq("id"), man)
    assert(spark.read.parquet(man).count() == 8)

    val (df, st) = FileManifest.prunedRead(spark, table, man,
      Seq(("id", 2000L, 2999L)))
    assert(st.filesTotal == 8 && st.filesSelected <= 2,
      s"expected <=2 of 8 files, got ${st.filesSelected}")
    val want = spark.read.parquet(table)
      .filter(col("id") >= 2000L && col("id") <= 2999L)
      .select("id", "v").collect().map(_.toString).sorted
    val got = df.select("id", "v").collect().map(_.toString).sorted
    assert(got.sameElements(want), "pruned read must be row-identical to full scan")
  }

  test("conjunctive ranges intersect per column; no match returns empty with schema") {
    val base = tmpDir("graft-fm2")
    val (table, man) = (s"$base/t", s"$base/m")
    spark.range(0, 1000).select(col("id"), (col("id") * 2).as("w"))
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.parquet(table)
    FileManifest.build(spark, table, Seq("id", "w"), man)
    val (df1, st1) = FileManifest.prunedRead(spark, table, man,
      Seq(("id", 100L, 200L), ("w", 300L, 350L)))
    // w = 2*id: [300,350] -> id in [150,175], inside the id range too
    assert(df1.count() == 26 && st1.filesSelected < st1.filesTotal)
    // disjoint from every file's range
    val (df2, st2) = FileManifest.prunedRead(spark, table, man,
      Seq(("id", 5000L, 6000L)))
    assert(st2.filesSelected == 0 && df2.count() == 0)
    assert(df2.columns.toSeq == Seq("id", "w"), "empty result keeps the schema")
  }

  test("incremental refresh rides the delta: new files added, vanished dropped, rest kept") {
    val base = tmpDir("graft-fm4")
    val (table, man) = (s"$base/t", s"$base/m")
    spark.range(0, 100).select(col("id")).coalesce(1).write.parquet(table)
    FileManifest.build(spark, table, Seq("id"), man)
    // ingest delta: one new file with a disjoint range
    spark.range(1000, 1100).select(col("id")).coalesce(1)
      .write.mode("append").parquet(table)
    val st = FileManifest.refresh(spark, table, Seq("id"), man)
    assert(st.filesAdded == 1 && st.filesDropped == 0 && st.filesKept == 1)
    // the refreshed manifest prunes correctly across old + new ranges
    val (df, ps) = FileManifest.prunedRead(spark, table, man, Seq(("id", 1050L, 1060L)))
    assert(ps.filesTotal == 2 && ps.filesSelected == 1 && df.count() == 11)
    // merge-style rewrite: drop the old file, keep the new one
    val old = spark.read.parquet(man).orderBy("min_id")
      .select("file").head().getString(0)
    val fs = new org.apache.hadoop.fs.Path(old)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(old), false)
    val st2 = FileManifest.refresh(spark, table, Seq("id"), man)
    assert(st2.filesDropped == 1 && st2.filesKept == 1 && st2.filesAdded == 0)
    assert(spark.read.parquet(man).count() == 1)
  }

  test("countFast: contained files counted from stats, only boundary files scanned") {
    val base = tmpDir("graft-fm5")
    val (table, man) = (s"$base/t", s"$base/m")
    spark.range(0, 8000).select(col("id"))
      .repartitionByRange(8, col("id")).sortWithinPartitions("id")
      .write.parquet(table)
    FileManifest.build(spark, table, Seq("id"), man)
    // [1500, 4499]: files [2000,2999] and [3000,3999] fully contained,
    // [1000,1999] and [4000,4999] are boundary scans
    val (n, st) = FileManifest.countFast(spark, table, man, Seq(("id", 1500L, 4499L)))
    assert(n == 3000L)
    assert(st.filesSelected <= 2, s"expected <=2 boundary files, got ${st.filesSelected}")
    // fully-contained range: zero files scanned
    val (n2, st2) = FileManifest.countFast(spark, table, man, Seq(("id", 0L, 7999L)))
    assert(n2 == 8000L && st2.filesSelected == 0)
  }

  test("per-file blooms prune point lookups range stats cannot, with no false negatives") {
    val base = tmpDir("graft-fm6")
    val (table, man) = (s"$base/t", s"$base/m")
    // keys SHUFFLED across files (hash partitioning): every file's id
    // range spans ~[0, 8000), so range stats prune nothing — the bloom
    // is the only lever
    spark.range(0, 8000).select(col("id"), (col("id") % 13).as("v"))
      .repartition(8, col("id"))
      .write.parquet(table)
    FileManifest.buildWithBloom(spark, table, Seq("id"), Seq("id"), man,
      expectedPerFile = 2000L)
    // range stats indeed useless here
    val (_, rangeSt) = FileManifest.prunedRead(spark, table, man, Seq(("id", 42L, 42L)))
    assert(rangeSt.filesSelected >= 7, "shuffled layout should defeat range pruning")
    // bloom point lookup: few files survive, exact rows come back
    val (df, st) = FileManifest.prunedReadPoint(spark, table, man, "id",
      Seq(17L, 423L, 7001L))
    assert(st.filesTotal == 8 && st.filesSelected <= 4,
      s"bloom should prune most files, kept ${st.filesSelected}")
    assert(df.select("id").as[Long].collect().toSet == Set(17L, 423L, 7001L),
      "no false negatives: every looked-up key must come back")
  }

  test("refresh membership plans as a broadcast semi-join, never an In-literal list") {
    val base = tmpDir("graft-fm7")
    val (table, man) = (s"$base/t", s"$base/m")
    // 128 files — small enough to build fast, enough that an In-list would
    // already be an expression-tree smell; the assertion is on the PLAN
    // SHAPE, which is what survives to the 10^6-file design scale
    spark.range(0, 12800).select(col("id"))
      .repartition(128).write.parquet(table)
    FileManifest.build(spark, table, Seq("id"), man)
    val m = spark.read.parquet(man)
    val current = spark.read.parquet(table).inputFiles.toSeq.sorted
    val currentDf = spark.createDataset(current)(
      org.apache.spark.sql.Encoders.STRING).toDF("file")
    val kept = FileManifest.keepCurrent(m, currentDf)
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"kept-file membership must be a semi-join:\n$plan")
    assert(!plan.contains(" IN (") && !plan.contains("isin"),
      s"membership must not plan as an In-literal list:\n$plan")
    assert(kept.count() == 128)
    // end-to-end refresh over the same 128-file manifest stays correct
    spark.range(20000, 20100).coalesce(1).write.mode("append").parquet(table)
    val st = FileManifest.refresh(spark, table, Seq("id"), man)
    assert(st.filesAdded == 1 && st.filesDropped == 0 && st.filesKept == 128)
  }

  test("merge commit refreshes the manifest: vanished files never served, new rows visible") {
    val base = tmpDir("graft-fm8")
    val (table, man) = (s"$base/t", s"$base/m")
    spark.range(0, 2000)
      .select(col("id"), (col("id") % 2).cast("int").as("part"),
        (col("id") * 10).as("v"))
      .write.partitionBy("part").parquet(table)
    FileManifest.build(spark, table, Seq("id"), man)
    val before = spark.read.parquet(man).select("file").as[String].collect().toSet

    // COW merge rewrites part=1 wholesale; with manifestPath the commit
    // refreshes the manifest in the same call
    val batch = spark.range(0, 2000).filter(col("id") % 10 === 1)
      .select(col("id"), lit(1).as("part"), lit(-5L).as("v"))
    Merge.upsert(spark, table, batch,
      keyCols = Seq("id"), partCols = Seq("part"),
      manifestPath = Some(man))

    val after = spark.read.parquet(man).select("file").as[String].collect().toSet
    val live = spark.read.parquet(table).inputFiles.toSet
    assert(after.subsetOf(live), "refreshed manifest must never hold a vanished file")
    assert(live.subsetOf(after), "refreshed manifest must cover every live file")
    assert(after != before, "the part=1 rewrite must have changed the manifest")

    // the pruned read through the refreshed manifest sees the merged rows
    val (df, _) = FileManifest.prunedRead(spark, table, man, Seq(("id", 0L, 1999L)))
    assert(df.filter(col("v") === -5L).count() == 200,
      "post-merge pruned read must surface every upserted row")
    assert(df.count() == 2000)

    // control: the same merge WITHOUT manifestPath leaves a stale manifest
    // whose paths are gone — the failure mode the wiring exists to prevent
    val base2 = tmpDir("graft-fm9")
    val (table2, man2) = (s"$base2/t", s"$base2/m")
    spark.range(0, 2000)
      .select(col("id"), (col("id") % 2).cast("int").as("part"),
        (col("id") * 10).as("v"))
      .write.partitionBy("part").parquet(table2)
    FileManifest.build(spark, table2, Seq("id"), man2)
    Merge.upsert(spark, table2, batch, keyCols = Seq("id"), partCols = Seq("part"))
    val stale = spark.read.parquet(man2).select("file").as[String].collect().toSet
    val live2 = spark.read.parquet(table2).inputFiles.toSet
    assert(!stale.subsetOf(live2),
      "without the commit-side refresh the manifest must be stale (the hazard is real)")
  }

  test("compaction commit refreshes the manifest through the same contract") {
    val base = tmpDir("graft-fm10")
    val (table, man) = (s"$base/t", s"$base/m")
    spark.range(0, 4000)
      .select(col("id"), lit(1).cast("int").as("part"))
      .repartition(8).write.partitionBy("part").parquet(table)
    FileManifest.build(spark, table, Seq("id"), man)
    assert(spark.read.parquet(man).count() == 8)
    val st = Compaction.compact(spark, table, Seq("part"),
      targetBytes = 1L << 30, manifestPath = Some(man))
    assert(st.partitionsCompacted == 1)
    val after = spark.read.parquet(man).select("file").as[String].collect().toSet
    val live = spark.read.parquet(table).inputFiles.toSet
    assert(after == live, "post-compaction manifest must describe exactly the live files")
    val (df, ps) = FileManifest.prunedRead(spark, table, man, Seq(("id", 0L, 3999L)))
    assert(df.count() == 4000 && ps.filesTotal == after.size.toLong)
  }

  test("schema-derived refresh rebuilds bloom stats with the stored bit size") {
    val base = tmpDir("graft-fm11")
    val (table, man) = (s"$base/t", s"$base/m")
    spark.range(0, 4000).select(col("id"), (col("id") % 7).as("v"))
      .repartition(4, col("id")).write.parquet(table)
    FileManifest.buildWithBloom(spark, table, Seq("v"), Seq("id"), man,
      expectedPerFile = 1000L)
    // new ingest file, then the cols-free refresh (as a maintenance commit
    // would call it): bloom_id must be rebuilt for the new file
    spark.range(100000, 100100).select(col("id"), (col("id") % 7).as("v"))
      .coalesce(1).write.mode("append").parquet(table)
    val st = FileManifest.refresh(spark, table, man)
    assert(st.filesAdded == 1 && st.filesKept == 4)
    val (df, ps) = FileManifest.prunedReadPoint(spark, table, man, "id",
      Seq(100050L, 17L))
    assert(df.select("id").as[Long].collect().toSet == Set(100050L, 17L),
      "a key in the refresh-added file must be findable through its new bloom")
    assert(ps.filesTotal == 5)
  }

  test("crash between commit and refresh fails every manifest read loud, refresh heals") {
    // Simulates the exact window VERDICT r12 Missing #1 names: a driver
    // crash after Merge's commit rename but before its manifest refresh.
    // A manifestPath-less upsert IS that state — the commit bumped the
    // table generation, nothing refreshed the manifest.
    val base = tmpDir("graft-fm12")
    val (table, man) = (s"$base/t", s"$base/m")
    spark.range(0, 2000)
      .select(col("id"), (col("id") % 2).cast("int").as("part"),
        (col("id") * 10).as("v"))
      .write.partitionBy("part").parquet(table)
    FileManifest.buildWithBloom(spark, table, Seq("id"), Seq("id"), man,
      expectedPerFile = 2000L)
    // sanity: aligned stamps serve reads
    assert(FileManifest.readStamp(spark, table) ==
      FileManifest.readStamp(spark, man))
    assert(FileManifest.prunedRead(spark, table, man,
      Seq(("id", 0L, 99L)))._1.count() == 100)

    val batch = spark.range(0, 2000).filter(col("id") % 10 === 1)
      .select(col("id"), lit(1).as("part"), lit(-5L).as("v"))
    Merge.upsert(spark, table, batch, keyCols = Seq("id"), partCols = Seq("part"))

    // every manifest read path must now raise, not serve vanished files
    val e1 = intercept[IllegalStateException] {
      FileManifest.prunedRead(spark, table, man, Seq(("id", 0L, 99L)))
    }
    assert(e1.getMessage.contains("generation"), e1.getMessage)
    intercept[IllegalStateException] {
      FileManifest.countFast(spark, table, man, Seq(("id", 0L, 99L)))
    }
    intercept[IllegalStateException] {
      FileManifest.prunedReadPoint(spark, table, man, "id", Seq(17L))
    }

    // one refresh re-aligns the stamps and the healed read serves the
    // POST-merge rows
    FileManifest.refresh(spark, table, man)
    val (df, _) = FileManifest.prunedRead(spark, table, man, Seq(("id", 0L, 1999L)))
    assert(df.filter(col("v") === -5L).count() == 200)
    assert(df.count() == 2000)
  }

  test("never-stamped tables verify trivially: externally-built manifests keep working") {
    val base = tmpDir("graft-fm13")
    val (table, man) = (s"$base/t", s"$base/m")
    spark.range(0, 100).select(col("id")).coalesce(1).write.parquet(table)
    FileManifest.build(spark, table, Seq("id"), man)
    // wipe both stamps — the pre-stamp world (or a table written by a
    // foreign engine); reads must not demand a stamp that never existed
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(table, "_graft_generation"), false)
    fs.delete(new org.apache.hadoop.fs.Path(man, "_graft_generation"), false)
    assert(FileManifest.prunedRead(spark, table, man,
      Seq(("id", 0L, 49L)))._1.count() == 50)
  }

  test("bloom probe plans without a ScalaUDF node") {
    val base = tmpDir("graft-fm14")
    val (table, man) = (s"$base/t", s"$base/m")
    spark.range(0, 4000).select(col("id"))
      .repartition(4, col("id")).write.parquet(table)
    FileManifest.buildWithBloom(spark, table, Nil, Seq("id"), man,
      expectedPerFile = 1000L)
    val probe = FileManifest.bloomProbe(
      spark, spark.read.parquet(man), "id", Seq(17L, 423L))
    val plan = probe.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"),
      s"manifest bloom probe must not pay the per-row UDF bridge:\n$plan")
    // and it still finds the keys' files (no false negatives end to end)
    val (df, _) = FileManifest.prunedReadPoint(spark, table, man, "id",
      Seq(17L, 423L))
    assert(df.select("id").as[Long].collect().toSet == Set(17L, 423L))
  }

  test("files with NULL stats for a predicated column are kept, never wrongly skipped") {
    val base = tmpDir("graft-fm3")
    val (table, man) = (s"$base/t", s"$base/m")
    Seq((1L, Some(5L)), (2L, Some(6L))).toDF("id", "x")
      .coalesce(1).write.parquet(table)
    Seq((3L, None: Option[Long]), (4L, None)).toDF("id", "x")
      .coalesce(1).write.mode("append").parquet(table)
    FileManifest.build(spark, table, Seq("x"), man)
    val (_, st) = FileManifest.prunedRead(spark, table, man, Seq(("x", 100L, 200L)))
    // the all-null file cannot prove non-overlap -> kept; the (5,6) file skipped
    assert(st.filesTotal == 2 && st.filesSelected == 1)
  }
}
