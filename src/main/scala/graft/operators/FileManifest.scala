package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file min/max statistics manifest — the poor-man's Iceberg/Delta
  * manifest on plain parquet: a tiny stored table of (file, rows, per-
  * column min/max) built once at write time; a range query intersects its
  * predicate with the ranges and hands Spark ONLY the surviving files.
  *
  * Why this exists when parquet already has footer stats: the footer must
  * be OPENED per file per query — at 100 TB with 10⁶ files that is 10⁶
  * remote reads (and their latency) before the first row group is
  * considered. The manifest turns file-level skipping into ONE scan of a
  * KB-scale metadata table. The three scan levers now stack cleanly:
  * partition pruning (pp01/pp02) skips directories from the listing,
  * the manifest skips FILES from a stored table, footer stats skip ROW
  * GROUPS inside the files that survive. [[Layout.zorderWrite]] is the
  * write-side half: clustering makes per-file ranges tight, which is what
  * gives the intersection test its selectivity (z01 measures the
  * clustering; z02 measures the skip).
  *
  * Freshness contract: the manifest describes the files it was built
  * from — and the maintenance commits keep it that way MECHANICALLY:
  * [[Merge.upsert]]/[[Merge.delete]] and [[Compaction.compact]] accept a
  * `manifestPath` and call [[refresh]] inside the commit (after the
  * rename, before returning), so a pruned read issued after the commit
  * never sees a vanished file and always sees the rewritten ones. The
  * schema-derived [[refresh]] recovers the stat columns (ranges AND
  * blooms) from the manifest itself. A manifest maintained outside the
  * operators still follows the secondary-index discipline: refresh after
  * every rewrite.
  *
  * == Generation stamps: the crash-safety half of the freshness contract ==
  *
  * "Refresh inside the commit" is mechanical but not ATOMIC: a driver
  * crash between the maintenance commit and the refresh leaves a fresh
  * table with a stale manifest whose listed files no longer exist — a
  * pruned read would hand Spark dead paths, and [[countFast]]'s stored
  * row counts could silently answer from the pre-commit state. So the
  * manifest is version-stamped, as table formats do. Every mutation
  * ([[Merge.upsert]]/[[Merge.delete]]/[[Compaction.compact]]) writes a
  * fresh generation id to `<table>/_graft_generation` BEFORE touching any
  * file; the manifest commits with the table's stamp inside it
  * ([[Commit]]); every manifest
  * read path ([[prunedRead]]/[[prunedReadPoint]]/[[countFast]]) verifies
  * the two stamps match and FAILS LOUD on mismatch (IllegalStateException
  * naming the fix: refresh). The fail-loud window thus covers the entire
  * mutation — stamp-bump to refresh — and a table whose stamp was never
  * written (no graft-managed commits yet) verifies trivially, so
  * externally-maintained manifests keep working. Underscore-prefixed
  * files are invisible to parquet scans and hive partition discovery
  * (the `_SUCCESS` convention), so the stamp never perturbs reads.
  */
object FileManifest {

  final case class PruneStats(filesTotal: Long, filesSelected: Long)

  private val StampFile = "_graft_generation"

  /** Write a generation stamp into `dir` (table root or manifest root)
    * through [[Commit]]: a reader never observes a half-written stamp (a
    * phantom third generation), and a crash leaves the old stamp or the
    * new one. Writers don't race each other: the single maintenance
    * driver is the COW contract. */
  private[operators] def writeStamp(
      spark: SparkSession, dir: String, gen: String): Unit =
    Commit.replace(spark, s"${dir.stripSuffix("/")}/$StampFile") { staged =>
      val out = Commit.fs(spark, staged).create(new org.apache.hadoop.fs.Path(staged), true)
      try out.write(gen.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }

  /** The generation currently stamped on `dir`, None if never stamped —
    * both the directory and the stamp resolve through [[Commit]], so a
    * crash mid-publish of either still reads the committed stamp. */
  def readStamp(spark: SparkSession, dir: String): Option[String] = {
    val f = Commit.resolve(spark, s"${Commit.resolve(spark, dir)}/$StampFile")
    try {
      val in = Commit.fs(spark, f).open(new org.apache.hadoop.fs.Path(f))
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Bump the table's generation — called by every maintenance operator
    * BEFORE its first file mutation, so the stamp-mismatch window covers
    * the whole commit (a crash mid-commit leaves table gen ≠ manifest gen
    * and every manifest read fails loud until a refresh). */
  private[operators] def bumpGeneration(
      spark: SparkSession, tablePath: String): String = {
    val gen = java.util.UUID.randomUUID().toString
    writeStamp(spark, tablePath, gen)
    gen
  }

  /** Fail loud when the manifest's recorded generation does not match the
    * table's — the state a crash between commit and refresh leaves behind.
    * A never-stamped table (no graft-managed commit yet) verifies
    * trivially; a stamped table REQUIRES the manifest to carry the same
    * stamp (a manifest built before stamping reads as None → mismatch →
    * the fix is one refresh). */
  private def verifyGeneration(
      spark: SparkSession, tablePath: String, manifestPath: String): Unit =
    readStamp(spark, tablePath).foreach { tg =>
      val mg = readStamp(spark, manifestPath)
      if (!mg.contains(tg)) throw new IllegalStateException(
        s"stale manifest at $manifestPath: table $tablePath is at generation " +
          s"$tg but the manifest records ${mg.getOrElse("<none>")} — a " +
          "maintenance commit ran without its manifest refresh (crash " +
          "window, or a manifestPath-less Merge/Compaction call); run " +
          "FileManifest.refresh before pruned reads")
    }

  /** Build the manifest for `cols` over every file of the table at
    * `tablePath` and store it at `manifestPath`. One scan of the table
    * (column-pruned to `cols`) — the write-time cost; at corpus scale
    * this rides the ingest job that just wrote the files. */
  def build(
      spark: SparkSession,
      tablePath: String,
      cols: Seq[String],
      manifestPath: String
  ): Unit = {
    require(cols.nonEmpty, "cols must be non-empty")
    val aggs = statAggs(cols, Nil, 0L, 0L)
    publish(spark, tablePath, manifestPath, spark.read.parquet(tablePath)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*))
  }

  /** Publish `manifest` at `manifestPath` through [[Commit]], stamped
    * with the table's generation INSIDE the staged directory, so the
    * manifest and its stamp commit in one rename (the table is stamped
    * first if it never was, so the stamp discipline starts at build
    * time). */
  private def publish(spark: SparkSession, tablePath: String,
      manifestPath: String, manifest: DataFrame): Unit = {
    val gen = readStamp(spark, tablePath)
      .getOrElse(bumpGeneration(spark, tablePath))
    Commit.replace(spark, manifestPath) { staged =>
      manifest.coalesce(1).write.parquet(staged)
      writeStamp(spark, staged, gen)
    }
  }

  final case class RefreshStats(filesAdded: Long, filesDropped: Long, filesKept: Long)

  /** Manifest rows for files still present in the table — membership as a
    * broadcast SEMI JOIN against the current file listing, never an `isin`
    * literal list: at the 10⁶-file scale this operator is designed for, an
    * In-expression is a million-element expression tree (analysis-time
    * cost, 64 KB codegen limits) and a linear per-row membership scan; the
    * hash join is O(1) per manifest row. Spec-asserted (FileManifestSpec
    * pins LeftSemi-and-no-In on this exact plan). */
  private[graft] def keepCurrent(m: DataFrame, currentFiles: DataFrame): DataFrame =
    m.join(broadcast(currentFiles), Seq("file"), "left_semi")

  private def fileListDf(spark: SparkSession, files: Seq[String]): DataFrame =
    spark.createDataset(files)(org.apache.spark.sql.Encoders.STRING).toDF("file")

  /** Incremental refresh after the table changed (Merge commit,
    * Compaction, new ingest files): stats are computed ONLY for files not
    * yet in the manifest, rows for vanished files are dropped, everything
    * else is carried over untouched — the manifest update rides the
    * ingest delta instead of rescanning the table. This is the freshness
    * half of the manifest contract; a daily-ingest layout refreshes in
    * O(|today's files|). Membership tests are joins against the file
    * listing (see [[keepCurrent]]); only the ADDED files' names are
    * collected, because the reader needs concrete paths — planner-scale
    * metadata proportional to the delta, not the table. */
  def refresh(
      spark: SparkSession,
      tablePath: String,
      cols: Seq[String],
      manifestPath: String
  ): RefreshStats = {
    require(cols.nonEmpty, "cols must be non-empty")
    refreshImpl(spark, tablePath, cols, Nil, manifestPath)
  }

  /** Schema-derived refresh: the stat columns are recovered from the
    * manifest itself (`min_*`/`max_*` pairs → range stats, `bloom_*` →
    * per-file blooms, sized like the stored ones — each serialized bloom
    * self-describes its bit count, sniffed from any existing row), so a
    * maintenance commit ([[Merge]]/[[Compaction]] with `manifestPath`) can
    * refresh whatever manifest flavor the table owner built without being
    * told its configuration. */
  def refresh(
      spark: SparkSession,
      tablePath: String,
      manifestPath: String
  ): RefreshStats = {
    val schema = spark.read.parquet(Commit.resolve(spark, manifestPath)).schema
    val rangeCols = schema.fieldNames.toSeq.collect {
      case f if f.startsWith("min_") => f.stripPrefix("min_")
    }
    val bloomCols = schema.fieldNames.toSeq.collect {
      case f if f.startsWith("bloom_") => f.stripPrefix("bloom_")
    }
    require(rangeCols.nonEmpty || bloomCols.nonEmpty,
      s"manifest at $manifestPath carries no min_*/max_*/bloom_* stat columns")
    refreshImpl(spark, tablePath, rangeCols, bloomCols, manifestPath)
  }

  private def refreshImpl(
      spark: SparkSession,
      tablePath: String,
      rangeCols: Seq[String],
      bloomCols: Seq[String],
      manifestPath: String
  ): RefreshStats = {
    Commit.recover(spark, manifestPath)
    // inputFiles is the driver's directory listing — the same metadata any
    // scan of the table already materializes
    val current = spark.read.parquet(tablePath).inputFiles.toSeq.sorted
    val currentDf = fileListDf(spark, current)
    val m = spark.read.parquet(manifestPath)
    val knownTotal = m.count()
    val dropped = m.join(broadcast(currentDf), Seq("file"), "left_anti").count()
    val kept = keepCurrent(m, currentDf)
    // new files: anti-join, then collect — the parquet reader needs the
    // concrete paths, and the set is delta-sized by construction
    val added = currentDf.join(m.select("file"), Seq("file"), "left_anti")
      .collect().map(_.getString(0)).sorted.toSeq
    val bloomBits: Long =
      if (bloomCols.isEmpty || added.isEmpty) 0L
      else sniffBloomBits(m, bloomCols.head)
        .getOrElse(RuntimeFilter.optimalNumBits(100000L, 0.01))
    val aggs = statAggs(rangeCols, bloomCols, 100000L, bloomBits)
    val fresh =
      if (added.isEmpty) kept
      else kept.unionByName(
        spark.read.parquet(added: _*)
          .groupBy(input_file_name().as("file"))
          .agg(aggs.head, aggs.tail: _*))
    // staged beside and swapped in: the manifest is read by the union
    // above, and a half-written manifest must never be observable
    publish(spark, tablePath, manifestPath, fresh)
    RefreshStats(added.length.toLong, dropped, knownTotal - dropped)
  }

  /** Bit size of the stored blooms, read from any one serialized filter
    * (the format self-describes). A refresh-built bloom thus matches the
    * stored generation's size; hash-count may differ across generations,
    * which is safe — every probe deserializes the row's own filter. */
  private def sniffBloomBits(m: DataFrame, bloomCol: String): Option[Long] =
    m.select(col(s"bloom_$bloomCol")).filter(col(s"bloom_$bloomCol").isNotNull)
      .head(1).headOption.map { r =>
        org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](0)))
          .bitSize()
      }

  private def statAggs(
      rangeCols: Seq[String], bloomCols: Seq[String],
      expectedPerFile: Long, numBits: Long): Seq[Column] =
    rangeCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) ++
      bloomCols.map(c =>
        RuntimeFilter.bloomAgg(col(c), expectedPerFile, numBits).as(s"bloom_$c")) :+
      count(lit(1)).as("n_rows")

  /** Files whose [min, max] range intersects every `(col, lo, hi)`
    * predicate. Files with NULL stats for a predicated column are KEPT
    * (all-null files can't prove non-overlap — conservative, never
    * wrong). */
  private def selectFiles(
      spark: SparkSession,
      manifestPath: String,
      ranges: Seq[(String, Any, Any)]
  ): (Seq[String], PruneStats) = {
    val m = spark.read.parquet(Commit.resolve(spark, manifestPath))
    val total = m.count()
    val cond = ranges.map { case (c, lo, hi) =>
      col(s"min_$c").isNull || col(s"max_$c").isNull ||
        (col(s"min_$c") <= lit(hi) && col(s"max_$c") >= lit(lo))
    }.reduceOption(_ && _).getOrElse(lit(true))
    val files = m.filter(cond).select("file").collect().map(_.getString(0)).toSeq
    (files, PruneStats(total, files.length.toLong))
  }

  /** Pruning-aware COUNT: files whose stats prove FULL containment in the
    * range contribute their stored `n_rows` without being touched; only
    * boundary files (intersecting but not contained) are scanned, with
    * the row filter applied. At 100 TB a count over a clustered column
    * costs a manifest scan plus the two boundary files — the
    * metadata-only count a table format's planner performs. NULL-stats
    * files are never counted as contained (they get scanned). */
  def countFast(
      spark: SparkSession,
      tablePath: String,
      manifestPath: String,
      ranges: Seq[(String, Any, Any)]
  ): (Long, PruneStats) = {
    require(ranges.nonEmpty, "ranges must be non-empty")
    verifyGeneration(spark, tablePath, manifestPath)
    val m = spark.read.parquet(Commit.resolve(spark, manifestPath))
    val intersects = ranges.map { case (c, lo, hi) =>
      col(s"min_$c").isNull || col(s"max_$c").isNull ||
        (col(s"min_$c") <= lit(hi) && col(s"max_$c") >= lit(lo))
    }.reduce(_ && _)
    val contained = ranges.map { case (c, lo, hi) =>
      col(s"min_$c").isNotNull && col(s"max_$c").isNotNull &&
        col(s"min_$c") >= lit(lo) && col(s"max_$c") <= lit(hi)
    }.reduce(_ && _)
    val rows = m.filter(intersects)
      .select(col("file"), col("n_rows"), contained.as("__in"))
      .collect()
    val free = rows.filter(_.getBoolean(2)).map(_.getLong(1)).sum
    val boundary = rows.filterNot(_.getBoolean(2)).map(_.getString(0)).toSeq
    val rowFilter = ranges.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    val scanned =
      if (boundary.isEmpty) 0L
      else readFiles(spark, tablePath, boundary).filter(rowFilter).count()
    (free + scanned, PruneStats(m.count(), boundary.length.toLong))
  }

  /** Build with per-file BLOOM FILTERS alongside the min/max stats: point
    * lookups on high-cardinality columns that range stats cannot prune
    * (unique keys interleaved across files by a multi-column layout)
    * prune by membership instead. Reuses the engine's own
    * BloomFilterAggregate ([[RuntimeFilter.bloomAgg]], xxhash64-keyed);
    * `expectedPerFile` sizes each file's filter (~1.2 KB per 1k keys at
    * 1% FP — the manifest stays KB-scale per file). */
  def buildWithBloom(
      spark: SparkSession,
      tablePath: String,
      rangeCols: Seq[String],
      bloomCols: Seq[String],
      manifestPath: String,
      expectedPerFile: Long = 100000L,
      fpp: Double = 0.01
  ): Unit = {
    require(rangeCols.nonEmpty || bloomCols.nonEmpty, "need at least one indexed column")
    val bits = RuntimeFilter.optimalNumBits(expectedPerFile, fpp)
    val aggs = statAggs(rangeCols, bloomCols, expectedPerFile, bits)
    publish(spark, tablePath, manifestPath, spark.read.parquet(tablePath)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*))
  }

  /** Point-lookup read through the per-file blooms: keeps files whose
    * bloom MIGHT contain any of `values` (no false negatives — a present
    * key's file always survives), scans only those, applies the exact
    * `isin` filter. The membership test runs ON the manifest scan (one
    * row per file; the blooms never leave the executors — at 10⁶ files
    * collecting MB-scale blooms to the driver would itself be the
    * bottleneck); only surviving file NAMES are collected. */
  def prunedReadPoint(
      spark: SparkSession,
      tablePath: String,
      manifestPath: String,
      column: String,
      values: Seq[Any]
  ): (DataFrame, PruneStats) = {
    require(values.nonEmpty, "values must be non-empty")
    verifyGeneration(spark, tablePath, manifestPath)
    val m = spark.read.parquet(Commit.resolve(spark, manifestPath))
    val total = m.count()
    val files = bloomProbe(spark, m, column, values)
      .collect().sorted.toSeq
    // exact filter as a broadcast SEMI JOIN against the values, not an
    // `isin` literal list: a point-lookup batch can carry thousands of
    // keys (a CDC key feed, a deletion list), and an In-expression is
    // linear per row with a giant expression tree; the hash semi-join is
    // O(1) per row and AQE-planned like any other join.
    val valuesDf = spark.range(1)
      .select(explode(array(values.map(lit).toIndexedSeq: _*)).as(column))
      .distinct()
    val df =
      if (files.isEmpty) spark.read.parquet(tablePath).filter(lit(false))
      else readFiles(spark, tablePath, files)
        .join(broadcast(valuesDf), Seq(column), "left_semi")
    (df, PruneStats(total, files.length.toLong))
  }

  /** The bloom membership test over the manifest scan, as a typed
    * mapPartitions — NOT a ScalaUDF (spec-asserted): a per-row `udf` pays
    * the UDF boxing/conversion bridge on every manifest row and re-enters
    * the Scala closure per probe; here each row's filter is deserialized
    * exactly once inside a plain partition iterator and all K probe
    * hashes test against it before moving on. Probe values hash through
    * the ENGINE's xxhash64 so insertion ([[RuntimeFilter.bloomAgg]], which
    * inserts xxhash64(key)) and probe agree byte-for-byte. (The engine's
    * native BloomFilterMightContain was tried first — it requires a
    * CONSTANT bloom side (literal or scalar subquery), and here the bloom
    * varies per manifest row, so the typed iterator is the supported
    * form.) Files with a NULL bloom are KEPT — an all-null or stat-less
    * file can't prove absence; conservative, never wrong, the same rule
    * [[selectFiles]] applies to NULL range stats. Takes the already-
    * loaded manifest frame so the caller's one manifest read serves both
    * the total and the probe (a second spark.read would double the
    * metadata cost of the hot lookup path and let a concurrent refresh
    * slip between the two reads). */
  private[graft] def bloomProbe(
      spark: SparkSession,
      manifest: DataFrame,
      column: String,
      values: Seq[Any]
  ): org.apache.spark.sql.Dataset[String] = {
    import org.apache.spark.sql.Encoders
    val hashes = spark.range(1)
      .select(values.map(v => xxhash64(lit(v))).toIndexedSeq: _*)
      .head().toSeq.map(_.asInstanceOf[Long])
    manifest
      .select(col("file"), col(s"bloom_$column").as("bloom"))
      .as[(String, Array[Byte])](Encoders.tuple(Encoders.STRING, Encoders.BINARY))
      .mapPartitions { it =>
        it.filter { case (_, bytes) =>
          bytes == null || {
            val bf = org.apache.spark.util.sketch.BloomFilter
              .readFrom(new java.io.ByteArrayInputStream(bytes))
            hashes.exists(bf.mightContainLong)
          }
        }.map(_._1)
      }(Encoders.STRING)
  }

  /** Read specific files of the table, with `basePath` pinned to the table
    * root so hive partition columns (which live in the directory names,
    * not the files) survive a file-level read — a pruned read of a
    * partitioned table must present the same schema as the full scan. */
  private def readFiles(
      spark: SparkSession, tablePath: String, files: Seq[String]): DataFrame =
    spark.read.option("basePath", tablePath).parquet(files: _*)

  /** Range read through the manifest: scans ONLY the intersecting files,
    * then applies the row-level predicate (stats prune files; rows inside
    * a surviving file still need the filter). Result is row-identical to
    * the full scan with the same predicate — layout and stats must never
    * change answers. */
  def prunedRead(
      spark: SparkSession,
      tablePath: String,
      manifestPath: String,
      ranges: Seq[(String, Any, Any)]
  ): (DataFrame, PruneStats) = {
    verifyGeneration(spark, tablePath, manifestPath)
    val (files, stats) = selectFiles(spark, manifestPath, ranges)
    val rowFilter = ranges.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduceOption(_ && _).getOrElse(lit(true))
    val df =
      if (files.isEmpty)
        // nothing intersects: an empty frame with the table's schema (one
        // listing, zero data reads)
        spark.read.parquet(tablePath).filter(lit(false))
      else readFiles(spark, tablePath, files).filter(rowFilter)
    (df, stats)
  }
}
