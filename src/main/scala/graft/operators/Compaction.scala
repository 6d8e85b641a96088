package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Small-file compaction for a hive-partitioned parquet layout — the
  * OPTIMIZE/bin-packing maintenance job every long-lived table needs.
  *
  * Why it exists at 100 TB: a streaming or per-day ingest writes each
  * micro-batch/task as its own file, and a year of that leaves partitions
  * with thousands of KB-scale files. Every downstream scan then pays
  * per-file costs — driver listing, footer reads, task scheduling — that
  * dwarf the data; a 10 000-file day at 1 MB each schedules 10 000 tasks
  * where 8 would do. Compaction rewrites ONLY the offending directories
  * into ~`targetBytes` files and leaves healthy partitions' files
  * physically untouched (same mtimes — the cheap-maintenance contract,
  * spec-asserted).
  *
  * Mechanics (same copy-on-write discipline as [[Merge]]):
  *   1. Driver-side directory listing collects per-partition (files,
  *      bytes) — metadata proportional to file count, the same listing
  *      any scan already performs (and the reference's own source idiom:
  *      the LocalFilesSource directory walk, helpers.py:10-32).
  *   2. A partition needs work when its file count exceeds
  *      max(minFiles, ceil(bytes / targetBytes)).
  *   3. Those partitions are read back partition-pruned, each row gets a
  *      file slot `pmod(hash, nf)` from a broadcast per-partition target
  *      map, and a repartition on (partitionCols, slot) lands each
  *      directory in ≈nf shuffle tasks → ≈nf output files (hash
  *      collisions can merge slots — fewer, larger files, never more).
  *   4. Stage → dynamic partition overwrite → only the compacted
  *      directories are replaced.
  *
  * Row-identical by construction: compaction moves rows between files,
  * never creates/drops/edits them (oracled — c02 replays its aggregate
  * over the never-compacted originals).
  */
object Compaction {

  /** One leaf partition directory's shape. `values` are the raw string
    * partition values in `partCols` order (as encoded in the dir names). */
  final case class PartStats(values: Seq[String], files: Int, bytes: Long)

  final case class CompactStats(
      partitionsCompacted: Int, filesBefore: Int, filesAfter: Int)

  /** Driver-side listing of leaf partition dirs (depth = partCols.length)
    * with parquet file counts/bytes. */
  def stats(spark: SparkSession, path: String,
      partCols: Seq[String]): Seq[PartStats] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path, depth: Int,
        acc: Seq[String]): Seq[PartStats] =
      if (depth == partCols.length) {
        val files = fs.listStatus(p).filter(f =>
          f.isFile && f.getPath.getName.endsWith(".parquet"))
        Seq(PartStats(acc, files.length, files.map(_.getLen).sum))
      } else {
        fs.listStatus(p).toSeq
          .filter(s => s.isDirectory &&
            s.getPath.getName.startsWith(partCols(depth) + "="))
          .flatMap(s => walk(s.getPath, depth + 1,
            acc :+ s.getPath.getName.drop(partCols(depth).length + 1)))
      }
    if (fs.exists(root)) walk(root, 0, Nil) else Nil
  }

  /** Raw dir-name partition value → an external value of the partition
    * column's actual type, so the pruning filter stays `col = lit` (the
    * shape the partition-pruning rule recognizes — no cast on the column
    * side) and the broadcast target map joins without coercion. */
  private def typed(v: String, dt: DataType): Any = dt match {
    case IntegerType => v.toInt
    case LongType    => v.toLong
    case ShortType   => v.toShort
    // Spark escapes `:`, `%`, `=` and friends in dir names (`a%3Ab`)
    case StringType  =>
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v)
    case DateType    => java.sql.Date.valueOf(v)
    case BooleanType => v.toBoolean
    case other => throw new IllegalArgumentException(
      s"unsupported partition column type for compaction: $other")
  }

  /** Compact partitions whose file count exceeds
    * max(minFiles, ceil(bytes/targetBytes)). Healthy partitions are not
    * read, not rewritten, not even footer-opened.
    *
    * `zorderBy` non-empty = the OPTIMIZE-ZORDER form: instead of hash
    * slots, rewritten rows sort by their Morton interleave
    * ([[Layout.mortonValue]]) and split into equal-depth z-ranges per
    * directory (percent_rank ntile over the directory's own z order), so
    * compaction RESTORES multi-dimensional clustering at the same time it
    * fixes file counts — per-micro-batch ingest destroys both, and
    * rewriting the data twice (compact, then re-cluster) would double the
    * maintenance IO at 100 TB. The within-partition sort is the same cost
    * any clustered write pays, and only over the fragmented directories'
    * data. Row-identity is unchanged (still oracled); file z-locality is
    * spec-asserted.
    *
    * `curve` picks the space-filling curve the restore sorts by — it must
    * match the table's WRITE-side layout, or the "restore" would quietly
    * re-cluster the fragmented directories onto a different curve than
    * the healthy ones: "morton" ([[Layout.mortonValue]], any dimension
    * count, z01's layout) or "hilbert" ([[Layout.hilbertValue]], exactly
    * 2 columns, z06's layout — the no-quadrant-jump curve). */
  def compact(
      spark: SparkSession,
      path: String,
      partCols: Seq[String],
      targetBytes: Long,
      minFiles: Int = 1,
      zorderBy: Seq[String] = Nil,
      zorderBits: Int = 8,
      manifestPath: Option[String] = None,
      curve: String = "morton"
  ): CompactStats = {
    require(partCols.nonEmpty && targetBytes > 0, "partCols non-empty, targetBytes > 0")
    // eager: an invalid curve CONFIG must fail before ANY listing or file
    // work, not only on runs that happen to find fragmented directories —
    // that includes hilbert's 2-D restriction, which would otherwise
    // surface from Layout.hilbertValue only after the full stats walk
    require(curve == "morton" || curve == "hilbert",
      s"unknown curve '$curve' — use 'morton' or 'hilbert'")
    require(curve != "hilbert" || zorderBy.isEmpty || zorderBy.size == 2,
      s"curve 'hilbert' is 2-D (Layout.hilbertValue's xy2d walk), " +
        s"got ${zorderBy.size} zorderBy columns")
    Merge.recover(spark, path)
    val all = stats(spark, path, partCols)
    def targetFiles(s: PartStats): Int =
      math.max(minFiles, math.ceil(s.bytes.toDouble / targetBytes).toInt)
    val work = all.filter(s => s.files > targetFiles(s))
    if (work.isEmpty) return CompactStats(0, all.map(_.files).sum, all.map(_.files).sum)

    val target = spark.read.parquet(path)
    val types = partCols.map(c => c -> target.schema(c).dataType).toMap
    val pruneFilter = work.map { s =>
      partCols.zip(s.values)
        .map { case (c, v) => col(c) === lit(typed(v, types(c))) }
        .reduce(_ && _)
    }.reduce(_ || _)

    // per-partition file-count targets, broadcast onto the pruned scan
    val nfRows = work.map(s => org.apache.spark.sql.Row.fromSeq(
      partCols.zip(s.values).map { case (c, v) => typed(v, types(c)) }
        :+ targetFiles(s)))
    val nfSchema = StructType(
      partCols.map(c => StructField(c, types(c))) :+
        StructField("__graft_nf", IntegerType))
    val nfDf = spark.createDataFrame(
      spark.sparkContext.parallelize(nfRows, 1), nfSchema)

    val dataCols = target.columns.filterNot(partCols.contains)
    val joined = target.filter(pruneFilter).join(broadcast(nfDf), partCols)
    // The shuffle's partition count is the file-count mechanism, so it is
    // pinned EXPLICITLY to the total slot budget: a bare repartition(cols)
    // would let AQE coalesce the small post-shuffle partitions into one
    // task — which then writes ONE file per directory and silently undoes
    // the per-partition target (and, in z mode, the range split).
    // User-specified partition counts are exempt from AQE coalescing.
    val totalSlots = work.map(targetFiles).sum
    val spread = (if (zorderBy.isEmpty) {
      // bin packing only: hash rows into nf slots per directory (slot
      // collisions inside a task merge files — fewer, larger, never more)
      joined.withColumn("__graft_slot",
          pmod(xxhash64(dataCols.map(col).toIndexedSeq: _*), col("__graft_nf")))
        .repartition(totalSlots, (partCols.map(col) :+ col("__graft_slot")): _*)
        .drop("__graft_nf", "__graft_slot")
    } else {
      // curve restore: range-partition on (partition, curve value) —
      // exactly [[Layout.zorderWrite]]/[[Layout.hilbertWrite]]'s plan
      // over the fragmented directories only. The range sampler
      // allocates tasks by data density, so each directory lands ≈ its
      // byte-proportional share of the slot budget and every output file
      // holds one contiguous curve-run (a boundary task straddling two
      // directories writes one file into each).
      (if (curve == "morton")
        Layout.mortonValue(joined, zorderBy, zorderBits, out = "__graft_z")
      else // "hilbert" — the entry requires guarantee no third value
        Layout.hilbertValue(joined, zorderBy, zorderBits, out = "__graft_z"))
        .repartitionByRange(totalSlots, (partCols.map(col) :+ col("__graft_z")): _*)
        .sortWithinPartitions((partCols.map(col) :+ col("__graft_z")): _*)
        .drop("__graft_nf", "__graft_z")
    }).select(target.columns.map(col).toIndexedSeq: _*)

    // generation bump before the first in-place mutation (the swap) —
    // the staging write is outside the table and safe.
    // Commit by swapping the staged directories into place — NOT a second
    // dataframe write: re-reading the staging files would let the scan
    // coalesce small files back together (maxPartitionBytes packing), and
    // the rewrite would both undo the per-partition file-count target and
    // concatenate z-sorted files in arbitrary order, silently destroying
    // the clustering this job just paid to restore. The swap keeps the
    // staged files byte-for-byte (count, boundaries, internal sort).
    val staging = Merge.stage(spark, spread, path, partCols)
    FileManifest.bumpGeneration(spark, path)
    Merge.commit(spark, staging, path, partCols.size)
    // a stats manifest indexes FILES, and compaction just replaced them in
    // the fragmented directories — refresh inside the commit (delta-sized:
    // only the rewritten directories' new files are re-scanned), same
    // contract as Merge's manifest half
    manifestPath.foreach(mp => FileManifest.refresh(spark, path, mp))

    val after = stats(spark, path, partCols)
    CompactStats(work.size, all.map(_.files).sum, after.map(_.files).sum)
  }
}
