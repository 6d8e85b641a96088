package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Observation, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** MERGE INTO semantics (upsert / delete) over a hive-partitioned parquet
  * layout WITHOUT a table format — copy-on-write with a partition-pruned
  * rewrite, the mechanism Delta/Hudi/Iceberg COW tables use under the
  * MERGE keyword, re-expressed on plain directories.
  *
  * Reference tie-in: the reference's sinks are append-only indexers
  * (docs/usage.rst:285-295 — the ES writer upserts by document id, the
  * store resolves the key collision). On a filesystem corpus nothing
  * resolves collisions for you; this operator IS that resolution step for
  * the curated-parquet layout the rest of the engine reads.
  *
  * At 100 TB the contract that matters is WHAT gets rewritten: cost is
  * proportional to the partitions the change-batch actually touches
  * (|today|), never to the table (|history|). Mechanics:
  *
  *   1. The touched-partition set comes from the batch itself (its
  *      partition-column values — for deletes the caller ships them with
  *      the keys; a change feed that cannot name its partitions forces a
  *      full scan, so don't build one).
  *   2. The target read is partition-pruned to that set (`isin` on the
  *      partition columns → the scan's PartitionFilters; directories
  *      outside the set are never listed, opened, or footer-read).
  *   3. Matched rows are dropped by a LEFT ANTI join on the key — the only
  *      shuffle, sized by the touched partitions, AQE-skew-splittable.
  *   4. Survivors ∪ batch are written ONCE, partitioned, to a sibling
  *      staging directory, and each staged leaf directory is published
  *      over the same relative path under the table by [[Commit]]'s
  *      rename-aside swap. Only the touched directories are replaced;
  *      every other partition's files are not even read. Staging is a
  *      sibling because the write reads the very directories it
  *      replaces — writing into the table in place would delete its own
  *      input (Spark refuses it: "Cannot overwrite a path that is also
  *      being read from"). Each leaf is its own commit: a crash
  *      mid-commit leaves some touched leaves new and the rest old, and
  *      the leaf caught between its two renames waits in its hidden
  *      aside until [[recover]] — which every writer of the table runs
  *      before it reads — rolls it forward ([[Commit]]'s crash
  *      contract). The generation bump comes before the first rename, so
  *      a stats manifest fails loud rather than serving vanished files.
  *      The stats ride the single write as two `observe` metrics (pruned
  *      target rows; written rows tagged batch vs survivor): no job only
  *      counts rows and nothing is persisted.
  *
  * Idempotence: re-applying the same batch replaces the same rows with
  * the same rows (anti-join drops what the union re-adds), so a retried
  * ingest job converges — the batch analog of the streaming side's
  * `idempotentForeachBatchSink`.
  *
  * Key-null discipline: rows whose key is NULL never equi-match, so NULL-
  * keyed target rows always survive and NULL-keyed batch rows always
  * insert. Ship real keys.
  *
  * Delete has one trap upsert does not: the swap only replaces
  * directories PRESENT in the staged output, so a partition whose rows
  * are ALL deleted produces no staged directory — and would silently keep
  * its old files. [[delete]] removes those directories explicitly: the
  * touched directories that exist (from the pruned scan's file listing)
  * minus the staged leaves — both sets are directory NAMES as Spark wrote
  * them, so escaped partition values (`p=a%3Ab`, timestamps) compare
  * correctly.
  */
object Merge {

  /** Marks batch rows in the union an upsert writes; dropped before the
    * write, it only feeds the batch-row count observed on that write. */
  private val BatchTag = "__graft_from_batch"

  /** Applied-change summary (all counts are rows/directories actually
    * touched — the observability a MERGE needs to be trusted). */
  final case class MergeStats(
      partitionsTouched: Long,
      targetRowsBefore: Long,
      rowsReplaced: Long,
      rowsWritten: Long
  )

  private def partTuples(
      df: DataFrame, partCols: Seq[String]): Array[Seq[Any]] = {
    val t = df.select(partCols.map(col): _*).distinct().collect()
      .map(r => partCols.indices.map(r.get): Seq[Any])
    // the collect is bounded driver METADATA by the layout contract
    // (partition columns are low-cardinality row properties); a batch
    // naming 10^5+ partitions means the partitioning is too fine for a
    // COW merge — flag it loudly before the commit fans out
    if (t.length > 100000)
      org.slf4j.LoggerFactory.getLogger("graft.operators.Merge").warn(
        s"change batch touches ${t.length} partitions — the touched-set " +
          "collect and per-directory commit scale with this; coarsen the " +
          "partitioning or split the batch")
    t
  }

  /** `isin`-conjunction over the touched partition tuples: resolves to the
    * scan's PartitionFilters (static pruning — EntrySpec-style guard in
    * MergeSpec). Partition columns are low-cardinality by layout contract
    * (days, languages, years — the same rule `Sinks.parquetPartitioned`
    * documents), so collecting the distinct tuples is bounded driver
    * metadata, not data. */
  private def touchedFilter(
      tuples: Array[Seq[Any]], partCols: Seq[String]): Column =
    tuples.map { t =>
      partCols.zip(t).map { case (c, v) =>
        // plain === (not <=>): null-intolerant equality is the shape the
        // partition-pruning rule recognizes; null partition values are a
        // layout smell and excluded from the contract.
        require(v != null, s"null partition value for $c in the change batch")
        col(c) === lit(v)
      }.reduce(_ && _)
    }.reduceOption(_ || _).getOrElse(lit(false))

  private def stagingOf(path: String): String =
    s"${path.stripSuffix("/")}__graft_staging"

  /** Names of the partition directories directly under `dir` — Spark's
    * listing rule: `_`/`.` names are metadata (`_SUCCESS`, `_temporary`,
    * checksums, [[Commit]]'s hidden siblings) unless `_` starts a
    * `col=value` name. Sorted: leaves commit in name order. */
  private def dataDirs(spark: SparkSession, dir: Path): Seq[String] =
    Commit.fs(spark, dir.toString).listStatus(dir).toSeq
      .map(st => (st, st.getPath.getName))
      .collect { case (st, n) if st.isDirectory && !n.startsWith(".") &&
        (!n.startsWith("_") || n.contains("=")) => n }.sorted

  private def under(root: String, rel: Seq[String]): String =
    rel.foldLeft(new Path(root))(new Path(_, _)).toString

  /** Finish or discard a crashed attempt's commit of the table at `path`;
    * every writer runs this before it reads the table. A staged leaf
    * whose swap had begun (its [[Commit.aside]] exists) is rolled
    * forward; every other staged leaf never began and is discarded with
    * the staging tree. No-op (one existence probe) after a clean run. */
  private[operators] def recover(spark: SparkSession, path: String): Unit = {
    val staging = stagingOf(path)
    val fs = Commit.fs(spark, path)
    def walk(rel: List[String]): Unit = {
      val (s, t) = (under(staging, rel), under(path, rel))
      if (fs.exists(new Path(Commit.aside(t)))) Commit.recover(spark, s, t)
      else dataDirs(spark, new Path(s)).foreach(n => walk(rel :+ n))
    }
    if (fs.exists(new Path(staging))) {
      walk(Nil)
      rmDir(spark, staging)
    }
  }

  /** Write `out` once, partitioned by `partCols`, to the staging directory
    * beside `path` (returned), after [[recover]]ing the table. Sibling,
    * never inside `path`: the write may read `path`, and hive partition
    * discovery wants the table tree to hold only `col=value`
    * directories. */
  private[operators] def stage(
      spark: SparkSession, out: DataFrame, path: String,
      partCols: Seq[String]): String = {
    recover(spark, path)
    val staging = stagingOf(path)
    out.write.partitionBy(partCols: _*).parquet(staging)
    staging
  }

  /** Commit a [[stage]]d write: every staged leaf directory (`depth`
    * levels of `col=value` names; `depth` 0 swaps the whole directory)
    * is published over the same relative path under `path` by
    * [[Commit.publish]], then the staging directory goes. The staging
    * tree is not under `path`, so a new leaf's parent may not exist yet:
    * missing parents are made first. Returns the relative paths of the
    * swapped leaves, as written (escaped) names. */
  private[operators] def commit(
      spark: SparkSession, staging: String, path: String,
      depth: Int): Set[String] = {
    def leaves(rel: List[String], d: Int): Seq[List[String]] =
      if (d == 0) Seq(rel)
      else dataDirs(spark, new Path(under(staging, rel)))
        .flatMap(n => leaves(rel :+ n, d - 1))
    val rels = leaves(Nil, depth)
    val fs = Commit.fs(spark, path)
    rels.map(rel => new Path(under(path, rel)).getParent).distinct
      .filterNot(fs.exists).foreach(fs.mkdirs)
    rels.foreach(rel =>
      Commit.publish(spark, under(staging, rel), under(path, rel)))
    rmDir(spark, staging)
    rels.map(_.mkString("/")).toSet
  }

  /** [[stage]] then [[commit]] — for callers that need nothing between
    * the write and the swap. */
  private[operators] def stageAndCommit(
      spark: SparkSession, out: DataFrame, path: String,
      partCols: Seq[String]): Unit =
    commit(spark, stage(spark, out, path, partCols), path, partCols.size)

  private[operators] def rmDir(spark: SparkSession, dir: String): Unit =
    Commit.fs(spark, dir).delete(new Path(dir), true)

  /** Relative paths (as written, escaped) of the leaf directories that a
    * partition-pruned scan of the table reads — the pruned file index's
    * listing, which the read already holds: no job, no extra listing. */
  private def scannedLeaves(pruned: DataFrame, depth: Int): Set[String] = {
    val scans = pruned.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }
    // without the listing, emptied directories would silently survive
    require(scans.nonEmpty, "Merge.delete needs a file-source parquet scan " +
      s"of the table, got:\n${pruned.queryExecution.sparkPlan}")
    scans.flatMap(s => s.relation.location.listFiles(s.partitionFilters, Nil))
      .flatMap(_.files.map { f =>
        Iterator.iterate(f.getPath.getParent)(_.getParent).take(depth)
          .map(_.getName).toList.reverse.mkString("/")
      }).toSet
  }

  /** An `observe` metric of the write that just ran, or `fallback` when it
    * did not arrive: delivery is best-effort, and a plan rewrite that
    * removes the observed node (AQE's empty-relation propagation) takes
    * the metric with it. Callers pass a count over the still-unchanged
    * table or staging directory, so the fallback must run before the
    * swap. */
  private def observed(obs: Observation, name: String)(fallback: => Long): Long =
    GraftBridge.observedOrEmpty(obs).get(name) match {
      case Some(v: Long) => v
      case _ => fallback
    }

  /** Rows staged at `staging`, read with the written frame's schema (no
    * inference job; an empty staged write has no files to infer from). */
  private def stagedRows(
      spark: SparkSession, out: DataFrame, staging: String): Long =
    spark.read.schema(out.schema).parquet(staging).count()

  /** Upsert `batch` into the partitioned parquet table at `path`: rows
    * matching on `keyCols` are replaced by their batch row, the rest of the
    * batch inserts. `batch` must carry the partition columns (they name the
    * directories to rewrite). A key that MOVES partitions in the batch is
    * replaced only if its old row lives in a touched partition — a moving
    * key whose old partition is untouched would duplicate; partition
    * columns should be stable row properties (event date, language), not
    * mutable attributes. */
  def upsert(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      keyCols: Seq[String],
      partCols: Seq[String],
      manifestPath: Option[String] = None
  ): MergeStats = {
    require(keyCols.nonEmpty && partCols.nonEmpty, "keyCols and partCols must be non-empty")
    val tuples = partTuples(batch, partCols)
    if (tuples.isEmpty) return MergeStats(0L, 0L, 0L, 0L)

    recover(spark, path)
    val target = spark.read.parquet(path)
    val affected = target.filter(touchedFilter(tuples, partCols))
    val targetObs, outObs = Observation()
    val survivors = affected.observe(targetObs, count(lit(1)).as("n"))
      .join(batch.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
    val out = survivors.withColumn(BatchTag, lit(false))
      .unionByName(batch.select(target.columns.map(col): _*)
        .withColumn(BatchTag, lit(true)))
      .observe(outObs, count(lit(1)).as("n"),
        count(when(col(BatchTag), 1)).as("batch"))
      .drop(BatchTag)
    val staging = stage(spark, out, path, partCols)
    GraftBridge.drainListenerBus(spark)
    val before = observed(targetObs, "n")(affected.count())
    val nWritten = observed(outObs, "n")(stagedRows(spark, out, staging))
    val nBatch = observed(outObs, "batch")(batch.count())
    // generation bump BEFORE the first file mutation: a crash anywhere
    // between here and the refresh leaves table gen ≠ manifest gen, and
    // every manifest read path fails loud instead of serving vanished
    // files (FileManifest's crash-safety contract)
    FileManifest.bumpGeneration(spark, path)
    commit(spark, staging, path, partCols.size)
    refreshManifest(spark, path, manifestPath)
    MergeStats(tuples.length.toLong, before,
      rowsReplaced = before - (nWritten - nBatch) max 0L,
      rowsWritten = nWritten)
  }

  /** The commit's manifest half: a stats manifest ([[FileManifest]]) is a
    * secondary index over the table's FILES, and a COW commit replaces
    * files — so the commit itself refreshes it (delta-sized: stats are
    * recomputed only for the rewritten directories' new files). Without
    * this, a post-merge pruned read would hand Spark vanished paths. */
  private def refreshManifest(
      spark: SparkSession, path: String, manifestPath: Option[String]): Unit =
    manifestPath.foreach(mp => FileManifest.refresh(spark, path, mp))

  /** Delete rows matching `keys` on `keyCols`. `keys` must carry the
    * partition columns (the prune set); only those directories are read
    * and rewritten. Partitions whose rows are ALL deleted are removed
    * explicitly (the swap's blind spot documented above). */
  def delete(
      spark: SparkSession,
      path: String,
      keys: DataFrame,
      keyCols: Seq[String],
      partCols: Seq[String],
      manifestPath: Option[String] = None
  ): MergeStats = {
    require(keyCols.nonEmpty && partCols.nonEmpty, "keyCols and partCols must be non-empty")
    val tuples = partTuples(keys, partCols)
    if (tuples.isEmpty) return MergeStats(0L, 0L, 0L, 0L)

    recover(spark, path)
    val target = spark.read.parquet(path)
    val affected = target.filter(touchedFilter(tuples, partCols))
    val existing = scannedLeaves(affected, partCols.size)
    val targetObs, outObs = Observation()
    val survivors = affected.observe(targetObs, count(lit(1)).as("n"))
      .join(keys.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
      .observe(outObs, count(lit(1)).as("n"))
    val staging = stage(spark, survivors, path, partCols)
    GraftBridge.drainListenerBus(spark)
    val before = observed(targetObs, "n")(affected.count())
    val nWritten = observed(outObs, "n")(stagedRows(spark, survivors, staging))
    // bump BEFORE any mutation (the swap AND the emptied-directory
    // removals below are one logical commit; the window must cover both)
    FileManifest.bumpGeneration(spark, path)
    val staged = commit(spark, staging, path, partCols.size)
    // Directories the delete emptied entirely: touched minus re-staged. A
    // leftover aside goes first: one outliving its leaf would make a later
    // attempt's never-begun staged copy of that leaf look like a begun swap
    (existing -- staged).map(rel => s"${path.stripSuffix("/")}/$rel")
      .foreach(d => Seq(Commit.aside(d), d).foreach(rmDir(spark, _)))
    refreshManifest(spark, path, manifestPath)
    MergeStats(tuples.length.toLong, before,
      rowsReplaced = before - nWritten, rowsWritten = nWritten)
  }
}
