package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Generation-directory discipline for stored artifacts that pair an
  * occasionally-rewritten BASE with accumulating committed BATCH
  * directories ([[ClosureStore]], [[EditDistance]]'s segment index).
  * The hazard this exists for: rewriting the base of a LIVE store in
  * place leaves the old batch directories beside the new base, and the
  * composed read silently duplicates (or stales) everything they carry —
  * a plausible wrong answer, not an error. Under generations, base and
  * batches live inside ONE `gen-NNNNNNN` directory:
  *
  *   - a rewrite (bootstrap-over-live or compaction) publishes the next
  *     generation whole through [[Commit]]; readers resolve the HIGHEST
  *     committed generation, so they see the previous one until then;
  *   - superseded generations are deleted only after the publish, and
  *     the IMMEDIATELY-PREVIOUS one is kept one cycle as a reader grace
  *     window for lazy frames resolved against it (readers slower than
  *     a whole maintenance cycle should re-resolve).
  *
  * Single-writer means ONE writer across BOTH write families: batch
  * commits (advance/appendIndex) and base rewrites (build/compact) must
  * be serialized by the caller — a batch commit racing a rewrite could
  * otherwise land its directory inside the generation the rewrite is
  * superseding, and the new generation's ledger would lack the batch id
  * while the streaming checkpoint records it delivered: the batch's
  * data silently gone with no replay ([[commitBatch]]'s post-publish
  * probe turns that into an exception). Cross-component torn
  * protection WITHIN a generation
  * stays [[ArtifactStamp]]'s job. Flat layouts predating the generation
  * structure are NOT migrated: reads fail loud (below) and a fresh
  * build publishes `gen-0000001` beside — not composed with — any
  * flat-layout files.
  *
  * Naming is zero-padded but NOT width-bounded: matching is `\d{7,}`
  * and ordering is NUMERIC on the parsed sequence, so generation
  * 10 000 000 (which a 7-char-fixed regex would make invisible — the
  * published store would vanish from readers) stays resolvable, just
  * no longer lexicographically sorted on disk.
  */
private[operators] object Generations {

  private val Name = "gen-(\\d{7,})".r

  /** The numeric sequence a committed generation directory carries. */
  def genSeq(dir: String): Long =
    dir.substring(dir.lastIndexOf('/') + 1).drop(4).toLong

  /** Committed generation directories, ascending by NUMERIC sequence
    * (lexicographic order breaks once a sequence outgrows the 7-char
    * zero padding: "gen-10000000" < "gen-9999999" as strings). Staging
    * is dot-prefixed and never matches. */
  def dirs(spark: SparkSession, path: String): Seq[String] = {
    val fs = Commit.fs(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory)
      .filter(s => Name.pattern.matcher(s.getPath.getName).matches())
      .map(_.getPath.toString).sortBy(genSeq)
  }

  /** The live generation — the highest committed `gen-NNNNNNN`; fails
    * loud naming `what` when the store was never built. */
  def current(spark: SparkSession, path: String, what: String): String = {
    val gens = dirs(spark, path)
    require(gens.nonEmpty,
      s"no $what at $path — build it first (note: a store written by a " +
        "pre-generation flat layout is not auto-migrated; rebuild from the " +
        "full corpus, which also carries no flat-layout replay ledger — " +
        "prefer a fresh path)")
    gens.last
  }

  /** The replay ledger a generation carries (`ingested/`, one
    * `batch_id` string column): every batch id folded into the base by
    * compaction or carried across a rebuild, so batch-ingested probes
    * stay truthful after the batch directories themselves are gone. */
  def readLedger(spark: SparkSession, gen: String): Set[String] =
    spark.read.parquet(s"$gen/ingested")
      .select(col("batch_id").cast("string"))
      .collect().map(_.getString(0)).toSet

  /** The ledger the NEXT generation must carry: the live generation's
    * ledger ∪ its live batch ids (`liveBatchIds` extracts them from a
    * generation directory — stores differ in batch-dir naming), empty
    * for a fresh store. Shared by compaction and rebuild so the two
    * paths can never diverge on replay protection. */
  def carriedLedger(spark: SparkSession, path: String,
      liveBatchIds: String => Seq[String]): Seq[String] =
    dirs(spark, path).lastOption.toSeq.flatMap { gen =>
      (readLedger(spark, gen) ++ liveBatchIds(gen)).toSeq.sorted
    }

  /** Committed batch directories of a generation as (name, dir) pairs,
    * ascending name — for the RAW-named layout (`batches/<batchId>`)
    * shared by the EditDistance / VectorIndex / Winnowing stores the
    * name is the batch id, and commit order carries no read semantics
    * (their reads are plain unions). ClosureStore names its batches
    * `NNNNNN-<batchId>` and orders them by that sequence: its
    * merge-on-read edge masking depends on commit order. [[Commit]]'s
    * dot-prefixed staging is never listed. */
  def listBatches(spark: SparkSession, gen: String): Seq[(String, String)] = {
    val fs = Commit.fs(spark, gen)
    val root = new org.apache.hadoop.fs.Path(s"$gen/batches")
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("."))
      .map(s => (s.getPath.getName, s.getPath.toString)).sortBy(_._1)
  }

  /** Has `batchId` been committed into the live generation's `batches/`
    * or absorbed into its replay ledger? The idempotence probe every
    * retrying or replaying ingest job runs before a [[commitBatch]]. */
  def batchKnown(spark: SparkSession, path: String, what: String,
      batchId: String): Boolean = {
    val gen = current(spark, path, what)
    listBatches(spark, gen).exists(_._1 == batchId) ||
      readLedger(spark, gen).contains(batchId)
  }

  /** Fail loud when `batchId` is not a plain directory name or was
    * already committed (raw-named layout). `dupMsg` is the
    * store-specific consequence line of a duplicate commit (what a
    * double-ingest would silently corrupt). */
  def requireNewBatch(spark: SparkSession, path: String, what: String,
      batchId: String, dupMsg: String): Unit = {
    requirePlain(batchId)
    if (batchKnown(spark, path, what, batchId))
      throw new IllegalStateException(
        s"$what at $path already ingested batch '$batchId' — $dupMsg; " +
          "probe the ingest state before appending, or pick a new batch id")
  }

  def requirePlain(batchId: String): Unit =
    require(batchId.nonEmpty && !batchId.exists(c => c == '/' || c == '.'),
      s"batchId must be a plain directory name, got '$batchId'")

  /** Commit one batch directory `batches/<name>` into generation `gen`
    * through [[Commit]] (`write` fills the staged copy), then re-resolve
    * the current generation and fail loud if a concurrent rewrite
    * superseded `gen` — the single-writer defense: a batch stranded in a
    * superseded generation would otherwise be silently invisible to
    * readers while the caller's checkpoint records it delivered. The
    * caller replays; its probe, run against the new generation, says the
    * batch is not there. */
  def commitBatch(spark: SparkSession, path: String, gen: String,
      what: String, name: String)(write: String => Unit): Unit = {
    requirePlain(name)
    Commit.replace(spark, s"$gen/batches/$name")(write)
    if (current(spark, path, what) != gen)
      throw new IllegalStateException(
        s"$what batch '$name' committed into a generation that a " +
          s"concurrent rewrite superseded ($gen) — batch commits and " +
          "rewrites must be serialized by one writer; replay the batch")
  }

  /** Publish the next generation through [[Commit]]: `write` fills the
    * staged directory and `parts` names the components stamped with one
    * fresh generation id ([[ArtifactStamp]]) before the rename, then
    * superseded generations are best-effort deleted. */
  def publish(spark: SparkSession, path: String,
      parts: String => Seq[String])(write: String => Unit): Unit = {
    val old = dirs(spark, path)
    val seq = old.lastOption.map(genSeq).getOrElse(0L) + 1
    Commit.replace(spark, f"$path/gen-$seq%07d") { staging =>
      write(staging)
      ArtifactStamp.stampAll(spark, parts(staging))
    }
    // keep the immediately-previous generation one cycle (reader grace —
    // in-flight lazy frames resolved before this publish keep their
    // files); everything older is reclaimed now
    val fs = Commit.fs(spark, path)
    old.dropRight(1).foreach(d =>
      fs.delete(new org.apache.hadoop.fs.Path(d), true))
  }
}
