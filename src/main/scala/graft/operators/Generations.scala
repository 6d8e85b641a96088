package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Generation-directory discipline for stored artifacts that pair an
  * occasionally-rewritten BASE with accumulating committed BATCH
  * directories. The hazard this exists for: rewriting the base of a LIVE
  * store in place leaves the old batch directories beside the new base,
  * and the composed read silently duplicates (or stales) everything they
  * carry — a plausible wrong answer, not an error. Under generations,
  * base and batches live inside ONE `gen-NNNNNNN` directory:
  *
  *   - a rewrite (bootstrap-over-live or compaction) publishes the next
  *     generation whole through [[Commit]]; readers resolve the HIGHEST
  *     committed generation, so they see the previous one until then;
  *   - superseded generations are deleted only after the publish, and
  *     the IMMEDIATELY-PREVIOUS one is kept one cycle as a reader grace
  *     window for lazy frames resolved against it (readers slower than
  *     a whole maintenance cycle should re-resolve).
  *
  * Every such store is one [[Store]] value, which owns the whole
  * lifecycle; the stores themselves ([[ClosureStore]], [[EditDistance]]'s
  * segment index, [[VectorIndex]], [[Winnowing]]'s fingerprint index and
  * [[Retrieval]]'s BM25 index) supply only their component writers.
  *
  * Single-writer means ONE writer across BOTH write families: batch
  * commits ([[Store.append]]) and base rewrites ([[Store.rebuild]],
  * [[Store.compact]]) must be serialized by the caller — a batch commit
  * racing a rewrite could otherwise land its directory inside the
  * generation the rewrite is superseding, and the new generation's
  * ledger would lack the batch id while the streaming checkpoint records
  * it delivered: the batch's data silently gone with no replay
  * ([[commitBatch]]'s post-publish probe turns that into an exception).
  * Flat layouts predating the generation structure are NOT migrated:
  * reads fail loud (below) and a fresh build publishes `gen-0000001`
  * beside — not composed with — any flat-layout files.
  *
  * Naming is zero-padded but NOT width-bounded: generations match
  * `gen-\d{7,}` and batches `\d{6,}-<batchId>`, and both order NUMERIC
  * on the parsed sequence, so generation 10 000 000 or batch 1 000 000
  * (which a fixed-width match would make invisible, or a string sort
  * reorder) stays resolvable, just no longer lexicographically sorted on
  * disk.
  */
private[graft] object Generations {

  private val Name = "gen-(\\d{7,})".r
  private val BatchName = "(\\d{6,})-(.+)".r

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
  private def readLedger(spark: SparkSession, gen: String): Set[String] =
    spark.read.parquet(s"$gen/ingested")
      .select(col("batch_id").cast("string"))
      .collect().map(_.getString(0)).toSet

  /** The ledger the NEXT generation must carry: the live generation's
    * ledger ∪ its live batch ids, empty for a fresh store. Shared by
    * compaction and rebuild so the two paths can never diverge on replay
    * protection. */
  private def carriedLedger(spark: SparkSession, path: String): Seq[String] =
    dirs(spark, path).lastOption.toSeq.flatMap { gen =>
      (readLedger(spark, gen) ++ listBatches(spark, gen).map(_._1)).toSeq.sorted
    }

  /** Committed batch directories of a generation as (batchId, dir)
    * pairs in commit order. A batch directory is named
    * `NNNNNN-<batchId>`: the sequence is split at the FIRST '-' (a
    * fixed-width drop would mis-parse once the sequence outgrows its
    * padding) and ordered NUMERICALLY ("1000000-…" < "999999-…" as
    * strings would reorder [[ClosureStore]]'s merge-on-read masking and
    * silently serve a stale star); batch ids compare by equality (an
    * endsWith probe would false-positive on ids containing '-').
    * [[Commit]]'s dot-prefixed staging is never listed; any other name
    * is a layout this code did not write and fails loud rather than
    * being silently left out of reads. */
  private def listBatches(spark: SparkSession, gen: String): Seq[(String, String)] = {
    val fs = Commit.fs(spark, gen)
    val root = new org.apache.hadoop.fs.Path(s"$gen/batches")
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("."))
      .map { s =>
        s.getPath.getName match {
          case BatchName(seq, id) => (seq.toLong, id, s.getPath.toString)
          case other => throw new IllegalStateException(
            s"batch directory '$other' in $gen is not NNNNNN-<batchId> — " +
              "written by another layout; rebuild the store at a fresh path")
        }
      }
      .sortBy(_._1).map(b => (b._2, b._3))
  }

  private def requirePlain(batchId: String): Unit =
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
  private def commitBatch(spark: SparkSession, path: String, gen: String,
      what: String, name: String)(write: String => Unit): Unit = {
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

  /** One generation-structured store and its whole lifecycle:
    *
    *   - '''rebuild''' publishes a new base as the next generation: the
    *     writer fills the `stamped` components, and an appendable store's
    *     replay ledger `ingested/` carries forward (old ledger ∪ old batch
    *     ids), so a replay of a batch folded before the rebuild is still
    *     recognized and skipped. The old base AND its batch directories
    *     are superseded together, never composed with the new base.
    *   - '''current''' resolves the live generation and verifies that
    *     every stamped component carries the same stamp
    *     ([[ArtifactStamp]]): a torn build fails loud on every read and
    *     write instead of joining one build's components with another's.
    *   - '''append''' is the replay-safe batch commit, not a parquet
    *     append: a batch id already live or in the ledger fails loud
    *     (the message says the batch is already ingested, already
    *     committed), then the batch's components commit as one
    *     `batches/NNNNNN-<batchId>` directory, wholly visible or not at
    *     all. A plain append would leave a half-written batch on a crash
    *     and double every row of a batch retried after success.
    *   - '''batchIngested''' is the idempotence probe a retrying or
    *     replaying ingest job runs before appending; '''liveBatchCount'''
    *     is the read-amplification gauge a maintenance job or a stream
    *     sink's `compactEvery` watches.
    *   - '''read''' composes a component: base ∪ every committed batch, in
    *     commit order, for the `appended` components; the base alone
    *     otherwise.
    *   - '''compact''' folds the batches into a fresh base from the stored
    *     artifacts only — each stamped component rewritten from its
    *     composed read (or its `merged` read), the ledger absorbing the
    *     batch ids. Reads, appends and probes are invariant across it.
    *
    * Document/row ids must be unique across the base and every batch.
    *
    * @param what     the store's name in every error message
    * @param stamped  the base components every generation writes and stamps
    * @param appended the components batches append to; empty for a store
    *                 that is only ever rebuilt (no ledger, no batches)
    * @param merged   compaction reads for components whose batches do not
    *                 simply append (ClosureStore's merge-on-read edges),
    *                 given the session and the generation */
  final case class Store(
      what: String,
      stamped: Seq[String],
      appended: Seq[String] = Nil,
      merged: Map[String, (SparkSession, String) => DataFrame] = Map.empty) {

    private def ledgered: Boolean = appended.nonEmpty

    private def parts(gen: String): Seq[String] =
      (if (ledgered) stamped :+ "ingested" else stamped).map(c => s"$gen/$c")

    def current(spark: SparkSession, path: String): String = {
      val gen = Generations.current(spark, path, what)
      ArtifactStamp.verifyAligned(spark, what, parts(gen))
      gen
    }

    /** Committed batch directories of `gen`, in commit order. */
    def batches(spark: SparkSession, gen: String): Seq[String] =
      listBatches(spark, gen).map(_._2)

    def read(spark: SparkSession, gen: String, component: String): DataFrame =
      spark.read.parquet((s"$gen/$component" +:
        (if (appended.contains(component))
          batches(spark, gen).map(b => s"$b/$component") else Nil)): _*)

    def batchIngested(spark: SparkSession, path: String, batchId: String): Boolean = {
      val gen = Generations.current(spark, path, what)
      known(spark, gen, listBatches(spark, gen), batchId)
    }

    /** Is `batchId` one of `gen`'s `live` batches or in its ledger? */
    private def known(spark: SparkSession, gen: String,
        live: Seq[(String, String)], batchId: String): Boolean =
      live.exists(_._1 == batchId) || readLedger(spark, gen).contains(batchId)

    def liveBatchCount(spark: SparkSession, path: String): Int =
      listBatches(spark, Generations.current(spark, path, what)).size

    def rebuild(spark: SparkSession, path: String)(write: String => Unit): Unit = {
      import spark.implicits._
      // resolved BEFORE the publish supersedes the batches it names
      val carried = if (ledgered) carriedLedger(spark, path) else Nil
      publish(spark, path, parts) { staging =>
        write(staging)
        if (ledgered) carried.toDF("batch_id").coalesce(1)
          .write.mode("overwrite").parquet(s"$staging/ingested")
      }
    }

    /** `stage` gets the verified live generation and returns the writer
      * that fills the staged batch directory; it runs after the
      * duplicate check, so an expensive fold is never paid for a
      * replayed batch. */
    def append(spark: SparkSession, path: String, batchId: String)(
        stage: String => String => Unit): Unit = {
      requirePlain(batchId)
      val gen = current(spark, path)
      val live = listBatches(spark, gen)
      if (known(spark, gen, live, batchId)) throw new IllegalStateException(
        s"$what at $path already ingested batch '$batchId' (it is already " +
          "committed or folded into the replay ledger) — a blind retry " +
          "would apply its rows twice; probe batchIngested before " +
          "appending, or pick a new batch id")
      commitBatch(spark, path, gen, what, f"${live.size}%06d-$batchId%s")(stage(gen))
    }

    def compact(spark: SparkSession, path: String): Unit = {
      val gen = current(spark, path)
      rebuild(spark, path) { staging =>
        stamped.foreach { c =>
          merged.get(c).fold(read(spark, gen, c))(_(spark, gen))
            .write.mode("overwrite").parquet(s"$staging/$c")
        }
      }
    }
  }
}
