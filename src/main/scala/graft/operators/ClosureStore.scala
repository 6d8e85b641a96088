package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STORED contamination-closure state — the daily steady state of the
  * d53 composition ([[Dedup.chunkShareEdges]] → [[Graph.reachableFrom]]).
  * A from-scratch spread query re-pays, every day, (a) the full-text
  * chunking of the ENTIRE corpus and (b) every historical BFS round —
  * for an ingest that added a few percent of documents. This store keeps
  * the three artifacts yesterday's run already computed, so today's run
  * pays only for today:
  *
  *   - `postings/` — distinct (doc_id, fp) chunk occurrences
  *     ([[Dedup.chunkPostings]]): the expensive text explode, paid once
  *     per document ever.
  *   - `edges/` — per-chunk star edges (fp, a_id, b_id)
  *     ([[Dedup.chunkShareEdgesFromPostings]]): the fp column is what
  *     makes incremental maintenance possible — a new batch touches a
  *     known set of chunks, and exactly those chunks' stars are swapped.
  *   - `closure/` — (node, depth), every node reachable from the seed
  *     set over the symmetrized share graph.
  *   - `meta/` — pins `chunk_words`: the fingerprint scheme is a
  *     function of it, and probing with a different value would produce
  *     disjoint fps and a silently-empty delta ([[EditDistance]]'s
  *     maxDist-pin precedent). Reads fail loud on mismatch.
  *   - `ingested/` — the replay ledger: every batch id ever folded by
  *     [[advance]] and carried through a [[compact]] or rebuild, so
  *     [[batchIngested]] keeps answering truthfully after the batch
  *     directories themselves are compacted away.
  *
  * == Generations ==
  *
  * All five components plus the `batches/` directory live inside ONE
  * generation directory `gen-NNNNNNN/` ([[Generations]]); a base rewrite
  * ([[build]] over a live store, [[compact]]) publishes the next
  * generation whole. This is what makes rebuilding over a live store
  * safe: the new base can never silently compose with the old
  * generation's batch directories, because those live inside the old
  * generation and are superseded wholesale.
  *
  * [[foldDelta]] then chunks ONLY the new documents, recomputes stars
  * for ONLY the touched chunks (one semi join of the stored postings
  * against the delta's chunk set), carries every untouched star over
  * unchanged (one anti join over the stored edges — a single key-bounded
  * pass over a stored table, the irreducible cost of consulting state),
  * and folds the edge delta into the stored closure with
  * [[Graph.incrementalReachable]] — BFS rounds proportional to the
  * newly-reachable region, never to history. Correctness does not
  * depend on hubs staying put: a new document can MOVE a chunk's hub
  * (min doc id), so that chunk's old spokes vanish and new ones appear —
  * but star components are hub-invariant and sharing is monotone, so
  * connectivity never shrinks and every escape from the stored closure
  * still crosses a delta edge (the g08 oracle pins set-equality with the
  * from-scratch closure over the union corpus).
  *
  * Torn-state safety: within a generation the five base directories are
  * stamped with ONE generation id after the writes ([[ArtifactStamp]] —
  * the [[FileManifest]] stamp mechanism); every read path verifies the
  * stamps align and fails loud otherwise, so a crash between component
  * writes of a hand-rolled rebuild can never silently join yesterday's
  * closure against today's edges. [[advance]] commits all four deltas
  * as ONE batch directory, wholly visible or not at all, so a batch
  * needs no cross-directory stamp. Document ids must be unique ACROSS
  * the store and every folded batch.
  */
object ClosureStore {

  private def parts(gen: String): Seq[String] =
    Seq(s"$gen/postings", s"$gen/edges", s"$gen/closure", s"$gen/meta",
      s"$gen/ingested")

  /** The live generation — the highest committed `gen-NNNNNNN`
    * ([[Generations]]). Every read and every [[advance]] resolves
    * through here, which is the whole crash-safety argument for base
    * rewrites: an interrupted rewrite either never published (readers
    * keep the old generation) or published completely (readers see the
    * new one). */
  private def currentGen(spark: SparkSession, path: String): String =
    Generations.current(spark, path, "ClosureStore")

  /** Committed batch directories of the CURRENT generation, ascending
    * commit order — NUMERIC on the sequence prefix, not lexicographic:
    * the `%06d` padding grows to 7 digits past batch 999 999, where
    * "1000000-…" < "999999-…" as strings would reorder the merge-on-read
    * masking in [[readEdges]] and silently serve a stale star. (Dir
    * names are sequence numbers assigned at commit — single-writer, the
    * COW contract.) */
  private def batchDirs(spark: SparkSession, gen: String): Seq[String] =
    Generations.listBatches(spark, gen).map(_._2).sortBy(dirSeq)

  /** The numeric sequence prefix of a committed batch directory
    * (`NNNNNN-<batchId>`, width ≥ 6). */
  private def dirSeq(dir: String): Long = {
    val n = dir.substring(dir.lastIndexOf('/') + 1)
    n.substring(0, n.indexOf('-')).toLong
  }

  /** The batch id a committed batch directory carries: dir names are
    * `NNNNNN-<batchId>` — split at the FIRST '-' (a fixed-width drop
    * would mis-parse once the sequence outgrows its padding and make
    * batchIngested deny a committed batch, letting a replay duplicate
    * it) and compare EQUALITY (an endsWith probe would false-positive
    * on batch ids containing '-': committed "x-b1" ends with "-b1"). */
  private def dirBatchId(dir: String): String = {
    val n = dir.substring(dir.lastIndexOf('/') + 1)
    n.substring(n.indexOf('-') + 1)
  }

  /** Has `batchId` already been folded in — by a live [[advance]] batch
    * directory of the current generation, or by one compacted into the
    * base (the `ingested` ledger)? The idempotence probe a retrying or
    * replaying ingest job runs before advancing. */
  def batchIngested(spark: SparkSession, path: String, batchId: String): Boolean = {
    val gen = currentGen(spark, path)
    batchDirs(spark, gen).exists(dirBatchId(_) == batchId) ||
      ingestedLedger(spark, gen).contains(batchId)
  }

  /** Batch directories of the live generation not yet folded into the
    * base — the read-amplification gauge: the merge-on-read edge
    * composition pays one anti join per live batch, so a maintenance
    * job (or [[graft.streaming.Streaming.closureSink]]'s `compactEvery`)
    * triggers [[compact]] when this crosses its cadence. */
  def liveBatchCount(spark: SparkSession, path: String): Int =
    batchDirs(spark, currentGen(spark, path)).size

  private def ingestedLedger(spark: SparkSession, gen: String): Set[String] =
    Generations.readLedger(spark, gen)

  /** The composed posting table: base + every committed batch. */
  private def readPostings(spark: SparkSession, gen: String): DataFrame =
    spark.read.parquet((s"$gen/postings" +:
      batchDirs(spark, gen).map(d => s"$d/postings")): _*)

  /** The composed star-edge table: a chunk's CURRENT star lives in the
    * LAST batch that touched it (or the base if none did) — each frame
    * is anti-joined against the union of LATER batches' touched-chunk
    * lists, the merge-on-read fold ([[MergeOnRead]]'s shape; read cost
    * grows with the batch count, which is what [[compact]] on a cadence
    * is for). */
  private def readEdges(spark: SparkSession, gen: String): DataFrame = {
    val dirs = batchDirs(spark, gen)
    var touchedAfter: DataFrame = null
    var out: DataFrame = null
    for (d <- dirs.reverse) {
      val stars = spark.read.parquet(s"$d/stars")
      val masked = if (touchedAfter == null) stars
        else stars.join(touchedAfter, Seq("fp"), "left_anti")
      out = if (out == null) masked else out.unionByName(masked)
      val t = spark.read.parquet(s"$d/touched")
      touchedAfter = if (touchedAfter == null) t else touchedAfter.unionByName(t)
    }
    val base = spark.read.parquet(s"$gen/edges")
    val baseMasked = if (touchedAfter == null) base
      else base.join(touchedAfter, Seq("fp"), "left_anti")
    if (out == null) baseMasked else baseMasked.unionByName(out)
  }

  /** The composed closure: base + every batch's newly-reached rows
    * (disjoint node sets by construction — [[advance]] commits only the
    * nodes the fold added). */
  private def readClosure(spark: SparkSession, gen: String): DataFrame =
    spark.read.parquet((s"$gen/closure" +:
      batchDirs(spark, gen).map(d => s"$d/closure")): _*)

  /** The current stored closure — base build + every committed
    * [[advance]] batch: (node, depth). The read path a consumer job
    * ("is this document contaminated?") semi-joins against. */
  def storedClosure(spark: SparkSession, path: String): DataFrame = {
    val gen = currentGen(spark, path)
    ArtifactStamp.verifyAligned(spark, "ClosureStore", parts(gen))
    readClosure(spark, gen)
  }

  /** The current stored posting table — base + every committed batch:
    * distinct (doc_id, fp). The chunking pass is the expensive half of
    * every share-graph derivation (a full-text explode of the corpus),
    * and this store already paid it — so the WEIGHTED share graph g10
    * grades (df = one group-count over these rows,
    * [[Dedup.weightedChunkShareEdges]]) and any other posting-derived
    * artifact should read it from here instead of re-chunking the
    * corpus inline (the r15→r16 floor move, the same one that took the
    * g08 closure and d54 truth re-derivations out of their steady
    * states). */
  def storedPostings(spark: SparkSession, path: String): DataFrame = {
    val gen = currentGen(spark, path)
    ArtifactStamp.verifyAligned(spark, "ClosureStore", parts(gen))
    readPostings(spark, gen)
  }

  /** Publish `write`'s output as the next generation —
    * [[Generations.publish]] with this store's five stamped components. */
  private def publishGen(spark: SparkSession, path: String)(
      write: String => Unit): Unit =
    Generations.publish(spark, path, parts)(write)

  /** Bootstrap the store from scratch: chunk `docs`, derive the star
    * edges, run the full BFS from `seeds` (one-column id frame), write
    * and stamp all components as generation 1. This is the
    * once-per-corpus cost; every subsequent day is [[foldDelta]] /
    * [[advance]].
    *
    * Rebuilding over a LIVE store is safe and supported — the rebuild
    * publishes a whole new generation and the old base AND its batch
    * directories are superseded together (never composed with the new
    * base). The caller owns the corpus contract: `docs` must be the full
    * corpus the store should now describe. The `ingested` ledger carries
    * forward (old ledger ∪ old batch ids), so a streaming replay of a
    * batch folded before the rebuild is still recognized and skipped —
    * for a genuinely fresh store, use a fresh path. Prefer [[compact]]
    * when the goal is just folding batch directories into the base: it
    * reuses the stored artifacts and re-chunks nothing. */
  def build(
      docs: DataFrame,
      seeds: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      chunkWords: Int = 8
  ): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val carried: Seq[String] = Generations.carriedLedger(spark, path,
      gen => batchDirs(spark, gen).map(dirBatchId))
    publishGen(spark, path) { staging =>
      val postings = Dedup.chunkPostings(docs, idCol, textCol, chunkWords)
      postings.write.mode("overwrite").parquet(s"$staging/postings")
      val stored = spark.read.parquet(s"$staging/postings")
      Dedup.chunkShareEdgesFromPostings(stored)
        .write.mode("overwrite").parquet(s"$staging/edges")
      val edges = spark.read.parquet(s"$staging/edges")
      Graph.reachableFrom(sym(edges), seeds, srcCol = "a_id", dstCol = "b_id")
        .write.mode("overwrite").parquet(s"$staging/closure")
      spark.range(1).select(lit(chunkWords).as("chunk_words"))
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/meta")
      carried.toDF("batch_id")
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/ingested")
    }
  }

  /** Fold the current generation's batch directories into a fresh base —
    * from the STORED artifacts only, zero re-chunking: the composed
    * posting/edge/closure reads (exactly what every fold consumes) are
    * rewritten as plain single-directory tables, the replay ledger
    * absorbs the batch ids, and the result publishes as the next
    * generation. Read cost of the merge-on-read edge composition grows
    * with the batch count; this is the cadence job that resets it.
    * Folding, reading, and [[batchIngested]]
    * answers are invariant across a compact — spec-pinned. */
  def compact(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val gen = currentGen(spark, path)
    ArtifactStamp.verifyAligned(spark, "ClosureStore", parts(gen))
    val ledger = Generations.carriedLedger(spark, path,
      g => batchDirs(spark, g).map(dirBatchId))
    publishGen(spark, path) { staging =>
      readPostings(spark, gen)
        .write.mode("overwrite").parquet(s"$staging/postings")
      readEdges(spark, gen)
        .write.mode("overwrite").parquet(s"$staging/edges")
      readClosure(spark, gen)
        .write.mode("overwrite").parquet(s"$staging/closure")
      spark.read.parquet(s"$gen/meta")
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/meta")
      ledger.toDF("batch_id")
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/ingested")
    }
  }

  private def sym(star: DataFrame): DataFrame =
    star.select(col("a_id"), col("b_id")).unionAll(
      star.select(col("b_id").as("a_id"), col("a_id").as("b_id")))

  /** Today's closure over (stored corpus ∪ `newDocs`), with `newSeeds`
    * (one-column id frame, e.g. today's flagged documents) joining the
    * seed set at depth 0 — SET-identical to rebuilding from scratch over
    * the union, at delta cost: chunking is |newDocs|-proportional, star
    * recomputation touches only chunks the batch occurs in, and the BFS
    * expands only the newly-reachable region. The store itself is not
    * changed — [[advance]] is the committing form; run [[compact]] on
    * whatever cadence folding the batch directories is worth. */
  def foldDelta(
      newDocs: DataFrame,
      newSeeds: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame =
    foldCore(newDocs, newSeeds, path, idCol, textCol).result

  private final case class Fold(
      newPostings: DataFrame, touched: DataFrame,
      recomputedStars: DataFrame, closure: DataFrame, result: DataFrame)

  private def foldCore(
      newDocs: DataFrame,
      newSeeds: DataFrame,
      path: String,
      idCol: String,
      textCol: String
  ): Fold = {
    val spark = newDocs.sparkSession
    val gen = currentGen(spark, path)
    ArtifactStamp.verifyAligned(spark, "ClosureStore", parts(gen))
    val chunkWords =
      spark.read.parquet(s"$gen/meta").head().getAs[Int]("chunk_words")
    val storedPostings = readPostings(spark, gen)
    val storedEdges = readEdges(spark, gen)
    val closure = readClosure(spark, gen)

    // delta-sized text explode; materialized — it feeds the touched-chunk
    // set, the star recomputation, and (via those) two join sides
    val newPostings = Dedup
      .chunkPostings(newDocs, idCol, textCol, chunkWords)
      .localCheckpoint(true)
    val touched = newPostings.select("fp").distinct()
    // full occurrence set of exactly the touched chunks: stored postings
    // semi-joined to the delta's chunk keys + the delta's own rows
    val touchedPostings = storedPostings
      .join(touched, Seq("fp"), "left_semi")
      .unionByName(newPostings)
    val recomputedStars = Dedup.chunkShareEdgesFromPostings(touchedPostings)
      .localCheckpoint(true) // consumed by the full graph AND the delta
    val recomputed = recomputedStars
      .select(col("a_id"), col("b_id")).distinct()
    // stars of untouched chunks carry over verbatim — their posting sets
    // did not change, so neither did their hubs or spokes
    val untouched = storedEdges.join(touched, Seq("fp"), "left_anti")
      .select(col("a_id"), col("b_id"))
    val fullEdges = untouched.unionByName(recomputed)
    val deltaEdges = recomputed.join(
      storedEdges.select(col("a_id"), col("b_id")),
      Seq("a_id", "b_id"), "left_anti")

    // a "new" seed already inside the stored closure would duplicate its
    // node row (stored depth + depth 0) — drop those before the union
    val seedRows = newSeeds
      .select(col(newSeeds.columns.head).cast("long").as("node")).distinct()
      .join(closure.select(col(closure.columns.head).as("node")),
        Seq("node"), "left_anti")
      .withColumn("depth", lit(0))
    // smallFrontier: the fold's BFS frontiers are bounded by the DELTA's
    // newly-reachable region — levels of node ids from one ingest batch,
    // the same delta-sized-broadcast contract as the CDC retract path.
    // A bulk backfill folded through this API should rebuild instead
    // (or call Graph.incrementalReachable directly with the default).
    val result = Graph.incrementalReachable(
      closure.unionByName(seedRows, allowMissingColumns = false),
      sym(fullEdges), sym(deltaEdges), srcCol = "a_id", dstCol = "b_id",
      smallFrontier = true)
    Fold(newPostings, touched, recomputedStars, closure, result)
  }

  /** COMMIT today's fold — the write half of the daily cycle, so the
    * store genuinely rolls forward instead of rebuilding on a cadence.
    * One batch directory carries all four deltas and commits whole
    * through [[Generations.commitBatch]] ([[EditDistance.appendIndex]]'s
    * atomic-batch discipline):
    *
    *   - `postings` — the batch's chunk postings (append-only: history
    *     postings never change).
    *   - `stars` + `touched` — the recomputed stars of exactly the
    *     chunks the batch touched, plus their fp list; the read side
    *     masks every EARLIER version of a touched chunk (merge-on-read —
    *     the star of a chunk lives in the last batch that touched it).
    *   - `closure` — only the NEWLY-reached nodes (the closure is
    *     append-only under inserts: old nodes keep their rows).
    *
    * Re-submitting a committed batchId fails loud ([[batchIngested]] is
    * the retry probe). Read cost grows with the batch count — run
    * [[compact]] on whatever cadence folding the batches in is worth.
    * Returns the post-commit closure (the fold result). */
  def advance(
      newDocs: DataFrame,
      newSeeds: DataFrame,
      path: String,
      batchId: String,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    Generations.requirePlain(batchId)
    val spark = newDocs.sparkSession
    val gen = currentGen(spark, path)
    if (batchIngested(spark, path, batchId)) throw new IllegalStateException(
      s"ClosureStore at $path already committed batch '$batchId' — a blind " +
        "retry would re-mask chunks and duplicate postings; probe " +
        "batchIngested before advancing, or pick a new batch id")
    val fold = foldCore(newDocs, newSeeds, path, idCol, textCol)
    val seq = batchDirs(spark, gen).size
    Generations.commitBatch(spark, path, gen, "ClosureStore",
        f"$seq%06d-$batchId%s") { staging =>
      fold.newPostings.write.mode("overwrite").parquet(s"$staging/postings")
      fold.recomputedStars.write.mode("overwrite").parquet(s"$staging/stars")
      fold.touched.write.mode("overwrite").parquet(s"$staging/touched")
      // the fold result is already materialized (the BFS returns
      // checkpointed rows), so the anti join below re-reads blocks, not
      // the whole fold lineage
      fold.result
        .join(fold.closure.select(col(fold.closure.columns.head).as("node")),
          Seq("node"), "left_anti")
        .write.mode("overwrite").parquet(s"$staging/closure")
    }
    fold.result
  }
}
