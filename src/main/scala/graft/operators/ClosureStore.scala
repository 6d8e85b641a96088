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
  *   - `ingested/` — the replay ledger.
  *
  * These and the `batches/` directory are one [[Generations.Store]],
  * whose scaladoc states the rebuild / append / compact contract
  * ([[build]], [[advance]], [[compact]] here).
  *
  * [[foldDelta]] chunks ONLY the new documents, recomputes stars
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
  */
object ClosureStore {

  private[graft] val store = Generations.Store("ClosureStore",
    stamped = Seq("postings", "edges", "closure", "meta"),
    appended = Seq("postings", "closure"),
    merged = Map("edges" -> readEdges))

  /** The replay probe a retrying ingest job runs before [[advance]]. */
  def batchIngested(spark: SparkSession, path: String, batchId: String): Boolean =
    store.batchIngested(spark, path, batchId)

  /** The read-amplification gauge: the merge-on-read edge composition
    * pays one anti join per live batch. */
  def liveBatchCount(spark: SparkSession, path: String): Int =
    store.liveBatchCount(spark, path)

  /** The composed star-edge table: a chunk's CURRENT star lives in the
    * LAST batch that touched it (or the base if none did) — each frame
    * is anti-joined against the union of LATER batches' touched-chunk
    * lists, the merge-on-read fold ([[MergeOnRead]]'s shape; read cost
    * grows with the batch count, which is what [[compact]] on a cadence
    * is for). */
  private def readEdges(spark: SparkSession, gen: String): DataFrame = {
    val dirs = store.batches(spark, gen)
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

  /** The current stored closure — base build + every committed
    * [[advance]] batch: (node, depth). The read path a consumer job
    * ("is this document contaminated?") semi-joins against. */
  def storedClosure(spark: SparkSession, path: String): DataFrame =
    store.read(spark, store.current(spark, path), "closure")

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
  def storedPostings(spark: SparkSession, path: String): DataFrame =
    store.read(spark, store.current(spark, path), "postings")

  /** Bootstrap the store from scratch: chunk `docs`, derive the star
    * edges, run the full BFS from `seeds` (one-column id frame), write
    * and stamp all components as generation 1. This is the
    * once-per-corpus cost; every subsequent day is [[foldDelta]] /
    * [[advance]].
    *
    * Rebuilding over a LIVE store is safe ([[Generations.Store]]'s
    * rebuild). The caller owns the corpus contract: `docs` must be the
    * full corpus the store should now describe; for a genuinely fresh
    * store, use a fresh path. Prefer [[compact]] when the goal is just
    * folding batch directories into the base: it reuses the stored
    * artifacts and re-chunks nothing. */
  def build(
      docs: DataFrame,
      seeds: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      chunkWords: Int = 8
  ): Unit = {
    val spark = docs.sparkSession
    store.rebuild(spark, path) { staging =>
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
    }
  }

  /** Fold the current generation's batch directories into a fresh base
    * from the STORED artifacts only, zero re-chunking: the composed
    * posting/edge/closure reads (exactly what every fold consumes) are
    * rewritten as plain single-directory tables. Read cost of the
    * merge-on-read edge composition grows with the batch count; this is
    * the cadence job that resets it. */
  def compact(spark: SparkSession, path: String): Unit =
    store.compact(spark, path)

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
    foldCore(newDocs, newSeeds, store.current(newDocs.sparkSession, path),
      idCol, textCol).result

  private final case class Fold(
      newPostings: DataFrame, touched: DataFrame,
      recomputedStars: DataFrame, closure: DataFrame, result: DataFrame)

  /** The fold against `gen`, a live generation already stamp-verified. */
  private def foldCore(
      newDocs: DataFrame,
      newSeeds: DataFrame,
      gen: String,
      idCol: String,
      textCol: String
  ): Fold = {
    val spark = newDocs.sparkSession
    val chunkWords =
      spark.read.parquet(s"$gen/meta").head().getAs[Int]("chunk_words")
    val storedPostings = store.read(spark, gen, "postings")
    val storedEdges = readEdges(spark, gen)
    val closure = store.read(spark, gen, "closure")

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
    * One batch directory ([[Generations.Store]]'s append) carries all
    * four deltas:
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
    * The replay probe runs before the fold, so a replayed batch costs no
    * chunking. Read cost grows with the batch count — run [[compact]] on
    * whatever cadence folding the batches in is worth. Returns the post-commit closure (the fold result). */
  def advance(
      newDocs: DataFrame,
      newSeeds: DataFrame,
      path: String,
      batchId: String,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    var fold: Fold = null
    store.append(newDocs.sparkSession, path, batchId) { gen =>
      fold = foldCore(newDocs, newSeeds, gen, idCol, textCol)
      staging => {
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
    }
    fold.result
  }
}
