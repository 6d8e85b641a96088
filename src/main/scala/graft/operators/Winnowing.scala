package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003,
  * "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
  * algorithm). Reference tie-in: the reference's per-item "TextExtractor →
  * fingerprint" stage idiom (FIXTURES.md §1.4); this is the published
  * selection rule that makes such fingerprints POSITION-ROBUST.
  *
  * Why not just hash everything: the full k-gram hash set (d07/d26's
  * candidate machinery) is 1:1 with document length — at 100 TB the
  * fingerprint index is as big as the corpus. Winnowing selects the
  * MINIMUM hash in each sliding window of `w` consecutive k-gram hashes
  * (ties → rightmost), which guarantees two properties no random
  * subsample has:
  *   - density: ~2/(w+1) of positions selected (index shrinks ~w/2×),
  *   - the matching GUARANTEE: any shared run of ≥ w+k−1 words produces
  *     at least one shared selected fingerprint — misses have a hard
  *     length bound, unlike mod-p sampling where a long match can vanish.
  *
  * Everything is scan-local array algebra over the existing portable
  * pieces (word shingles + PolyHash), so selection adds ZERO shuffles and
  * replays bit-for-bit in the DuckDB oracle; the only shuffle in pair
  * matching is the fingerprint equi-join, hot-fingerprint-capped like
  * every other pair finder in `Dedup`.
  */
object Winnowing {

  /** Per-position winnowing selection over the k-gram PolyHashes of
    * `textCol`: returns (idCol, fps) where `fps` is the DISTINCT selected
    * hash array (sorted, for deterministic downstream digests). Documents
    * shorter than k+w−1 words select nothing (empty array). */
  def fingerprints(
      docs: DataFrame,
      k: Int = 3,
      w: Int = 4,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    // r16: gram hashing + window selection fused into one compiled pass
    // ([[graft.expressions.WinnowedHashes]]) — no gram strings, no struct
    // arrays, O(n) deque selection. Value-identical to the HOF
    // formulation below ([[winnowSelect]], kept as the executable spec;
    // WinnowingSpec pins both against the hand-rolled reference).
    // r17: wrapped in [[graft.expressions.EvalOnce]] — the filter
    // InferFiltersFromGenerate infers under the downstream explode was
    // pushed through this projection, re-evaluating the selection 2×
    // per row in the filter on top of the projection's own evaluation
    // (3 evaluations total, visible in the committed r16 d44 plan).
    docs.select(col(idCol),
      graft.expressions.EvalOnce(graft.expressions.WinnowedHashes(
        TextFunctions.words(col(textCol)), k, w)).as("fps"))
  }

  /** The selection core, exposed for composition: `hs` is an array<long>
    * of position-ordered k-gram hashes; result is the sorted distinct
    * array of window minima (ties → rightmost — the robust-winnowing tie
    * direction, which keeps selections self-consistent across overlapping
    * windows). O(n·w) per row, scan-local.
    *
    * Implemented as a sliding zip (the [[TextFunctions.shingles]]
    * discipline): the window fold is w−1 `zip_with` passes of the array
    * against its own shifted slices, so every `hs` reference sits at ROW
    * level. The `element_at(hs, i+j)`-inside-a-lambda formulation reads
    * more naturally but re-evaluates the whole hash-array producer once
    * per WINDOW ELEMENT when Catalyst collapses projections — measured
    * 13 s instead of 0.4 s on 500 docs once the expression sat under a
    * join. */
  private[operators] def winnowSelect(hs: Column, w: Int): Column = {
    val n = size(hs)
    // (hash, position) pairs; fold the w-1 shifted copies keeping the
    // minimum, replacing on <= so equal hashes prefer the LATER position
    val withPos = transform(hs, (x, i) => struct(x.as("h"), i.as("p")))
    val folded = (1 until w).foldLeft(withPos) { (acc, j) =>
      zip_with(acc, slice(withPos, lit(j + 1), greatest(n - j, lit(1))),
        (a, b) => when(b.isNull || a.getField("h") < b.getField("h"), a)
          .otherwise(b))
    }
    // folded(i) = rightmost-min over positions i..i+w-1; only the first
    // n-w+1 entries cover a FULL window
    val minima = slice(folded, lit(1), greatest(n - (w - 1), lit(0)))
    when(n < w, array().cast("array<bigint>"))
      .otherwise(array_sort(array_distinct(
        transform(minima, s => s.getField("h")))))
  }

  /** Per-doc fingerprint summary for audits/oracles: shingle count,
    * selected-fingerprint count, and an order-free md5 digest of the
    * selected set. */
  def fingerprintSummary(
      docs: DataFrame,
      k: Int = 3,
      w: Int = 4,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame =
    fingerprints(docs, k, w, idCol, textCol)
      .select(col(idCol),
        size(col("fps")).as("n_fps"),
        md5(concat_ws(",", transform(col("fps"), _.cast("string"))))
          .as("fp_digest"))

  /** MOSS-style overlap pairs: documents sharing selected fingerprints,
    * with the shared count and the overlap fraction vs the smaller side's
    * fingerprint set. One shuffle on the fingerprint value; fingerprints
    * present in more than `maxDocFreq` docs are dropped BEFORE the
    * self-join (boilerplate/stopword shingles otherwise fan out
    * quadratically per hot value — the same hot-key cap every pair finder
    * here carries; at 100 TB this bound, not the corpus, sizes the
    * join). */
  def overlapPairs(
      docs: DataFrame,
      k: Int = 3,
      w: Int = 4,
      minShared: Int = 2,
      maxDocFreq: Int = 1000,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    Dedup.requireIntegralId(docs, idCol, "overlapPairs")
    // ONE shuffle does the doc-frequency cap AND the candidate gather
    // (`Dedup.cappedGroups` over each fingerprint's (did, nfp) postings),
    // and `payload_pairs_gen` fans the ordered pairs out locally with each
    // side's nfp riding along — no df aggregate, cap join or fp
    // self-join, and the selection scan runs exactly once, unpersisted.
    val posting = fingerprints(docs, k, w, idCol, textCol)
      .select(col(idCol).as("did"), size(col("fps")).as("nfp"),
        explode(col("fps")).as("fp"))
    Dedup.cappedGroups(posting, Seq(col("fp")), col("did"), col("nfp"),
        maxDocFreq, "overlapPairs")
      .select(graft.expressions.PayloadPairsGen(col("ds")))
      .groupBy(col("a").as("doc_a"), col("b").as("doc_b"),
        col("pa").as("nfp_a"), col("pb").as("nfp_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        (col("n_shared").cast("double") /
          least(col("nfp_a"), col("nfp_b"))).as("overlap_frac"))
  }

  /** The stored-index half of incremental MOSS: the posting table
    * `(did, nfp, fp)` of a corpus's selected fingerprints — what a
    * submission-checking service keeps on disk so each new batch checks
    * against history WITHOUT rescanning it (the d25/d37/e14 ingest
    * contract applied to the plagiarism family). Built with exactly the
    * batch-path selection expressions, so an index written at ingest
    * time and a batch fingerprinted later land on the same values. */
  def fingerprintIndex(
      docs: DataFrame,
      k: Int = 3,
      w: Int = 4,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    // the probe side casts `did` to BIGINT: a string-id index would
    // build fine and fail mid-job on its first incremental probe
    Dedup.requireIntegralId(docs, idCol, "fingerprintIndex")
    fingerprints(docs, k, w, idCol, textCol)
      .select(col(idCol).as("did"), size(col("fps")).as("nfp"),
        explode(col("fps")).as("fp"))
  }

  /** Publish a [[fingerprintIndex]] to disk: `postings/` plus a `meta/`
    * row pinning (k, w) — the winnowing scheme is a function of both, so
    * probing a k=3 index with k=5 batch fingerprints would produce
    * disjoint values and a silently-EMPTY overlap set (the
    * EditDistance maxDist-pin precedent); reads fail loud on mismatch
    * instead. The index is a [[Generations.Store]], so rebuilding over a
    * LIVE index is safe. */
  def writeFingerprintIndex(
      docs: DataFrame,
      path: String,
      k: Int = 3,
      w: Int = 4,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    store.rebuild(spark, path) { staging =>
      fingerprintIndex(docs, k, w, idCol, textCol)
        .write.mode("overwrite").parquet(s"$staging/postings")
      Seq((k, w)).toDF("k", "w").coalesce(1)
        .write.mode("overwrite").parquet(s"$staging/meta")
    }
  }

  private[graft] val store = Generations.Store("winnowing index",
    stamped = Seq("postings", "meta"), appended = Seq("postings"))

  /** The (k, w) scheme a generation pins. */
  private def storedScheme(spark: org.apache.spark.sql.SparkSession,
      gen: String): (Int, Int) = {
    val m = spark.read.parquet(s"$gen/meta").head()
    (m.getAs[Int]("k"), m.getAs[Int]("w"))
  }

  /** The replay probe a retrying ingest job runs before [[appendIndex]]. */
  def batchIngested(spark: org.apache.spark.sql.SparkSession,
      path: String, batchId: String): Boolean =
    store.batchIngested(spark, path, batchId)

  /** The small-file gauge that triggers [[compactIndex]]. */
  def liveBatchCount(spark: org.apache.spark.sql.SparkSession,
      path: String): Int =
    store.liveBatchCount(spark, path)

  /** Fold a new batch of documents into the stored index — the d51
    * contract's own words made executable: "appending the batch's
    * postings IS the next day's index". O(|batch|) fingerprinting under
    * the STORED (k, w) scheme (no caller-supplied scheme to mismatch),
    * history untouched. */
  def appendIndex(
      batch: DataFrame,
      path: String,
      batchId: String,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): Unit =
    store.append(batch.sparkSession, path, batchId) { gen =>
      val (k, w) = storedScheme(batch.sparkSession, gen)
      val postings = fingerprintIndex(batch, k, w, idCol, textCol)
      staging => postings.write.mode("overwrite").parquet(s"$staging/postings")
    }

  /** Fold the live generation's batch directories into a fresh base,
    * zero re-fingerprinting; meta copies verbatim, so the (k, w) pin
    * survives. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    store.compact(spark, path)

  /** The stored posting table — base + committed appends — stamp-verified
    * and (k, w)-pinned: the `index` frame [[incrementalOverlapPairs]]
    * probes. The caller's (k, w) must equal the stored scheme. */
  def readFingerprintIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      k: Int = 3,
      w: Int = 4
  ): DataFrame = {
    val gen = store.current(spark, path)
    val (sk, sw) = storedScheme(spark, gen)
    require(sk == k && sw == w,
      s"winnowing index at $path was built with (k=$sk, w=$sw), probed " +
        s"with (k=$k, w=$w) — the fingerprint schemes are disjoint and " +
        "the overlap would be silently empty; rebuild or match the " +
        "stored scheme")
    store.read(spark, gen, "postings")
  }

  /** Incremental MOSS overlap: a NEW batch against a stored
    * [[fingerprintIndex]] — new×history pairs only, never
    * history×history. The doc-frequency boilerplate cap is computed over
    * index ∪ batch postings (an index-column scan, KB–MB metadata, not a
    * corpus rescan), so the pair set equals [[overlapPairs]] on the
    * union corpus restricted to cross pairs — the spec pins that
    * equivalence, and appending the batch's postings to the index is the
    * next day's index (same append contract as `Dedup.lshIndex`).
    * Output: (new_id, old_id, n_shared, overlap_frac). */
  def incrementalOverlapPairs(
      batch: DataFrame,
      index: DataFrame,
      k: Int = 3,
      w: Int = 4,
      minShared: Int = 2,
      maxDocFreq: Int = 1000,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    Dedup.requireIntegralId(batch, idCol, "incrementalOverlapPairs")
    // Same one-shuffle cap+gather as [[overlapPairs]]: both sides'
    // postings union with a side TAG packed into the payload's low bit
    // (payload = 2·nfp + tag — integer packing, engine-exact), the
    // df cap computes over index ∪ batch inside the same aggregate, and
    // the local pair fan-out keeps only cross-side pairs — the batch is
    // fingerprinted exactly once, unpersisted.
    val tagged = index
      .select(col("did"), (col("nfp").cast("long") * 2).as("pl"), col("fp"))
      .unionAll(fingerprintIndex(batch, k, w, idCol, textCol)
        .select(col("did"), (col("nfp").cast("long") * 2 + 1).as("pl"),
          col("fp")))
    Dedup.cappedGroups(tagged, Seq(col("fp")), col("did"), col("pl"),
        maxDocFreq, "incrementalOverlapPairs")
      .select(graft.expressions.PayloadPairsGen(col("ds")))
      .filter(col("pa") % 2 =!= col("pb") % 2) // cross-side pairs only
      .select(
        when(col("pa") % 2 === 1, col("a")).otherwise(col("b")).as("new_id"),
        when(col("pa") % 2 === 1, col("b")).otherwise(col("a")).as("old_id"),
        shiftright(when(col("pa") % 2 === 1, col("pa")).otherwise(col("pb")), 1)
          .as("nfp_new"),
        shiftright(when(col("pa") % 2 === 1, col("pb")).otherwise(col("pa")), 1)
          .as("nfp_old"))
      .groupBy("new_id", "old_id", "nfp_new", "nfp_old")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("new_id"), col("old_id"), col("n_shared"),
        (col("n_shared").cast("double") /
          least(col("nfp_new"), col("nfp_old"))).as("overlap_frac"))
  }
}
