package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EXACT edit-distance similarity join: every pair of strings within
  * Levenshtein distance `maxDist`, found WITHOUT an all-pairs join — the
  * character-level complement of the token-set families (d07 Jaccard, d47
  * PPJoin): those catch reworded near-dups, this catches typo/OCR/mangling
  * near-dups that token-set similarity misses entirely (one character edit
  * changes a whole token).
  *
  * Candidate generation is the Pass-Join segment filter (Li/Deng/Feng,
  * PVLDB 2011), chosen over the classic q-gram count/prefix filters
  * (Gravano 2001, Ed-Join 2008) after MEASURING both on a low-diversity
  * corpus: with ~113 distinct character bigrams, every gram is hot and
  * gram-value joins degenerate (2.0M candidates for 258 true pairs at 5k
  * strings; q=4 still 0.9M), while k+1-way segmenting yields ~l/(k+1)-char
  * EXACT substrings as keys — 31k candidates on the same corpus, 60x
  * fewer. The pigeonhole argument: partition a into k+1 contiguous
  * segments; each of the <= k edits touches at most one segment, so some
  * segment is untouched and appears VERBATIM in b, displaced by at most k
  * (net insertions/deletions before it). Candidates are therefore the
  * pairs where some segment of a (under a's own length scheme) equals a
  * substring of b of the same length at a position within +-k — the probe
  * side enumerates, for each partner length l' in [len-k, len+k] and each
  * segment index of the l'-scheme, the admissible substrings: at most
  * (2k+1)(k+1)(2k+1) skinny rows per string, constant in corpus size.
  * |len(a) - len(b)| <= k rides along via the l' range. Survivors are
  * verified with the codegen'd `levenshtein`; exactness never depends on
  * the filter, only the candidate count does.
  *
  * Segments shorter than 1 char would break the pigeonhole, so the
  * segment regime only serves pairs with max(len) > 2k+1 (both sides
  * then have len > k+1 and a valid scheme). Pairs with BOTH strings
  * short take a dedicated banded length equi-join — each short string
  * emits its length band [len, len+k] as equi-keys, so even a billion
  * short strings shuffle-join on length without a broadcast assumption.
  * The two regimes partition the pair space on max(len) <= 2k+1, so the
  * union is duplicate-free by construction. (Short strings ARE
  * candidate-dense — any two 3-char strings are within distance 3 of
  * each other; that density is inherent to the predicate, not to this
  * plan.)
  *
  * Scale shape: one shuffle on (segment value, partner length, segment
  * index) keys — long exact substrings, selective even when every short
  * gram is hot — then a pair-dedup shuffle, with BOTH strings riding the
  * rows so scoring is a scan-local codegen'd projection: no join-back,
  * no broadcast, no driver-memory term (an earlier design broadcast the
  * candidate set to fetch strings and OOM'd the driver on a degenerate
  * 200k-title corpus whose candidates were corpus-scale). A repeated-
  * boilerplate adversary (many strings sharing an exact l/(k+1)-char
  * run) degrades the candidate join to hash-join skew, which AQE splits;
  * truncating hot segments would break completeness, so there
  * deliberately is none — callers trading exactness for speed should use
  * the LSH family instead.
  */
object EditDistance {

  /** Internal canonical shape: (id, s, len), nulls dropped. The id must
    * be integral — a string id would cast to NULL here and silently
    * empty the result (the failure class Dedup.requireIntegralId
    * exists for). */
  private def strings(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    Dedup.requireIntegralId(df, idCol, "EditDistance")
    df.select(col(idCol).cast("long").as("id"), col(strCol).as("s"))
      .filter(col("id").isNotNull && col("s").isNotNull)
      .withColumn("len", length(col("s")).cast("long"))
  }

  /** Segment length / start of segment `i` under the (k+1)-way even split
    * of a length-`l` string: big segments first, boundaries deterministic
    * — both sides of the join derive the SAME scheme from `l` alone. */
  private def segLen(l: Column, i: Column, k: Int): Column =
    floor(l / (k + 1)) + when(i < l % (k + 1), 1L).otherwise(0L)
  private def segPos(l: Column, i: Column, k: Int): Column =
    i * floor(l / (k + 1)) + least(i, l % (k + 1))

  /** Segment-side rows: (id, len, i, spos, v, s) — k+1 per string. Pairs
    * in the segment regime (max(len) > 2k+1, |diff| <= k) always have
    * BOTH sides longer than k+1, so shorter strings — whose schemes could
    * be degenerate and whose pairs the short regime owns — emit nothing. */
  private def segments(strs: DataFrame, k: Int): DataFrame =
    strs.filter(col("len") > k + 1)
      .select(col("id"), col("len"), col("s"),
        explode(sequence(lit(0L), lit(k.toLong))).as("i"))
      .withColumn("spos", segPos(col("len"), col("i"), k))
      .withColumn("v",
        col("s").substr((col("spos") + 1).cast("int"),
          segLen(col("len"), col("i"), k).cast("int")))

  /** Probe-side rows: for each partner length tl in [len-k, len+k] and
    * each segment index of the tl-scheme, the substrings of this string
    * admissible as that segment (position within +-k of the segment's
    * home, clipped to the string). At most (2k+1)(k+1)(2k+1) rows per
    * string — constant fan-out, no corpus-size term. */
  private def probes(strs: DataFrame, k: Int): DataFrame = {
    val lo = greatest(col("tpos") - k, lit(0L))
    val hi = least(col("tpos") + k, col("len") - col("tlen"))
    strs.filter(col("len") > k + 1) // same regime bound as segments()
      .select(col("id"), col("len"),
        // partner lengths start at k+2: the segment side is filtered to
        // len > k+1, so tl = k+1 rows could never match — enumerating
        // them is pure fan-out
        explode(sequence(greatest(col("len") - k, lit(k + 2L)),
          col("len") + k)).as("tl"),
        col("s"))
      .select(col("id"), col("len"), col("tl"), col("s"),
        explode(sequence(lit(0L), lit(k.toLong))).as("i"))
      .withColumn("tlen", segLen(col("tl"), col("i"), k))
      .withColumn("tpos", segPos(col("tl"), col("i"), k))
      .select(col("id"), col("len"), col("tl"), col("i"), col("tlen"), col("s"),
        explode(when(lo <= hi, sequence(lo, hi))
          .otherwise(array().cast("array<long>"))).as("p"))
      .withColumn("v", col("s").substr((col("p") + 1).cast("int"),
        col("tlen").cast("int")))
  }

  /** Segment-regime candidates between `a` (segmented) and `b` (probed):
    * (id_a, id_b, s_a, s_b) pairs with max(len) > 2k+1, deduped. Both
    * strings ride the join (short strings, bounded fan-out), so scoring
    * needs NO join-back — an earlier broadcast-the-candidates verify
    * stage OOM'd the driver on a degenerate 200k-title corpus whose
    * candidate set was corpus-scale; with the strings in place the
    * candidate volume costs one exchange, never driver memory. `ordered`
    * adds id_a < id_b (self-join dedup; sound because the pigeonhole
    * holds with EITHER side segmented). */
  private def segmentCandidates(a: DataFrame, b: DataFrame, k: Int,
      ordered: Boolean): DataFrame = {
    val seg = segments(a, k).select(col("id").as("id_a"),
      col("len").as("len_a"), col("i").as("i_a"), col("spos"),
      col("v").as("v_a"), col("s").as("s_a"))
    val prb = probes(b, k).select(col("id").as("id_b"),
      col("len").as("len_b"), col("tl"), col("i").as("i_b"),
      col("p"), col("v").as("v_b"), col("s").as("s_b"))
    seg.join(prb,
        col("v_a") === col("v_b") && col("len_a") === col("tl") &&
        col("i_a") === col("i_b") &&
        abs(col("spos") - col("p")) <= k &&
        greatest(col("len_a"), col("len_b")) > 2 * k + 1 &&
        (if (ordered) col("id_a") < col("id_b") else lit(true)))
      .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Short-regime pairs (both len <= 2k+1) via the banded length
    * equi-join, levenshtein-verified in place: (id_a, id_b, dist). `ordered`
    * dedups the symmetric self-join case; cross joins keep both roles. */
  private def shortPairs(a: DataFrame, b: DataFrame, k: Int,
      ordered: Boolean): DataFrame = {
    val shortMax = 2 * k + 1
    val sa = a.filter(col("len") <= shortMax).select(
      col("id").as("id_a"), col("s").as("s_a"), col("len").as("len_a"),
      explode(sequence(col("len"), col("len") + k)).as("band"))
    val sb = b.filter(col("len") <= shortMax).select(
      col("id").as("id_b"), col("s").as("s_b"), col("len").as("len_b"))
    // band == len_b covers len_b in [len_a, len_a+k]; for the symmetric
    // self case that is exactly "the longer (or equal) side is b", so
    // dedup needs only the equal-length id ordering. Cross-table callers
    // need both orientations: run the mirrored band too.
    val fwd = sa.join(sb, col("band") === col("len_b") &&
      (if (ordered) col("len_a") < col("len_b") ||
        (col("len_a") === col("len_b") && col("id_a") < col("id_b"))
      else lit(true)))
    val pairs = if (ordered) fwd else {
      val sa2 = a.filter(col("len") <= shortMax).select(
        col("id").as("id_a"), col("s").as("s_a"), col("len").as("len_a"))
      val sb2 = b.filter(col("len") <= shortMax).select(
        col("id").as("id_b"), col("s").as("s_b"), col("len").as("len_b"),
        explode(sequence(col("len") + 1, col("len") + k)).as("band2"))
      // strictly-longer a side; len_a == len_b already covered by fwd
      fwd.select("id_a", "s_a", "id_b", "s_b")
        .unionByName(sb2.join(sa2, col("band2") === col("len_a"))
          .select("id_a", "s_a", "id_b", "s_b"))
    }
    // the self case orients pairs by (len, id), not id — normalize so the
    // output contract (id_a < id_b) holds regardless of which side was
    // shorter; cross callers keep the left/right roles as-is
    val oriented =
      if (ordered)
        pairs.select(least(col("id_a"), col("id_b")).as("o_a"),
            greatest(col("id_a"), col("id_b")).as("o_b"),
            col("s_a"), col("s_b"))
          .select(col("o_a").as("id_a"), col("o_b").as("id_b"),
            col("s_a"), col("s_b"))
      else pairs.select(col("id_a"), col("id_b"), col("s_a"), col("s_b"))
    oriented.select(col("id_a"), col("id_b"),
        levenshtein(col("s_a"), col("s_b")).as("dist"))
      .filter(col("dist") <= k)
  }

  /** Levenshtein-score candidate pairs scan-locally — both strings are
    * already on the row, so this is a plain codegen'd projection. */
  private def score(cands: DataFrame, k: Int): DataFrame =
    cands.select(col("id_a"), col("id_b"),
        levenshtein(col("s_a"), col("s_b")).as("dist"))
      .filter(col("dist") <= k)

  /** All unordered pairs (id_a < id_b) with levenshtein(s_a, s_b) <=
    * maxDist. Ids must be unique per row; NULL ids/strings are dropped.
    * Output: id_a, id_b, dist. */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val strs = strings(df, idCol, strCol)
    score(segmentCandidates(strs, strs, maxDist, ordered = true), maxDist)
      .unionByName(shortPairs(strs, strs, maxDist, ordered = true))
  }

  /** STORED segment index for incremental edit-distance dedup — the
    * d25/d37 discipline applied to the character-level family: history
    * is fingerprinted ONCE into `segs/` (k+1 segment rows per string,
    * strings riding along) and `shorts/` (the short-regime slice), and
    * each new batch probes those tables without ever re-fingerprinting
    * or re-joining history against itself. `meta/` pins maxDist: the
    * segment scheme is a function of k, so probing with a different k
    * would be silently incomplete — reads fail loud on mismatch instead.
    *
    * The index is a [[Generations.Store]]: rebuilding over a LIVE index
    * is safe, and the caller owns the corpus contract — `df` must be the
    * full corpus the index should now describe; for pure batch-folding
    * maintenance use [[compactIndex]], which re-fingerprints nothing. */
  def writeIndex(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int, path: String): Unit = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val strs = strings(df, idCol, strCol)
    store.rebuild(spark, path) { staging =>
      writeSegments(strs, maxDist, staging)
      Seq(maxDist).toDF("max_dist").coalesce(1)
        .write.mode("overwrite").parquet(s"$staging/meta")
    }
  }

  private def writeSegments(strs: DataFrame, k: Int, dir: String): Unit = {
    segments(strs, k).write.mode("overwrite").parquet(s"$dir/segs")
    strs.filter(col("len") <= 2 * k + 1)
      .write.mode("overwrite").parquet(s"$dir/shorts")
  }

  /** Fold the live generation's batch directories into a fresh base,
    * zero re-fingerprinting. The read side is a plain multi-directory
    * union, so what compaction buys is file-count hygiene: a year of
    * daily [[appendIndex]] batches is ~700 small parquet directories
    * whose listing and tiny files tax every probe. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    store.compact(spark, path)

  private[graft] val store = Generations.Store("editdist index",
    stamped = Seq("segs", "shorts", "meta"), appended = Seq("segs", "shorts"))

  private def indexK(spark: org.apache.spark.sql.SparkSession,
      gen: String): Int =
    spark.read.parquet(s"$gen/meta").head().getAs[Int]("max_dist")

  /** The replay probe a retrying ingest job runs before [[appendIndex]]. */
  def batchIngested(spark: org.apache.spark.sql.SparkSession,
      path: String, batchId: String): Boolean =
    store.batchIngested(spark, path, batchId)

  /** The small-file gauge that triggers [[compactIndex]]. */
  def liveBatchCount(spark: org.apache.spark.sql.SparkSession,
      path: String): Int =
    store.liveBatchCount(spark, path)

  /** Fold a new batch into the stored index — O(|batch|) fingerprinting,
    * history untouched. Call AFTER [[incrementalPairs]] for the batch
    * (the within-batch half is computed there). Segment rows are not
    * deduped at read, by design (the read side is a straight
    * multi-directory scan), so the store's replay-safe append is what
    * keeps a retried batch from doubling its segments. */
  def appendIndex(batch: DataFrame, idCol: String, strCol: String,
      path: String, batchId: String): Unit =
    store.append(batch.sparkSession, path, batchId) { gen =>
      val k = indexK(batch.sparkSession, gen)
      val strs = strings(batch, idCol, strCol)
      staging => writeSegments(strs, k, staging)
    }

  /** Every pair within the index's maxDist with AT LEAST ONE side in
    * `batch`: history×batch pairs probe the stored segments (pigeonhole
    * with the SEGMENTED side = history — sound regardless of which side
    * is longer), short×short pairs ride the banded length join against
    * the stored short slice, and batch-internal pairs are
    * [[editDistancePairs]] on the batch alone. History never joins
    * against itself — per-batch cost is the batch's own fingerprinting
    * plus candidates actually involving the batch. Output is the
    * [[editDistancePairs]] contract (id_a < id_b, dist) over the
    * implied union corpus, restricted to batch-touching pairs; ids must
    * be unique ACROSS history and batch. */
  def incrementalPairs(batch: DataFrame, idCol: String, strCol: String,
      path: String): DataFrame = {
    val spark = batch.sparkSession
    val gen = store.current(spark, path)
    val k = indexK(spark, gen)
    val bStrs = strings(batch, idCol, strCol)
    val seg = store.read(spark, gen, "segs").select(
      col("id").as("id_a"), col("len").as("len_a"), col("i").as("i_a"),
      col("spos"), col("v").as("v_a"), col("s").as("s_a"))
    val prb = probes(bStrs, k).select(col("id").as("id_b"),
      col("len").as("len_b"), col("tl"), col("i").as("i_b"),
      col("p"), col("v").as("v_b"), col("s").as("s_b"))
    val oldNew = score(
      seg.join(prb,
          col("v_a") === col("v_b") && col("len_a") === col("tl") &&
          col("i_a") === col("i_b") &&
          abs(col("spos") - col("p")) <= k &&
          greatest(col("len_a"), col("len_b")) > 2 * k + 1)
        .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"))
        .dropDuplicates("id_a", "id_b"), k)
    val hShorts = store.read(spark, gen, "shorts")
    val shortOldNew = shortPairs(hShorts, bStrs, k, ordered = false)
    oldNew.unionByName(shortOldNew)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("dist"))
      .unionByName(editDistancePairs(batch, idCol, strCol, k))
  }

  /** Cross-table record linkage: match `right` records to `left` records
    * within `maxDist`, then keep MUTUAL BEST pairs — each left's closest
    * right AND that right's closest left, ties broken by partner id. The
    * deterministic greedy 1:1 core of entity resolution: candidates via
    * the same exact filters as [[editDistancePairs]], so no true match
    * within maxDist is ever missed at the candidate stage.
    * Output: left_id, right_id, dist. */
  def linkRecords(left: DataFrame, leftId: String, leftStr: String,
      right: DataFrame, rightId: String, rightStr: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val l = strings(left, leftId, leftStr)
    val r = strings(right, rightId, rightStr)
    // materialized: three consumers (bestR, bestL, the final semi joins)
    // would otherwise replay the Pass-Join candidate shuffle up to 3x
    // when exchange reuse doesn't unify the two aggregate shapes — the
    // paretoLayers materialization discipline
    val scored =
      score(segmentCandidates(l, r, maxDist, ordered = false), maxDist)
        .unionByName(shortPairs(l, r, maxDist, ordered = false))
        .select(col("id_a").as("left_id"), col("id_b").as("right_id"),
          col("dist"))
        .localCheckpoint(true)
    val bestR = scored.groupBy(col("left_id"))
      .agg(min(struct(col("dist"), col("right_id"))).as("br"))
      .select(col("left_id"), col("br.right_id").as("right_id"))
    val bestL = scored.groupBy(col("right_id"))
      .agg(min(struct(col("dist"), col("left_id"))).as("bl"))
      .select(col("bl.left_id").as("left_id"), col("right_id"))
    scored
      .join(bestR, Seq("left_id", "right_id"), "left_semi")
      .join(bestL, Seq("left_id", "right_id"), "left_semi")
  }
}
