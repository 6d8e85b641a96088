package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** Deduplication operators for document corpora, designed for the 100 TB
  * regime: every variant is shuffle-bounded by keys (hash buckets, LSH bands)
  * — never an O(n²) cross join. The only pairwise work happens inside
  * candidate buckets, whose size is controlled by the banding parameters.
  *
  * Cache contract: the pair-finding variants persist their signature /
  * shingle tables because the RETURNED lazy plan reads them from both sides
  * of a self-join plus the verify join (unlike `Similarity.ivfTopK`, whose
  * fit-only cache is released eagerly). The entries live until the session
  * drops them — a long-lived session issuing many dedup calls should
  * `spark.catalog.clearCache()` between corpora (the bench harness does),
  * or persist its own checkpoint and pass that in.
  */
object Dedup {

  /** The pair-finding variants gather candidates as BIGINT ids
    * ([[cappedGroups]]), so document ids must be integral (a silent cast
    * would null string ids into wrong results). */
  private[operators] def requireIntegralId(docs: DataFrame, idCol: String, fn: String): Unit = {
    import org.apache.spark.sql.types._
    docs.schema(idCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => ()
      case other => throw new IllegalArgumentException(
        s"$fn: id column '$idCol' must be integral for candidate-pair " +
          s"generation, got $other — map ids to BIGINT first (e.g. xxhash64)")
    }
  }

  /** The one candidate gather of every grouped pair finder: per `key`
    * group, `ds` = the (id, payload) postings as a sorted
    * ARRAY<STRUCT<id BIGINT, payload BIGINT>>, fanned out afterwards by
    * `payload_pairs_gen` or `hamming_pairs_gen`. A group holding more than
    * `maxDocFreq` postings is dropped: a key shared by d documents costs
    * O(d²) candidate pairs, so on a power-law corpus the hottest keys
    * would dominate the shuffle. The cap and the gather share ONE
    * aggregate, whose buffer is bounded at cap+1 — a boilerplate key in
    * 10⁸ documents never concentrates its posting list on one task.
    * Postings with a NULL id or payload are skipped.
    *
    * Partition floor ([[partitionFloor]]): when the postings are estimated
    * below `defaultParallelism × spark.sql.adaptive.advisoryPartitionSizeInBytes`,
    * they are re-keyed by `key` into `spark.sql.shuffle.partitions`
    * partitions before the aggregate, which then combines on the reduce
    * side only. Skew is then bounded by the gate (the whole input is
    * estimated under one advisory partition per core) and memory by the
    * cap. At or above the gate the plan is unchanged, and the map-side
    * partial aggregate bounds the hot-key buffer as described above. */
  private[operators] def cappedGroups(
      postings: DataFrame,
      key: Seq[Column],
      id: Column,
      payload: Column,
      maxDocFreq: Int,
      fn: String
  ): DataFrame = {
    require(maxDocFreq >= 1,
      s"$fn: maxDocFreq must be >= 1 (a key in more documents is dropped), got $maxDocFreq")
    // capped_collect caps at 2^28; a wider cap is "no cap" operationally
    // (a 2^28-doc posting list in one buffer is already off the table)
    val cap = math.min(maxDocFreq.toLong, 1L << 28).toInt
    partitionFloor(postings, key, postings).groupBy(key: _*)
      .agg(graft.expressions.CappedIdPayloadCollect(
        id.cast("long"), payload.cast("long"), cap).as("ds"))
      .filter(col("ds").isNotNull)
  }

  /** `rows` re-keyed by `keys` into `spark.sql.shuffle.partitions`
    * partitions when the optimizer's size estimate of `input` is below
    * `defaultParallelism × spark.sql.adaptive.advisoryPartitionSizeInBytes`,
    * else `rows` unchanged. Below that size AQE with
    * `parallelismFirst=false` coalesces an exchange under one partition per
    * core, and bytes cannot show that a pair finder's rows fan out after
    * it (5,000 documents, postings estimated at 200 KB, become 1.1M
    * candidate pairs on one task). An explicit count (`REPARTITION_BY_NUM`)
    * is the one exchange origin AQE never coalesces; a rebalance or a
    * `repartition(cols)` would be merged again. The decision reads plan
    * statistics only, so it starts no job; the exchanges of one operator
    * call pass the same `input` and so decide alike. */
  private[operators] def partitionFloor(
      rows: DataFrame, keys: Seq[Column], input: DataFrame): DataFrame = {
    val spark = input.sparkSession
    val conf = spark.sessionState.conf
    val gate = BigInt(spark.sparkContext.defaultParallelism) *
      conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    if (input.queryExecution.optimizedPlan.stats.sizeInBytes < gate)
      rows.repartition(conf.numShufflePartitions, keys: _*)
    else rows
  }

  /** Exact dedup: hash-groupBy on the raw text. One shuffle on md5(text);
    * map-side partial aggregation keeps the exchange narrow. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Near-exact dedup on normalized text (lowercase, collapsed whitespace). */
  def normalized(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Dedup keeping the best-scoring representative per duplicate group —
    * the usual training-corpus policy (keep the highest-quality copy, not
    * an arbitrary one). One shuffle on the fingerprint; rank-1 filter via
    * window. */
  def keepBest(
      docs: DataFrame,
      scoreCol: String,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp"))
      .orderBy(col(scoreCol).desc, col(idCol))
    docs.withColumn("fp", fingerprint(col(textCol)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Exact n-gram Jaccard similar pairs: explode distinct word-k-shingles,
    * self-join on shingle (co-occurrence ⇒ candidate), count intersections,
    * then Jaccard from per-doc shingle counts. The shingle join is the scale
    * path: docs sharing no shingle never meet.
    *
    * `maxDocFreq` caps the document frequency of shingles entering the
    * self-join: a shingle shared by d documents produces O(d²) candidate
    * rows, so on a power-law corpus the hottest shingles dominate the
    * shuffle. Capped-out shingles still count toward each doc's shingle-set
    * size, so Jaccard for pairs whose overlap includes a hot shingle is
    * underestimated (conservative: never emits a false pair above threshold
    * due to the cap).
    *
    * `idCol` must be an integral type (candidates are gathered as BIGINT
    * ids) — throws IllegalArgumentException otherwise; map string ids
    * through e.g. `xxhash64` first.
    */
  def jaccardPairs(
      docs: DataFrame,
      shingleK: Int = 3,
      threshold: Double = 0.5,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxDocFreq: Int = Int.MaxValue
  ): DataFrame = {
    requireIntegralId(docs, idCol, "jaccardPairs")
    // ONE shuffle does the doc-frequency cap AND the candidate gather
    // ([[cappedGroups]]): each doc's shingle-set SIZE rides the posting
    // row as the payload, `payload_pairs_gen` fans ordered pairs out
    // locally with both sides' sizes attached, and the pair aggregate
    // computes Jaccard directly — no per-doc sizes table, no join-backs,
    // no persist (the shingling scan runs exactly once). Capped-out
    // shingles are dropped but still counted toward each doc's set size
    // at scan time (the conservative-underestimate contract above).
    jaccardInter(docs, shingleK, idCol, textCol, maxDocFreq, "jaccardPairs")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Shared candidate core of [[jaccardPairs]] / [[containmentPairs]]:
    * (a_id, b_id, na, nb, inter) for every pair sharing ≥1 surviving
    * shingle — one shuffle on the shingle (capped gather), one on the
    * pair, both under the same [[partitionFloor]] decision. Sizes count
    * ALL of a doc's distinct shingles (capped-out ones included),
    * matching the split formulation this fused. */
  private def jaccardInter(
      docs: DataFrame,
      shingleK: Int,
      idCol: String,
      textCol: String,
      maxDocFreq: Int,
      fn: String
  ): DataFrame = {
    // eval_once: the filter inferred under the explode would otherwise
    // push through this projection and re-run the split+shingle assembly
    // per conjunct (guide §4.4's duplication hazard, r17)
    val posting = docs
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("ws"))
      .select(col("doc_id"), graft.expressions.EvalOnce(
        array_distinct(shingles(col("ws"), shingleK))).as("shs"))
      .select(col("doc_id").cast("long").as("did"),
        size(col("shs")).cast("long").as("n"), explode(col("shs")).as("sh"))
    val pairs = cappedGroups(posting, Seq(col("sh")), col("did"), col("n"), maxDocFreq, fn)
      .select(graft.expressions.PayloadPairsGen(col("ds")))
    partitionFloor(pairs, Seq(col("a"), col("b")), posting)
      .groupBy(col("a").as("a_id"), col("b").as("b_id"),
        col("pa").as("na"), col("pb").as("nb"))
      .agg(count(lit(1)).as("inter"))
  }

  /** Banding (numHashes, bands) whose candidate S-curve knee
    * `(1/bands)^(1/rowsPerBand)` sits closest to — and not above — the
    * verify `threshold`, within a hash budget. Mis-tuned banding is the
    * dominant LSH cost at scale, and in the wrong direction SILENTLY: too
    * few rows per band floods the verify join with sub-threshold
    * candidates (measured 52× on a 1M-doc corpus: 2 rows/band vs 4 at
    * threshold 0.8, identical output).
    *
    * A knee below the threshold is NOT free recall: the candidate
    * probability for a pair sitting exactly AT the threshold is
    * `pCand(s) = 1 − (1 − s^r)^b`, and pushing the knee up toward the
    * threshold pushes pCand(threshold) down (e.g. r=6,b=5 at s=0.8 gives
    * pCand ≈ 0.78 — one borderline pair in five silently missed). So the
    * selection enforces a floor: only bandings with
    * `pCand(threshold) >= minRecall` are considered, and among those the
    * knee closest to the threshold from below wins (cheapest verify
    * shuffle that still catches at-threshold pairs at the requested
    * rate). Pairs comfortably above the threshold are near-certain
    * candidates under any of these bandings; the floor is about the
    * borderline ones.
    *
    * @return (numHashes, bands) to pass to [[minhashPairs]]. */
  def bandingFor(threshold: Double, maxHashes: Int = 32, minRecall: Double = 0.9): (Int, Int) = {
    require(threshold > 0 && threshold < 1, s"threshold in (0,1), got $threshold")
    require(minRecall > 0 && minRecall < 1, s"minRecall in (0,1), got $minRecall")
    val candidates = for {
      r <- 1 to maxHashes
      b <- 1 to (maxHashes / r)
      knee = math.pow(1.0 / b, 1.0 / r)
      if knee <= threshold
      pCand = 1.0 - math.pow(1.0 - math.pow(threshold, r), b)
      if pCand >= minRecall
    } yield (r * b, b, knee)
    require(candidates.nonEmpty,
      s"no banding under $maxHashes hashes has knee <= $threshold with " +
        s"pCand(threshold) >= $minRecall — raise maxHashes or lower minRecall")
    // closest knee from below; break ties toward fewer hashes (cheaper sigs)
    val (n, b, _) = candidates.minBy { case (n0, _, k) => (threshold - k, n0) }
    (n, b)
  }

  /** `(doc_id, sh)` distinct word-shingle sets — the shared head of every
    * MinHash path (batch pairs, incremental, streaming). Zero-shingle docs
    * (fewer than k words) drop out, matching the batch semantics. */
  private[graft] def shingleSets(
      docs: DataFrame, shingleK: Int, idCol: String, textCol: String): DataFrame =
    // eval_once (r17): without it the size filter pushes through the
    // projection and the split+shingle assembly runs twice per row
    docs.select(col(idCol).as("doc_id"), words(col(textCol)).as("ws"))
      .select(col("doc_id"), graft.expressions.EvalOnce(
        array_distinct(shingles(col("ws"), shingleK))).as("sh"))
      .filter(size(col("sh")) > 0)

  /** k min-hashes of the `sh` column in ONE pass over the shingles: per
    * shingle an array of k hashes, folded elementwise with `least`. The
    * shingle column is referenced exactly once and never from inside a
    * per-element lambda, so optimizer inlining can't multiply the
    * tokenization work.
    *
    * Two hash families: xxhash64 (native, the 100 TB default) and a
    * portable md5-hex-string family that engines like DuckDB can replay
    * exactly — used by the correctness harness to oracle-verify the whole
    * LSH pipeline, not just its inputs. */
  private[graft] def minhashSigCol(numHashes: Int, portableHash: Boolean): Column =
    if (portableHash)
      graft.expressions.PortableMinHash(col("sh"), numHashes)
    else
      aggregate(
        transform(col("sh"), s =>
          transform(sequence(lit(0), lit(numHashes - 1)), i => xxhash64(i, s))),
        array_repeat(lit(Long.MaxValue), numHashes),
        (acc, hv) => zip_with(acc, hv, (a, b) => least(a, b)))

  /** Per-band bucket keys over the `sig` column, as a `bands`-element array
    * to posexplode into (band, bucket) rows. */
  private[graft] def bandBucketsCol(
      numHashes: Int, bands: Int, portableHash: Boolean): Column = {
    val rowsPerBand = numHashes / bands
    val bucketOf: Column => Column =
      if (portableHash) b =>
        md5(concat(b.cast("string"), lit("|"),
          concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))
      else b =>
        xxhash64(b, slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))
          .cast("array<string>").cast("string"))
    transform(sequence(lit(0), lit(bands - 1)), bucketOf)
  }

  /** MinHash + LSH near-duplicate pairs.
    *
    * signature_i(doc) = min over shingles of xxhash64(i ⊕ shingle);
    * signatures are grouped into `bands` bands of `rowsPerBand` hashes, each
    * band hashed to a bucket key; docs sharing any band bucket become
    * candidates (one shuffle on band key — the LSH trick that replaces the
    * O(n²) pairwise scan); candidates are then verified with the exact
    * shingle-set Jaccard.
    *
    * `idCol` must be an integral type (candidates are gathered as BIGINT
    * ids) — throws IllegalArgumentException otherwise; map string ids
    * through e.g. `xxhash64` first.
    */
  def minhashPairs(
      docs: DataFrame,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleK: Int = 3,
      threshold: Double = 0.5,
      idCol: String = "doc_id",
      textCol: String = "text",
      portableHash: Boolean = false
  ): DataFrame = {
    requireIntegralId(docs, idCol, "minhashPairs")
    // Persisted: the signature table feeds both sides of the band self-join
    // and the verify joins (at corpus scale this is the checkpoint you'd
    // take anyway before an LSH join).
    val sig = minhashSignatures(docs, numHashes, shingleK, idCol, textCol,
        portableHash)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    minhashPairsFromSignatures(sig, numHashes, bands, threshold, portableHash)
  }

  /** The signature table [[minhashPairsFromSignatures]] consumes:
    * (doc_id, sh, sig). This is the SHARED/STORED artifact of a banding
    * sweep — signatures depend only on numHashes, so a tuning job (d54's
    * acceptance gate run over candidate configs) builds them once and
    * tries every banding against the same table; re-deriving them per
    * config would re-shingle and re-hash the corpus per config. */
  def minhashSignatures(
      docs: DataFrame,
      numHashes: Int = 8,
      shingleK: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text",
      portableHash: Boolean = false
  ): DataFrame =
    shingleSets(docs, shingleK, idCol, textCol)
      .withColumn("sig", minhashSigCol(numHashes, portableHash))

  /** Banding + candidate generation + exact-Jaccard verification over a
    * prepared signature table ([[minhashSignatures]]; callers sweeping
    * several bandings should persist it). Same pair set and plan as
    * [[minhashPairs]] — that entry point is build-signatures + this. */
  def minhashPairsFromSignatures(
      sig: DataFrame,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      portableHash: Boolean = false
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    // Band rows carry ONLY (doc_id, band, bucket) — at corpus scale the
    // candidate shuffle must not replicate shingle arrays per band. The
    // arrays are re-joined once per verified candidate side afterwards.
    val banded = sig.select(col("doc_id"), graft.expressions.EvalOnce(
        bandBucketsCol(numHashes, bands, portableHash)).as("bb"))
      .select(col("doc_id"), posexplode(col("bb")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    // Candidates: ONE shuffle (the bucket gather, uncapped) + local
    // ordered-pair fan-out per bucket, instead of shuffling both sides of a
    // band self-join — identical pair set (a < b within each bucket,
    // deduped across bands).
    val cand = cappedGroups(banded, Seq(col("band"), col("bucket")),
        col("doc_id"), lit(0L), Int.MaxValue, "minhashPairsFromSignatures")
      .select(graft.expressions.PayloadPairsGen(col("ds")))
      .select(col("a").as("a_id"), col("b").as("b_id"))
      .dropDuplicates("a_id", "b_id")
    val shSets = sig.select(col("doc_id"), col("sh")) // reuse the persisted table
    cand
      .join(shSets.select(col("doc_id").as("a_id"), col("sh").as("sa")), "a_id")
      .join(shSets.select(col("doc_id").as("b_id"), col("sh").as("sb")), "b_id")
      .withColumn("jaccard",
        size(array_intersect(col("sa"), col("sb"))).cast("double")
          / size(array_union(col("sa"), col("sb"))))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Benchmark decontamination: flag training documents that share any word
    * k-shingle with a held-out benchmark set — the standard guard against
    * eval-set leakage into a training corpus (n-gram-overlap contamination).
    *
    * Scale shape: both sides explode to distinct (doc, shingle) rows, the
    * benchmark side collapses to a DISTINCT shingle set (typically tiny
    * next to the corpus — benchmarks are thousands of docs, corpora are
    * billions), and one equi-join on the shingle key does the matching; AQE
    * broadcasts the benchmark side when it fits. No pairwise doc×doc work
    * ever happens.
    *
    * @param isBenchmark boolean Column marking benchmark membership
    * @return contaminated training docs: (doc_id, n_contaminated_shingles =
    *         distinct shingles shared with any benchmark doc). */
  /** Incremental (cross-batch) exact dedup: survivors of a NEW batch against
    * an existing fingerprint index — the production shape where a corpus
    * grows by daily increments and re-deduping history from scratch is off
    * the table. Within the batch the first copy (min id) wins; against the
    * index any hit dies (anti join).
    *
    * 100 TB shape: the index side is (fp) only — one narrow anti join keyed
    * on the fingerprint hash plus one batch-local groupBy; history is never
    * re-scanned beyond its fingerprint column (at scale the index IS a
    * stored fingerprint table, not re-derived). Returns the surviving rows;
    * union their fingerprints into the index to advance the watermark. */
  def incremental(
      batch: DataFrame,
      indexFp: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      fpCol: String = "fp"
  ): DataFrame = {
    val b = batch.withColumn("fp", md5(col(textCol)))
    val firsts = b.groupBy("fp").agg(min(col(idCol)).as("_keep"))
    b.join(firsts, "fp")
      .filter(col(idCol) === col("_keep")).drop("_keep")
      .join(indexFp.select(col(fpCol).as("fp")), Seq("fp"), "left_anti")
  }

  /** Stored LSH index for [[incrementalNeardupPairs]]: the two tables a
    * growing corpus keeps on disk so NEW batches can near-dup against
    * history without ever re-scanning it — a narrow `(doc_id, band,
    * bucket)` band index (the LSH candidate key) and the `(doc_id, sh)`
    * shingle sets (the verify payload). Built with exactly the batch-path
    * expressions ([[minhashSigCol]] / [[bandBucketsCol]]), so an index
    * written at ingest time and a signature computed a year later land in
    * the same buckets. */
  def lshIndex(
      docs: DataFrame,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleK: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text",
      portableHash: Boolean = false
  ): (DataFrame, DataFrame) = {
    requireIntegralId(docs, idCol, "lshIndex")
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val sig = shingleSets(docs, shingleK, idCol, textCol)
      .withColumn("sig", minhashSigCol(numHashes, portableHash))
    val bandRows = sig.select(col("doc_id"), graft.expressions.EvalOnce(
        bandBucketsCol(numHashes, bands, portableHash)).as("bb"))
      .select(col("doc_id"), posexplode(col("bb")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    (bandRows, sig.select(col("doc_id"), col("sh")))
  }

  /** Incremental (cross-batch) NEAR-duplicate pairs: a NEW batch against a
    * stored LSH index — the near-dup analog of [[incremental]]'s exact
    * fingerprint anti join, for the production shape where a corpus grows
    * by increments and re-running [[minhashPairs]] over all of history per
    * batch is O(corpus) work per day. Candidates are new-batch band rows
    * equi-joined to the index on `(band, bucket)` — NEVER history×history,
    * and never a within-bucket pair explosion: each output row of the join
    * IS a candidate, so a hot bucket costs its true candidate count and
    * AQE's skew split applies (unlike a self-join bucket's O(B²) probe
    * loop). Verified with exact shingle Jaccard against the index's stored
    * sets. Within-batch duplicates are [[minhashPairs]] on the batch alone
    * — compose both for full dedup of an increment.
    *
    * @param historyBands    stored `(doc_id, band, bucket)` from [[lshIndex]]
    * @param historyShingles stored `(doc_id, sh)` from [[lshIndex]]
    * @return `(new_id, old_id, jaccard)` — batch doc, matched history doc */
  def incrementalNeardupPairs(
      batch: DataFrame,
      historyBands: DataFrame,
      historyShingles: DataFrame,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleK: Int = 3,
      threshold: Double = 0.5,
      idCol: String = "doc_id",
      textCol: String = "text",
      portableHash: Boolean = false
  ): DataFrame =
    incrementalNeardupPairsImpl(batch, historyBands, historyShingles,
      numHashes, bands, shingleK, threshold, idCol, textCol, portableHash)._1

  /** [[incrementalNeardupPairs]] plus the persisted per-batch signature
    * table, so callers that own the lifecycle (the streaming wrapper, which
    * would otherwise leak one cached table per micro-batch) can unpersist
    * it once the pairs are consumed. */
  private[graft] def incrementalNeardupPairsImpl(
      batch: DataFrame,
      historyBands: DataFrame,
      historyShingles: DataFrame,
      numHashes: Int,
      bands: Int,
      shingleK: Int,
      threshold: Double,
      idCol: String,
      textCol: String,
      portableHash: Boolean
  ): (DataFrame, DataFrame) = {
    requireIntegralId(batch, idCol, "incrementalNeardupPairs")
    require(numHashes % bands == 0, "numHashes must divide into bands")
    // Persisted: feeds the band explode AND the verify join (same
    // checkpoint you'd take before any LSH join; Verify clears it).
    val sig = shingleSets(batch, shingleK, idCol, textCol)
      .withColumn("sig", minhashSigCol(numHashes, portableHash))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val newBands = sig.select(col("doc_id").as("new_id"), graft.expressions
        .EvalOnce(bandBucketsCol(numHashes, bands, portableHash)).as("bb"))
      .select(col("new_id"), posexplode(col("bb")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val cand = newBands
      .join(historyBands.select(col("doc_id").as("old_id"),
        col("band"), col("bucket")), Seq("band", "bucket"))
      .select("new_id", "old_id").dropDuplicates("new_id", "old_id")
    val out = cand
      .join(sig.select(col("doc_id").as("new_id"), col("sh").as("sa")), "new_id")
      .join(historyShingles.select(col("doc_id").as("old_id"),
        col("sh").as("sb")), "old_id")
      .withColumn("jaccard",
        size(array_intersect(col("sa"), col("sb"))).cast("double")
          / size(array_union(col("sa"), col("sb"))))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "old_id", "jaccard")
    (out, sig)
  }

  /** Asymmetric containment pairs: C(a→b) = |sh(a) ∩ sh(b)| / |sh(a)| — the
    * "is a mostly inside b" signal symmetric Jaccard misses when sizes
    * differ (a benchmark item quoted inside a long web page scores near
    * Jaccard 0 but containment 1). Emits each candidate pair once with
    * BOTH directions' containment; a pair passes when either direction
    * reaches `threshold`.
    *
    * Same one-shuffle candidate plan as [[jaccardPairs]] (groupBy shingle +
    * local ordered-pair fan-out, `maxDocFreq` hot-shingle cap — capped-out
    * shingles still count toward each doc's set size, so containment is
    * underestimated, never overestimated: no false positives from the
    * cap). */
  def containmentPairs(
      docs: DataFrame,
      shingleK: Int = 3,
      threshold: Double = 0.8,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxDocFreq: Int = Int.MaxValue
  ): DataFrame = {
    requireIntegralId(docs, idCol, "containmentPairs")
    // same one-shuffle capped gather + payload pair fan-out as
    // [[jaccardPairs]] (r17) — set sizes ride the postings, the two
    // join-backs and the staged persist are gone
    jaccardInter(docs, shingleK, idCol, textCol, maxDocFreq, "containmentPairs")
      .withColumn("containment_a", col("inter").cast("double") / col("na"))
      .withColumn("containment_b", col("inter").cast("double") / col("nb"))
      .filter(col("containment_a") >= threshold || col("containment_b") >= threshold)
      .select("a_id", "b_id", "containment_a", "containment_b")
  }

  /** Near-duplicate cluster collapse — the end-to-end dedup step a curation
    * pipeline actually runs: pairwise near-dup hits (any pair-finder:
    * [[minhashPairs]], [[simhashPairs]], [[jaccardPairs]], embedding pairs)
    * → transitive closure ([[Components.connected]]) → ONE representative
    * per cluster, chosen by the caller's `better` ordering (ties broken by
    * ascending id); documents that appear in no pair pass through
    * untouched. Returns the KEPT documents with their cluster label
    * (null for singletons) and cluster size (1 for singletons).
    *
    * 100 TB shape: the label table holds only documents that appear in an
    * edge (|E| ≪ |corpus|), so the corpus-side join broadcasts it and the
    * corpus never shuffles; the representative choice is a rank-1 window
    * per cluster, which Spark 4's WindowGroupLimit prunes to one row per
    * cluster per map task — hot clusters never sort in one task; and the
    * singleton pass-through is a scan-local filter, never windowed. */
  def collapseClusters(
      docs: DataFrame,
      pairs: DataFrame,
      better: Seq[Column],
      idCol: String = "doc_id",
      srcCol: String = "a_id",
      dstCol: String = "b_id"
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clash = docs.columns.toSet.intersect(Set("comp", "cluster_size", "rn"))
    require(clash.isEmpty,
      s"collapseClusters: doc columns ${clash.mkString(", ")} collide with " +
        "the operator's label/size/rank columns — rename them first")
    val cc = Components.connected(pairs, srcCol, dstCol)
    // persisted: sizes aggregate, representative window, and singleton
    // pass-through all consume this frame — one corpus scan + label join
    // instead of three (session-cache contract; on a cluster where the
    // corpus dwarfs cache, MEMORY_AND_DISK degrades to disk reads, still
    // one join instead of three)
    val labeled = docs.join(
      cc.select(col("id").as(idCol), col("comp")), Seq(idCol), "left")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Sizes count documents actually PRESENT in docs, not vertices of the
    // pairs graph: an id that appears in a pair but not in docs (caller
    // pre-filtered the corpus, stale pair table) must not inflate
    // cluster_size — and if the would-be representative is absent, the best
    // PRESENT doc wins with an honest size. Map-side-combined aggregation
    // over the labeled corpus, same shuffle bound as the old plan.
    val sizes = labeled.filter(col("comp").isNotNull)
      .groupBy("comp").agg(count(lit(1)).as("cluster_size"))
    val w = Window.partitionBy("comp")
      .orderBy(better :+ col(idCol).asc: _*)
    val kept = labeled.filter(col("comp").isNotNull)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .join(sizes, "comp")
    val singletons = labeled.filter(col("comp").isNull)
      .withColumn("cluster_size", lit(1L))
    kept.unionByName(singletons.select(kept.columns.map(col).toIndexedSeq: _*))
  }

  /** Field-level SURVIVORSHIP — the "golden record" step of
    * master-data-management pipelines (Talburt 2011's merge phase), and
    * the field-wise complement of [[collapseClusters]]: where collapse
    * keeps ONE member row whole, survivorship assembles the canonical
    * record column-by-column from ALL cluster members — the longest text
    * from one member, the majority language from another — which is what
    * consuming a near-dup cluster of syndicated copies actually wants
    * (the fullest body, the most-attested metadata).
    *
    * Two rule families, both with deterministic total-order ties so the
    * assembled record is a pure function of the cluster:
    *   - `longest`: the maximum (length, value) member — longest wins,
    *     ties to the lexicographically larger value;
    *   - `modal`: the most frequent value — ties to the SMALLEST value
    *     (most-attested metadata; the min(struct(−count, value)) trick
    *     keeps it one aggregate, no window).
    * Plus the fixed columns every golden record carries: `canon_id` =
    * the smallest member id (the stable survivor key downstream joins
    * use) and `cluster_size`.
    *
    * 100 TB shape: the label table is |docs-in-pairs| (broadcast join —
    * the corpus never shuffles into it); all rules are map-side-combined
    * aggregates on the comp key (one per modal column on (comp, value) —
    * value-cardinality-bounded), so everything after the label join is
    * cluster-table-scale. Only labeled (clustered) docs emit a record —
    * singletons are their own golden record and pass through collapse,
    * not here. */
  def goldenRecord(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      longest: Seq[String] = Seq.empty,
      modal: Seq[String] = Seq.empty,
      srcCol: String = "a_id",
      dstCol: String = "b_id"
  ): DataFrame = {
    require(longest.nonEmpty || modal.nonEmpty,
      "goldenRecord: at least one survivorship rule column is required")
    val cc = Components.connected(pairs, srcCol, dstCol)
    // persisted: the base aggregate plus EVERY modal column re-aggregates
    // this |docs-in-pairs| frame — one corpus scan + label join instead of
    // 1 + |modal| (session-cache contract)
    val labeled = docs.join(
      cc.select(col("id").as(idCol), col("comp")), Seq(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val aggs =
      min(col(idCol)).as("canon_id") +:
        count(lit(1)).as("cluster_size") +:
        longest.map(c =>
          max(struct(length(col(c)).as("l"), col(c).as("v")))
            .getField("v").as(c))
    val base = labeled.groupBy("comp").agg(aggs.head, aggs.tail: _*)
    modal.foldLeft(base) { (acc, c) =>
      // NULLs never compete: struct ordering sorts a NULL field FIRST, so
      // an unfiltered (comp, NULL) group would WIN any count tie and the
      // "most-attested" value could come back unattested. Only non-null
      // values enter the vote; a cluster whose column is entirely null
      // keeps NULL via the left join (nothing attested, nothing invented).
      val m = labeled.filter(col(c).isNotNull)
        .groupBy(col("comp"), col(c)).agg(count(lit(1)).as("cnt"))
        .groupBy("comp")
        .agg(min(struct((-col("cnt")).as("nc"), col(c).as("v")))
          .getField("v").as(c))
      acc.join(m, Seq("comp"), "left")
    }
  }

  /** Span-level (C4/RefinedWeb-style) exact dedup: documents are cut into
    * fixed `blockWords`-word blocks, each block is kept only at its GLOBAL
    * first occurrence (ordered by doc id, then block index), and surviving
    * blocks are stitched back into a cleaned document. Catches boilerplate
    * repeated across documents that whole-document dedup misses.
    *
    * 100 TB shape: first occurrence is `min(struct(doc_id, bi))` per block —
    * an AGGREGATION, not a window, so map-side partial combine collapses a
    * block duplicated 10⁸ times to one row per input partition before the
    * shuffle (no hot-key bound at all, unlike a rank-1 window). One shuffle
    * on the block string, one to regroup survivors per document. Block
    * strings can be replaced by their md5 in the grouping key at scale —
    * kept raw here so the oracle can replay the exact strings.
    *
    * Documents whose every block is a duplicate vanish from the output (the
    * usual curation policy: nothing left worth training on). */
  def blockDedup(
      docs: DataFrame,
      blockWords: Int = 10,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val nBlk = ceil(size(col("ws")).cast("double") / blockWords).cast("int")
    val blocks = docs
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("ws"))
      // guard: sequence(0, -1) would generate a DESCENDING range for empty
      // docs, so zero-word documents get an explicit empty block list
      .select(col("doc_id"), graft.expressions.EvalOnce(
        when(size(col("ws")) === 0, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(0), nBlk - 1), i =>
            array_join(slice(col("ws"), i * blockWords + 1, lit(blockWords)), " "))))
          .as("blks"))
      .select(col("doc_id"), posexplode(col("blks")))
      .withColumnRenamed("pos", "bi").withColumnRenamed("col", "blk")
    // struct ordering is lexicographic by field, so min(struct(doc_id, bi))
    // IS the (doc_id, bi)-first occurrence the oracle's rank-1 window picks
    blocks.groupBy("blk")
      .agg(min(struct(col("doc_id"), col("bi"))).as("m"))
      .select(col("m.doc_id").as("doc_id"), col("m.bi").as("bi"), col("blk"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(sort_array(collect_list(struct(col("bi"), col("blk")))),
            s => s.getField("blk")), " ").as("clean_text"))
  }

  /** Duplicated-substring spans — the suffix-array substring-dedup policy
    * ("remove any substring of >= N chars that appears more than once in the
    * corpus", Lee et al. 2021 "Deduplicating Training Data Makes Language
    * Models Better"), re-expressed Spark-first. A suffix array is a global
    * sorted structure with no good distributed form; the equivalent
    * observation is that every duplicated substring of length >= k is
    * covered by length-k character grams that each occur at more than one
    * (doc, position) — so duplicated-gram ANCHORS, merged per document into
    * maximal spans, recover exactly the >= k-char duplicated regions.
    *
    * 100 TB shape: the gram table is |corpus chars| rows but the duplicate
    * test is an AGGREGATION on the gram (map-side combine collapses each
    * partition's repeats before the shuffle — a gram duplicated 10⁸ times
    * shuffles one row per input partition), then one semi-join back and a
    * per-document window for the island merge. No pairwise fan-out anywhere:
    * unlike pair-finding LSH, a hot gram costs its row count, never its
    * row count squared — and no per-gram sort anywhere: the probe side of
    * the semi-join is skew-splittable by AQE, so a boilerplate gram that
    * appears 10⁸ times ("All rights reserved…") never lands in one task.
    *
    * `dupTestVia` selects the duplicate-test plan:
    *  - `"agg"` (default, the scale mode): groupBy-gram count with map-side
    *    combine, then a left-semi join of the gram table against the
    *    duplicated-gram set. Two shuffles of the gram table, both hot-key
    *    bounded (combine on the build side, AQE skew-split on the probe).
    *  - `"window"`: `count(*) over (partition by gram)` — ONE shuffle and
    *    no join back, measured 2× cheaper at sf0.1, but every occurrence
    *    of a gram sorts in a single task (AQE cannot split a window), so
    *    it is a single-box micro-optimization, not a 100 TB plan.
    * Both produce identical anchors, hence identical output.
    *
    * Returns one row per document that contains at least one duplicated
    * span: (doc_id, n_dup_spans, dup_chars). Documents with
    * `dup_chars / n_chars` near 1 are corpus-level duplicates; a curation
    * pipeline drops or trims them. */
  def substringSpans(
      docs: DataFrame,
      k: Int = 30,
      idCol: String = "doc_id",
      textCol: String = "text",
      dupTestVia: String = "agg",
      persistGrams: Boolean = true
  ): DataFrame = {
    require(k >= 2, s"substring anchor length must be >= 2, got $k")
    require(dupTestVia == "agg" || dupTestVia == "window",
      s"dupTestVia must be 'agg' or 'window', got '$dupTestVia'")
    import org.apache.spark.sql.expressions.Window
    // The gram itself never leaves the scan — and never even EXISTS: the
    // duplicate test only needs gram equality, so the anchors are the
    // native RollingHashWindows pass (all k-char window hashes in one
    // O(n) roll; the substr-then-xxhash64 form this replaced allocated a
    // k-char string per POSITION, O(n·k) bytes per doc). Downstream
    // exchanges move an 8-byte key instead of a k-char string (~5×
    // smaller shuffles for k=30). A 64-bit collision (two distinct grams,
    // same hash) would mark a non-duplicated anchor; at 10¹² corpus grams
    // the RANDOM-text birthday bound is ~3% for ONE such anchor
    // corpus-wide — but the fixed-base poly hash's bound is weaker than a
    // keyed avalanche hash on periodic/adversarial text (structured
    // collision classes; see RollingHashWindows doc), so treat 3% as the
    // cooperative-corpus floor and re-key the hash if that ever matters.
    val gramsRaw = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .filter(length(col("text")) >= k)
      // eval_once + project-then-explode (r17): the inferred emptiness
      // filter would otherwise re-run the whole O(n) hash roll per row
      .select(col("doc_id"), graft.expressions.EvalOnce(
        graft.expressions.RollingHashWindows(col("text"), k)).as("hs"))
      .select(col("doc_id"), posexplode(col("hs")))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("g"))
    // The agg plan reads the gram table twice (count pass + probe pass);
    // persisting the narrow (doc_id, p, h) rows skips the second
    // explode+hash. Single-box/benchmark optimization ONLY: at corpus
    // scale the gram table is |corpus chars| rows and exceeds cluster
    // storage — disable there and pay the second scan (scans are cheap
    // relative to the hot-key-bounded shuffles this plan exists for).
    val grams =
      if (persistGrams && dupTestVia == "agg")
        gramsRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else gramsRaw
    // Global duplicate test: gram occurs at >1 (doc, position) anywhere.
    val anchors = (dupTestVia match {
      case "agg" =>
        // The build side collapses map-side (one row per gram per input
        // partition, however hot the gram); the probe side re-shuffles the
        // gram table for the semi-join, where AQE's skew-join split keeps a
        // hot gram spread over many tasks. Worst-case task size is bounded
        // in BOTH stages — the property the window plan lacks.
        val dup = grams.groupBy("g").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).select("g")
        grams.join(dup, Seq("g"), "left_semi")
      case "window" =>
        // One shuffle, no join back — but a hot gram's occurrences sort in
        // ONE task. Keep only where the gram-frequency ceiling is known.
        val wg = Window.partitionBy("g")
        grams.withColumn("c", count(lit(1)).over(wg)).filter(col("c") > 1)
    }).select(col("doc_id"), col("p"), (col("p") + k).as("e")) // [p, p+k)
    // island merge: a new span starts where an anchor clears every previous
    // anchor's end (classic gaps-and-islands on the running max end)
    val w = Window.partitionBy("doc_id").orderBy("p")
    val pme = max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    anchors
      .withColumn("new_span",
        when(pme.isNull || col("p") > pme, 1).otherwise(0))
      .withColumn("span", sum(col("new_span")).over(w))
      .groupBy("doc_id", "span")
      .agg(min(col("p")).as("s"), max(col("e")).as("e"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("e") - col("s")).as("dup_chars"))
  }

  /** Fuzzy (edit-distance) near-duplicate pairs: shingle-Jaccard candidate
    * generation (the [[jaccardPairs]] plan, cap included) followed by an
    * exact Levenshtein verify on the candidate texts — the classic
    * blocking+verify shape for typo-level duplicates that set-similarity
    * alone misses or over-matches. Candidates are a tiny fraction of the
    * corpus, so the O(len²) DP runs on pairs, never on the cross product;
    * texts join back to candidates by id (two hash joins on the narrow
    * pair table). */
  def fuzzyPairs(
      docs: DataFrame,
      maxDist: Int = 20,
      shingleK: Int = 3,
      candidateThreshold: Double = 0.1,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxDocFreq: Int = Int.MaxValue
  ): DataFrame = {
    val cand = jaccardPairs(docs, shingleK, candidateThreshold,
      idCol, textCol, maxDocFreq)
    val txt = docs.select(col(idCol), col(textCol))
    cand
      .join(txt.select(col(idCol).as("a_id"), col(textCol).as("a_text")), "a_id")
      .join(txt.select(col(idCol).as("b_id"), col(textCol).as("b_text")), "b_id")
      .withColumn("dist", levenshtein(col("a_text"), col("b_text")))
      .filter(col("dist") <= maxDist)
      .select(col("a_id"), col("b_id"), col("dist"), col("jaccard"))
  }

  def decontaminate(
      docs: DataFrame,
      isBenchmark: Column,
      shingleK: Int = 5,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val sh = docs
      .select(col(idCol).as("doc_id"), isBenchmark.as("is_bench"),
        words(col(textCol)).as("ws"))
      .select(col("doc_id"), col("is_bench"), graft.expressions.EvalOnce(
        array_distinct(shingles(col("ws"), shingleK))).as("shs"))
      .select(col("doc_id"), col("is_bench"), explode(col("shs")).as("sh"))
    val bench = sh.filter(col("is_bench")).select("sh").distinct()
    sh.filter(!col("is_bench"))
      .join(bench, "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated_shingles"))
  }

  /** Soft decontamination score — [[decontaminate]] gives the binary "shares
    * a shingle" flag; this gives the per-document contamination FRACTION
    * (shared distinct k-shingles / total distinct k-shingles), the signal a
    * threshold policy needs: a quoted sentence is a few percent, a pasted
    * benchmark item is most of the document. One row per training document
    * that has at least one shingle (zero-overlap docs included, fraction 0).
    *
    * 100 TB shape: same as [[decontaminate]] — the benchmark side collapses
    * to a distinct-shingle set before the equi-join (broadcast when small,
    * AQE-decided otherwise), plus one per-doc count aggregation; never any
    * doc×doc work. The fraction is an integer ratio, bit-replayable. */
  def contaminationFraction(
      docs: DataFrame,
      isBenchmark: Column,
      shingleK: Int = 5,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val sh = docs
      .select(col(idCol).as("doc_id"), isBenchmark.as("is_bench"),
        words(col(textCol)).as("ws"))
      .select(col("doc_id"), col("is_bench"), graft.expressions.EvalOnce(
        array_distinct(shingles(col("ws"), shingleK))).as("shs"))
      .select(col("doc_id"), col("is_bench"), explode(col("shs")).as("sh"))
    val bench = sh.filter(col("is_bench")).select("sh").distinct()
      .withColumn("hit", lit(1L))
    sh.filter(!col("is_bench"))
      .join(bench, Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
      .withColumn("frac",
        col("n_shared").cast("double") / col("n_shingles"))
  }

  /** SimHash near-duplicate pairs: 60-bit signatures; candidates share at
    * least one of `chunks` signature chunks (the Hamming-ball analog of LSH
    * banding), verified by Hamming distance ≤ maxHamming.
    *
    * Candidate generation is the same capped-bucket plan as
    * [[jaccardPairs]]/[[containmentPairs]]: ONE shuffle groups ids per
    * (chunk, key), buckets larger than `maxDocFreq` are dropped, and
    * ordered pairs are emitted locally from each bucket's sorted id list.
    * The previous self-join on (chunk, key) bounded shuffle OUTPUT via the
    * in-join Hamming check but not probe WORK: one degenerate 15-bit chunk
    * shared by 10⁶ boilerplate docs would do 10¹² Hamming probes inside a
    * single straggler task. Here the worst bucket does maxDocFreq²/2 pair
    * emissions, and a capped-out bucket costs nothing. The cap is a
    * candidate-recall tradeoff (a pair whose ONLY shared chunk is
    * hot-capped is missed — near-dups share several chunks, so in practice
    * the other chunks recover them), same hatch the shingle finders expose.
    */
  def simhashPairs(
      docs: DataFrame,
      maxHamming: Int = 8,
      chunks: Int = 4,
      idCol: String = "doc_id",
      textCol: String = "text",
      portableHash: Boolean = false,
      maxDocFreq: Int = 4096
  ): DataFrame = {
    requireIntegralId(docs, idCol, "simhashPairs")
    val bitsPerChunk = 60 / chunks
    val sigExpr =
      if (portableHash) simhashPortable(col("ws")) else simhash(col("ws"))
    val sig = docs
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("ws"))
      .select(col("doc_id"), sigExpr.as("sig"))
    val chunked = sig.select(col("doc_id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(chunks - 1)), c =>
        call_function("shiftright", col("sig"), c * bitsPerChunk)
          .bitwiseAND((1L << bitsPerChunk) - 1))))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "key")
    // Buckets carry (id, sig) so HammingPairsGen verifies DURING local
    // emission: a pair failing the distance test dies inside the bucket's
    // compiled probe loop, and the only pair-sized shuffle (the groupBy
    // dedup — a pair sharing several chunks is emitted once per shared
    // chunk) carries TRUE pairs only. Probe work per bucket is bounded by
    // maxDocFreq²/2, shuffle volume by true-pair count · chunks — the
    // capped-bucket analog of the old plan's Hamming-inside-the-join
    // property, without its unbounded single-task probe loops.
    cappedGroups(chunked, Seq(col("chunk"), col("key")), col("doc_id"),
        col("sig"), maxDocFreq, "simhashPairs")
      .select(graft.expressions.HammingPairsGen(col("ds"), lit(maxHamming)))
      .groupBy(col("a").as("a_id"), col("b").as("b_id"))
      .agg(min(col("hamming")).as("hamming"))
  }

  /** Cross-document repeated-chunk removal — exact-substring dedup at
    * fixed chunk granularity (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better"; CCNet's repeated-paragraph drop):
    * text copied BETWEEN documents (mirrored articles, boilerplate,
    * quoted passages) is removed from every copy except one, while each
    * document keeps its unique text. Document-level dedup (exact /
    * [[minhashLshPairs]]) cannot express this — a page that is 30% quoted
    * boilerplate and 70% original survives doc-level dedup intact and
    * still teaches the model the boilerplate n times.
    *
    * Unit of dedup: consecutive `chunkWords`-word windows at FIXED
    * positions (word index div chunkWords; the final partial chunk
    * counts). One global owner per distinct chunk text — the occurrence
    * with the smallest (doc, position) — keeps its copy; every other
    * occurrence is dropped. Documents are then reassembled from their
    * surviving chunks in order. Zero-word documents yield no chunks and
    * do not appear in the output (stated contract).
    *
    * 100 TB shape: three key-bounded shuffles — (1) chunk occurrences
    * reduce to one keeper row per distinct chunk (md5 fingerprint key —
    * 64-bit would birthday-collide at the 10^10..11 chunks a 100 TB
    * corpus carries; min(struct) partial-aggregates map-side), (2) a hash
    * join of occurrences against the keeper table on the fingerprint
    * (AQE splits the skew of a boilerplate chunk present in millions of
    * docs — the reason this is a join, not a window, which AQE cannot
    * split), (3) per-doc reassembly. No pairwise anything: cost is linear
    * in total chunk count at any corpus size. */
  def crossDocChunkDedup(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      chunkWords: Int = 8
  ): DataFrame = {
    require(chunkWords >= 1, s"chunkWords must be >= 1, got $chunkWords")
    val occ = chunkOccurrences(docs, idCol, textCol, chunkWords)
    val keepers = occ.groupBy(col("fp"))
      .agg(count(lit(1)).as("df_n"),
        min(struct(col("doc_id"), col("ci"))).as("keeper"))
    val flagged = occ.join(keepers, "fp")
      .withColumn("keep",
        col("df_n") === 1 ||
          (col("doc_id") === col("keeper.doc_id") && col("ci") === col("keeper.ci")))
    flagged.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("ci"), col("ctext"))))),
          s => s.getField("ctext")), " ").as("joined"))
      .select(col("doc_id"), col("n_chunks"), col("n_kept"),
        when(col("n_kept") === 0, lit(null).cast("string"))
          .otherwise(col("joined")).as("kept_text"))
  }

  /** Fixed-position chunk occurrences of every document — the shared unit
    * of [[crossDocChunkDedup]] and [[chunkShareEdges]]: consecutive
    * `chunkWords`-word windows (word index div chunkWords, final partial
    * chunk counts), md5-fingerprinted (64-bit would birthday-collide at
    * the 10^10..11 chunks a 100 TB corpus carries). */
  private def chunkOccurrences(
      docs: DataFrame, idCol: String, textCol: String, chunkWords: Int
  ): DataFrame = {
    val cw = chunkWords
    val ws = words(col(textCol))
    val nChunks = ceil(size(ws).cast("double") / cw).cast("int")
    // sequence(0, -1) would DESCEND for an empty word list — guard to an
    // empty chunk array instead (same contract as simhash chunking above)
    val chunkTexts = when(size(ws) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nChunks - 1),
        ci => array_join(slice(ws, ci * cw + 1, lit(cw)), " ")))
    docs
      .select(col(idCol).as("doc_id"),
        graft.expressions.EvalOnce(chunkTexts).as("cts"))
      .select(col("doc_id"), posexplode(col("cts")).as(Seq("ci", "ctext")))
      .withColumn("fp", md5(col("ctext")))
  }

  /** STAR-topology content-share edges: for every chunk that appears in
    * MORE THAN ONE document, each carrying document links to the chunk's
    * HUB (its smallest doc id) — the graph over which "transitively
    * shares copied text with X" questions run ([[Graph.reachableFrom]]
    * closes the transitive part; d53 is the composition).
    *
    * Why a star and not the clique: the clique form emits df² pairs per
    * chunk — a boilerplate chunk carried by 10⁶ documents would emit
    * 10¹² edges on its own, the all-pairs blow-up every pair-finder here
    * avoids. The star emits df−1 edges per chunk (linear in total chunk
    * occurrences) and has the SAME connected components — any two docs
    * sharing a chunk are joined through its hub — so reachability
    * closures are identical; only hop COUNTS differ (a direct share can
    * be 2 hops through the hub), which is why the spread query reports
    * the closure set, not distances. One distinct + one
    * count-and-min aggregate + one hash join on the fingerprint (AQE
    * skew-splits the mega-chunk hubs the same way ln01's keeper join
    * does); within-doc repeats collapse before the aggregate so a chunk
    * repeated inside one document creates no edge. */
  def chunkShareEdges(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      chunkWords: Int = 8
  ): DataFrame =
    chunkShareEdgesFromPostings(chunkPostings(docs, idCol, textCol, chunkWords))
      .select(col("a_id"), col("b_id"))
      .distinct()

  /** The POSTING table behind [[chunkShareEdges]]: distinct
    * (doc_id, fp) chunk occurrences — the storable half of the share
    * graph. A daily contamination job persists these ([[ClosureStore]]):
    * chunking is the expensive part (a full-text explode), and with the
    * postings stored, tomorrow's run chunks ONLY the new documents and
    * re-derives edges for just the chunks those documents touch. */
  def chunkPostings(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      chunkWords: Int = 8
  ): DataFrame = {
    require(chunkWords >= 1, s"chunkWords must be >= 1, got $chunkWords")
    // integral ids required loudly: the documented composition feeds these
    // edges to Graph.reachableFrom, whose long cast would turn string ids
    // into all-NULL endpoints and a silently-empty closure
    requireIntegralId(docs, idCol, "chunkPostings")
    // r16: the posting path needs only (doc_id, fp) — `chunk_md5s` streams
    // each chunk's word bytes straight into the digest, skipping the
    // per-chunk slice copy + string build the HOF occurrence form pays
    // ([[graft.expressions.ChunkMd5s]]; values identical — the digest sees
    // the same space-joined bytes, spec-pinned against chunkOccurrences).
    // crossDocChunkDedup keeps the occurrence form: it needs ctext/ci.
    // project-then-explode with eval_once (r17): exploding the expression
    // inline lets InferFiltersFromGenerate duplicate the whole digest pass
    // into the inferred emptiness filter
    docs
      .select(col(idCol).as("doc_id"), graft.expressions.EvalOnce(
        graft.expressions.ChunkMd5s(words(col(textCol)), chunkWords)).as("fps"))
      .select(col("doc_id"), explode(col("fps")).as("fp"))
      .distinct()
  }

  /** Per-chunk star edges over a posting table: (fp, a_id, b_id) — the
    * fp rides along so incremental maintenance can swap out exactly the
    * edges of chunks a new batch touched ([[ClosureStore.foldDelta]]);
    * [[chunkShareEdges]] is this minus the fp, deduped. Rows are unique
    * per (fp, a_id): the postings are distinct and each chunk emits one
    * spoke per non-hub document. */
  def chunkShareEdgesFromPostings(postings: DataFrame): DataFrame =
    weightedChunkShareEdges(postings).drop("df")

  /** [[chunkShareEdgesFromPostings]] with each star edge carrying its
    * chunk's DOCUMENT FREQUENCY as a traversal cost — the weighted share
    * graph behind "how strongly does this document derive from the
    * flagged set": ATTACHING to a RARE chunk's hub (df 2) is
    * near-verbatim lineage and costs little; attaching through
    * boilerplate every document carries costs its full df. Fed to
    * [[Graph.shortestPaths]], the min-cost distance is the cheapest
    * chain of hub attachments — the weighted twin of the d53 closure,
    * which can only say reachable-or-not.
    *
    * Costs are PER ATTACHMENT (doc → hub), the star's edge unit: two
    * non-hub documents sharing a chunk sit 2·df apart (doc → hub → doc),
    * while a hub-adjacent pair sits df apart. That asymmetry is the
    * deliberate price of the star topology — the per-chunk CLIQUE would
    * make every same-chunk pair exactly df apart but emits df² edges (a
    * 10⁶-doc boilerplate chunk → 10¹² edges), off the table at corpus
    * scale. What the metric grades — rare-chunk lineage scoring far
    * closer than boilerplate-mediated lineage, monotone in both df and
    * chain length — survives the 2× hub factor; callers needing the
    * clique metric exactly can run it per small chunk. Same scale shape
    * as the unweighted star (which is this function minus the df
    * column): one aggregate over the (storable) posting table + one
    * |postings| join, edges ∝ postings; the df the hub aggregate already
    * computes simply rides along. Output: (fp, a_id, b_id, df). */
  def weightedChunkShareEdges(postings: DataFrame): DataFrame = {
    val hubs = postings.groupBy("fp")
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("hub"))
      .filter(col("df") > 1)
    postings.join(hubs, "fp")
      .filter(col("doc_id") =!= col("hub"))
      .select(col("fp"), col("doc_id").as("a_id"), col("hub").as("b_id"),
        col("df"))
  }

  /** EXACT all-pairs similarity join by prefix filtering (Bayardo et al.
    * 2007 All-Pairs; Xiao et al. 2008 PPJoin) — every pair with shingle
    * Jaccard ≥ t, with NO false negatives, where the LSH family
    * ([[minhashLshPairs]]) is probabilistic and [[jaccardPairs]] admits a
    * candidate for ANY shared shingle. The filter stack:
    *
    *  - '''prefix''': sort each doc's shingle set by (document frequency
    *    ASC, shingle ASC) — a global total order, compared directly as a
    *    (df, s) struct so no global rank window exists anywhere — and
    *    keep the first n − ⌈t·n⌉ + 1. Two docs with J ≥ t MUST share a
    *    prefix token (if A's prefix misses B, the intersection fits in
    *    A's suffix of ⌈t·n⌉ − 1 < the required overlap). Rare shingles
    *    lead, so prefix tokens have the smallest fan-out by construction.
    *  - '''length''': J ≥ t ⇒ t·|A| ≤ |B| (and symmetrically) — join
    *    condition, kills cross-size candidates.
    *  - '''positional''' (PPJoin's contribution), applied twice. Per
    *    match, as the join predicate: a shared token at 1-based sorted
    *    positions (i, j) admits at most min(i, j) − 1 shared tokens
    *    before it (same relative order in both docs) and min(|A|−i,
    *    |B|−j) after, so overlap ≤ min(i,j) + min(|A|−i, |B|−j), which
    *    must reach ⌈t/(1+t)·(|A|+|B|)⌉. Per pair, ACCUMULATED (PPJoin's
    *    α, set-formulated): the pair-dedup shuffle a plain distinct()
    *    would pay anyway also counts the matches m and takes the last
    *    match (i*, j*) — every shared token at positions ≤ i* is one of
    *    the m prefix matches, the rest sit after both, so overlap ≤
    *    m + min(|A|−i*, |B|−j*): tighter than any single row's bound by
    *    the spread of the matches. Row-independent validity of the join
    *    predicate is what keeps the agg exact: a dropped row proves its
    *    pair dissimilar outright, so a qualifying pair never loses a
    *    match. Measured: at sf0.01, 772 length-filtered candidates → 27
    *    after the positional bounds, for 25 real pairs (accumulation
    *    changes nothing there — survivors share one early-position
    *    token); at sf0.1 on the worst-case low-diversity corpus,
    *    124,979 → 119,908 (−4%): when every candidate's single shared
    *    prefix token sits at position ~1 the accumulated bound
    *    degenerates to the per-match one, and the remaining volume is
    *    the documented price of exactness on that corpus. The filter's
    *    upside is corpora where qualifying pairs share SEVERAL spread
    *    prefix tokens — exactly the diverse-shingle regime real text
    *    lives in.
    *
    * All thresholds run in integer millionths (⌈t·n⌉ = (t·n + 999999)
    * DIV 1e6 etc.), so candidates, survivors, and scores replay
    * bit-for-bit. Verification fetches both docs' shingle arrays and
    * intersects scan-locally — per-pair O(|A|+|B|), only for survivors
    * of the filter stack.
    *
    * 100 TB shape: one shingle-keyed shuffle (df), one doc-keyed agg
    * (sorted sets), one prefix-token self-join (AQE-skew-splittable; the
    * positional predicate keeps hot prefix tokens from going quadratic),
    * two pair-to-set joins for verification. The filter's power is
    * proportional to shingle DIVERSITY: on real corpora shingle
    * frequencies are Zipfian and the (rarest-first) prefix tokens have
    * df ≈ 1, so candidates ≈ true pairs. The measured worst case is the
    * opposite corpus: ScaleSmoke's synthetic 16-word vocabulary admits
    * only 4096 distinct shingles, prefix df ≈ 600, and 100k docs cost
    * 35 s for zero true pairs — on low-diversity / similar-content
    * corpora the candidate volume is inherent to EXACTNESS, and the
    * probabilistic LSH family ([[minhashLshPairs]]) is the right tool.
    * Use this when completeness is a requirement (dedup audits, legal
    * holds) and content diversity is real. */
  def ppjoinPairs(
      docs: DataFrame,
      shingleK: Int = 3,
      thresholdPpm: Long = 500000L,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(thresholdPpm > 0 && thresholdPpm <= 1000000L,
      s"thresholdPpm must be in (0, 1e6], got $thresholdPpm")
    requireIntegralId(docs, idCol, "ppjoinPairs")
    val staged = docs
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("ws"))
      .select(col("doc_id"), graft.expressions.EvalOnce(
        array_distinct(shingles(col("ws"), shingleK))).as("shs"))
      .filter(size(col("shs")) > 0)
      // persisted: the exploded posting table `e` below is consumed by BOTH
      // the document-frequency aggregate and the df-attach join — without
      // the persist the tokenize+shingle scan runs twice (the
      // minhashPairs/containmentPairs persist contract)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val e = staged.select(col("doc_id"), explode(col("shs")).as("s"))
    val dfc = e.groupBy(col("s")).agg(count(lit(1)).as("d"))
    val srt = e.join(dfc, "s")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("d"), col("s")))).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("p",
        expr(s"n - (n * $thresholdPpm + 999999) DIV 1000000 + 1"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pe = srt
      .select(col("doc_id"), col("n"),
        posexplode(slice(col("toks"), lit(1), col("p").cast("int"))))
      .select(col("doc_id"), col("n"), (col("pos") + 1).cast("long").as("i"),
        col("col.s").as("ts"))
    val t = thresholdPpm
    // Per-row positional bound, valid for EVERY match independently:
    // shared tokens before a match at sorted positions (i, j) number at
    // most min(i, j) − 1 (sorted by the same global order, a shared token
    // before i in A sits before j in B), the match itself is 1, and the
    // rest sit after both positions — overlap ≤ min(i,j) + min(n_a−i,
    // n_b−j). Row-independent validity is what lets the pair-level agg
    // below count ALL matches of a truly-similar pair: a row this
    // predicate drops proves its pair dissimilar outright, so no
    // qualifying pair ever loses a match row.
    val cand0 = pe.as("a").join(pe.as("b"),
        col("a.ts") === col("b.ts") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("b.n") * 1000000L >= lit(t) * col("a.n") &&
          col("a.n") * 1000000L >= lit(t) * col("b.n") &&
          (least(col("a.i"), col("b.i")) +
            least(col("a.n") - col("a.i"), col("b.n") - col("b.i"))) *
            (1000000L + t) >= lit(t) * (col("a.n") + col("b.n")))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.n").as("na"), col("b.n").as("nb"),
        col("a.i").as("i"), col("b.i").as("j"))
    // Accumulated positional filter (PPJoin's α, set-formulated): the
    // pair-dedup shuffle the plain distinct() would pay anyway also
    // counts the matches m and takes the LAST match (max sorted
    // position; max i ⇔ max j — same relative order in both docs). All
    // shared tokens at positions ≤ i* are prefix matches (counted by m),
    // the rest sit after (i*, j*): overlap ≤ m + min(n_a−i*, n_b−j*) —
    // tighter than any single row's bound by exactly the spread of the
    // matches, and it cuts the verify fan-out for free.
    val cand = cand0
      .groupBy(col("a_id"), col("b_id"))
      .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
        count(lit(1)).as("m"),
        max(struct(col("i"), col("j"))).as("mx"))
      .filter(
        (col("m") +
          least(col("na") - col("mx.i"), col("nb") - col("mx.j"))) *
          (1000000L + t) >= lit(t) * (col("na") + col("nb")))
      .select(col("a_id"), col("b_id"))
    val sets = srt.select(col("doc_id"),
      transform(col("toks"), x => x.getField("s")).as("set"),
      col("n"))
    cand
      .join(sets.select(col("doc_id").as("a_id"), col("set").as("sa"),
        col("n").as("na")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("set").as("sb"),
        col("n").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter_n"),
        col("na"), col("nb"))
      .withColumn("union_n", col("na") + col("nb") - col("inter_n"))
      .withColumn("jaccard_ppm",
        expr("(1000000 * inter_n) DIV union_n"))
      .filter(col("jaccard_ppm") >= t)
      .select(col("a_id"), col("b_id"), col("inter_n"), col("union_n"),
        col("jaccard_ppm"))
  }
}
