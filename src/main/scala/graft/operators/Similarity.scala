package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns.
  *
  * Seven top-k operators — exact ([[bruteForceTopK]], [[filteredTopK]]),
  * cell-probed ([[ivfTopK]]), code-scanned ([[pqTopK]]), both
  * ([[ivfPqTopK]], and [[VectorIndex.searchLoaded]] over a stored index)
  * and bucketed ([[lshTopK]]) — plus the cell-partitioned [[semDedup]] and
  * [[cellCapSample]]. They share one definition of each stage:
  *  - [[topKBySim]], every top-k operator's last step: each query's k best
  *    rows by exact cosine. It checks `k` when the operator is called.
  *    [[firstPer]] is the per-group ranking under it, also used by the
  *    cell probe, the ADC shortlist and [[cellCapSample]]'s cap.
  *  - [[vectorShape]], the guard job of the operators that must know the
  *    dimensionality before planning ([[pqTopK]], [[ivfPqTopK]],
  *    [[lshTopK]], [[semDedup]], [[cellCapSample]], [[fitPqCodebooks]],
  *    [[VectorIndex.searchLoaded]]): empty inputs short-cut to a typed
  *    empty result ([[emptyTopK]]), mixed dimensionality fails by name.
  *    The exact and cell-probed operators run no guard job; they check
  *    lengths in the plan instead ([[sameDim]]).
  *  - [[normalized]]: the unit vectors every IVF/PQ fit, encode and
  *    search works on.
  *  - The IVF pieces: [[fitCoarse]] (the coarse KMeans),
  *    [[centroidTable]], [[residuals]] (v̂ − centroid) and [[probeCells]]
  *    (used by [[ivfTopK]] and [[ivfAdcSearch]]).
  *  - [[ivfAdcSearch]]: probes, per-probe ADC tables, candidate join on the
  *    cell, then [[rerankShortlist]] (ADC shortlist, exact re-rank, top-k).
  *    [[ivfPqTopK]] and [[VectorIndex.searchLoaded]] both run it, which is
  *    why a stored index answers exactly like the one-shot search;
  *    [[pqTopK]] runs [[rerankShortlist]] after its flat ADC scan.
  */
object Similarity {
  import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
  import org.apache.spark.ml.functions.array_to_vector

  private[operators] def withVec(df: DataFrame, idCol: String, vecCol: String) =
    df.select(col(idCol).as("vid"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm2(col("v")))

  /** [[withVec]] plus the unit vector `vh = v / ‖v‖`. */
  private[operators] def normalized(df: DataFrame, idCol: String, vecCol: String) =
    withVec(df, idCol, vecCol).withColumn("vh", transform(col("v"), x => x / col("nrm")))

  /** i-th length-`sd` subvector of an array column (1-based slice). */
  private[operators] def subVec(c: Column, i: Int, sd: Int) = slice(c, i * sd + 1, sd)

  /** The family's guard: ONE aggregate job over all `inputs`' vector
    * lengths. `None` when any input has no non-NULL vector (an all-NULL
    * corpus must not reach a KMeans fit); otherwise the common
    * dimensionality and the row count of the first input, NULL vectors
    * included. Mixed lengths fail naming `op`: ArrayDot dots over the
    * shorter array, so ragged vectors would give wrong answers silently. */
  private[operators] def vectorShape(op: String, vecCol: String,
      inputs: DataFrame*): Option[(Int, Long)] = {
    val sizes = inputs.zipWithIndex
      .map { case (df, i) => df.select(lit(i).as("side"), size(col(vecCol)).as("d")) }
      .reduce(_ union _)
    val r = sizes.agg(min(col("d")), (max(col("d")) +: count(when(col("side") === 0, 1)) +:
      inputs.indices.map(i => count(when(col("side") === i, col("d"))))): _*).head()
    if (inputs.indices.exists(i => r.getLong(3 + i) == 0)) None
    else {
      require(r.getInt(0) == r.getInt(1),
        s"$op: vector column '$vecCol' has mixed dimensionality " +
          s"(${r.getInt(0)}..${r.getInt(1)})")
      Some((r.getInt(0), r.getLong(2)))
    }
  }

  /** `v`, or a task failure naming `op` when its length is not `dim`: the
    * dimensionality check of the operators that run no guard job. A NULL
    * vector, or the NULL length of a NULL query, passes: its dot is NULL
    * and ranks last. */
  private[operators] def sameDim(op: String, v: Column, dim: Column): Column =
    when(v.isNull || dim.isNull || size(v) === dim, v)
      .otherwise(raise_error(format_string(
        s"$op: mixed dimensionality (%d against %d)", size(v), dim)))

  /** The empty top-k result: `q_id` typed as the queries' id column,
    * `neighbor_id` as the corpus one, so it matches the non-empty schema
    * even when the two differ. */
  private[operators] def emptyTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String): DataFrame =
    queries.select(col(idCol).as("q_id")).limit(0)
      .crossJoin(corpus.select(col(idCol).as("neighbor_id")).limit(0))
      .withColumn("sim", lit(0.0)).withColumn("rank", lit(0))

  /** The first `n` rows of each `key` group by `order`, numbered from 1 in
    * `rankCol` — the one per-group ranking of the family. */
  private[operators] def firstPer(df: DataFrame, key: String, n: Column,
      rankCol: String, order: Column*): DataFrame =
    df.withColumn(rankCol,
        row_number().over(Window.partitionBy(col(key)).orderBy(order: _*)))
      .filter(col(rankCol) <= n)

  /** The last step of every top-k operator: each query's `k` best rows by
    * `sim`, ties to the smaller neighbor id `nid`, as (q_id, neighbor_id,
    * sim, rank). Built when the operator is called, so a bad `k` fails
    * before any fit or guard job runs. */
  private[operators] def topKBySim(op: String, k: Int,
      nid: String = "vid"): DataFrame => DataFrame = {
    require(k >= 1, s"$op: k must be >= 1, got $k")
    scored => firstPer(scored, "q_id", lit(k), "rn", col("sim").desc, col(nid))
      .select(col("q_id"), col(nid).as("neighbor_id"), col("sim"),
        col("rn").as("rank"))
  }

  /** Sizing laws shared by the IVF family: a positive request is taken
    * as is, `<= 0` sizes from the data. Cells: ⌈√n⌉ keeps both the
    * centroid table (broadcast) and the per-cell row count sublinear.
    * Probes: ⌈3·√kCells⌉ (capped at kCells) keeps probed-candidate volume
    * `probeN·n/kCells` sublinear when kCells tracks √n; the 3× constant is
    * calibrated on the weakly-clustered synthetic corpus (IVF's adversarial
    * case: 1·√kCells probes 9/71 cells at n=5000 for recall 0.59,
    * 3·√kCells probes 24 for 0.86). Clustered real corpora hold recall at
    * lower multiples — pin nProbe there; auto mode buys scale-safety, not
    * optimality. */
  private def cellCount(nCentroids: Int, n: Long): Int =
    if (nCentroids > 0) nCentroids
    else math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
  private[operators] def probeCount(nProbe: Int, kCells: Int): Int =
    if (nProbe > 0) nProbe
    else math.min(kCells, math.ceil(3.0 * math.sqrt(kCells.toDouble)).toInt)

  /** IVFADC shortlist size. A pinned `refine` keeps the constant `k·refine`
    * exact re-ranks per query (corpus-size independent, the difference from
    * [[pqTopK]]). `refine <= 0` floors it at 3·√n, the same law as
    * [[pqTopK]], because ADC precision on weakly-clustered data decays with
    * candidate count (measured at n=5000: shortlist 72 → 0.74 recall even
    * probing ALL cells, 144 → 0.87; the 3× constant holds auto mode within
    * 0.05 of the sweep-tuned pinned recall at both verification scales).
    * `n` is only evaluated in auto mode. */
  private[operators] def ivfShortlistSize(k: Int, refine: Int, n: => Long): Long =
    if (refine > 0) k.toLong * refine
    else math.max(8L * k, math.ceil(3.0 * math.sqrt(n.toDouble)).toLong)

  /** A fitted coarse quantizer (the IVF cell assignment), reusable across
    * [[ivfTopK]] / [[ivfPqTopK]] calls and sessions-worth of queries over
    * the same corpus: the fit is seeded and deterministic for a given
    * input, so reuse changes wall-clock, never results. Features are the
    * L2-normalized vectors as `fcoarse`; predictions land in `cluster`. */
  final case class CoarseFit(model: KMeansModel) {
    def kCells: Int = model.clusterCenters.length
    def dim: Int = model.clusterCenters.head.size
  }

  /** Fitted per-subspace PQ codebooks, reusable across [[pqTopK]] /
    * [[ivfPqTopK]] (non-residual) calls over the same corpus — the verdict
    * of the r09 bench audit: two queries over one corpus must not pay two
    * identical seeded fits. For residual-mode IVFADC the codebooks are
    * defined relative to a coarse quantizer (they encode v̂ − centroid);
    * pass the pair that was fitted together. */
  final case class PqFit(models: IndexedSeq[KMeansModel], m: Int, sd: Int, ks: Int)

  /** The coarse KMeans over `fcoarse` (spherical: the features are unit
    * vectors), predicting `cluster`. Seeded, so a fit is deterministic for
    * a given input and partitioning. */
  private def fitCoarse(base: DataFrame, kCells: Int): KMeansModel =
    new KMeans().setK(kCells).setSeed(42).setMaxIter(3)
      .setFeaturesCol("fcoarse").setPredictionCol("cluster").fit(base)

  /** `df` (carrying `vh`) with each row's coarse cell in `cluster`. */
  private[operators] def assignCells(coarse: KMeansModel, df: DataFrame): DataFrame =
    coarse.transform(df.withColumn("fcoarse", array_to_vector(col("vh"))))

  /** The centroid table (cluster, cvec, cnorm2 = ‖cvec‖²): the broadcast
    * side of cell probes and residual joins, and a stored index's
    * `centroids/`. */
  private[operators] def centroidTable(spark: SparkSession,
      coarse: KMeansModel): DataFrame = {
    import spark.implicits._
    coarse.clusterCenters.zipWithIndex
      .map { case (cv, i) => (i, cv.toArray.toSeq, cv.toArray.map(x => x * x).sum) }
      .toSeq.toDF("cluster", "cvec", "cnorm2")
  }

  /** `v − cvec`, elementwise: a vector's residual against its cell's
    * centroid. */
  private def minusCentroid(v: Column): Column =
    zip_with(v, col("cvec"), (a, b) => a - b)

  /** `df` (carrying `cluster`) with `vh := from − centroid(cluster)`. The
    * centroid lookup is a broadcast join on the cell id, so auto-√n cell
    * counts never become a giant literal in the plan. */
  private[operators] def residuals(df: DataFrame, centroids: DataFrame,
      from: String): DataFrame =
    df.join(broadcast(centroids.select("cluster", "cvec")), "cluster")
      .withColumn("vh", minusCentroid(col(from)))

  /** The rows KMeans trains on: all of `df`, or a seeded sample. */
  private def trainSample(df: DataFrame, trainFraction: Double): DataFrame =
    if (trainFraction < 1.0) df.sample(withReplacement = false, trainFraction, seed = 42)
    else df

  /** Fit the coarse quantizer alone: `nCentroids <= 0` auto-sizes to
    * ⌈√n⌉ cells. One persisted pass over the normalized corpus (KMeans
    * re-scans per iteration), released before returning. */
  def fitCoarseQuantizer(
      corpus: DataFrame,
      nCentroids: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): CoarseFit = {
    val base = normalized(corpus, idCol, vecCol)
      .withColumn("fcoarse", array_to_vector(col("vh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = base.count()
    // fail LOUD here: an empty corpus would otherwise surface as mllib's
    // cryptic "parameter k given invalid value 1" from auto-sizing
    require(n > 0, "fitCoarseQuantizer: empty corpus — an IVF quantizer " +
      "cannot be fit on zero vectors (check the corpus filter/path)")
    val model = fitCoarse(base, cellCount(nCentroids, n))
    base.unpersist(blocking = false)
    CoarseFit(model)
  }

  /** Fit PQ codebooks alone (the [[pqTopK]] / non-residual [[ivfPqTopK]]
    * training stage as a standalone artifact). `dim` is read from the
    * corpus and must split evenly into `m` subspaces. */
  def fitPqCodebooks(
      corpus: DataFrame,
      m: Int = 4,
      ks: Int = 16,
      trainFraction: Double = 1.0,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): PqFit = {
    val shape = vectorShape("fitPqCodebooks", vecCol, corpus)
    require(shape.nonEmpty, "fitPqCodebooks: empty corpus")
    val dim = shape.get._1
    require(dim % m == 0, s"fitPqCodebooks: dim $dim not divisible into $m subspaces")
    val sd = dim / m
    PqFit(fitCodebooks(trainSample(normalized(corpus, idCol, vecCol), trainFraction),
      m, sd, ks), m, sd, ks)
  }

  /** Residual-mode codebooks for a GIVEN coarse quantizer: codebooks are
    * fitted on v̂ − centroid(assigned cell) — the Jégou §IV formulation.
    * The pair (coarse, result) is what residual [[ivfPqTopK]] and a stored
    * [[VectorIndex]] consume together; the codebooks are meaningless
    * without exactly this quantizer. */
  def fitResidualPqCodebooks(
      corpus: DataFrame,
      coarse: CoarseFit,
      m: Int = 4,
      ks: Int = 16,
      trainFraction: Double = 1.0,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): PqFit = {
    val dim = coarse.dim
    require(dim % m == 0,
      s"fitResidualPqCodebooks: dim $dim not divisible into $m subspaces")
    val sd = dim / m
    val resTrain = residuals(
      assignCells(coarse.model, trainSample(normalized(corpus, idCol, vecCol), trainFraction)),
      centroidTable(corpus.sparkSession, coarse.model), "vh")
    PqFit(fitCodebooks(resTrain, m, sd, ks), m, sd, ks)
  }

  private[operators] def checkPqFit(f: PqFit, m: Int, sd: Int, ks: Int)
      : IndexedSeq[KMeansModel] = {
    require(f.m == m && f.sd == sd && f.ks == ks,
      s"pre-fitted codebooks are (m=${f.m}, sd=${f.sd}, ks=${f.ks}); " +
        s"call-site wants (m=$m, sd=$sd, ks=$ks)")
    f.models
  }

  /** One seeded KMeans codebook per length-`sd` subspace, fitted over a
    * single cached scan of `trainBase` (must carry the L2-normalized `vh`).
    * The m fits are independent — submitted as CONCURRENT Spark jobs
    * (sequential fits pay m × the per-iteration job-scheduling latency;
    * measured 3× wall-clock on the m=8 bench query). Determinism is per-fit
    * (seeded), unaffected by completion order. Prediction columns are
    * `c_0..c_{m-1}` over feature columns `f_0..f_{m-1}`. */
  private def fitCodebooks(trainBase: DataFrame, m: Int, sd: Int, ks: Int)
      : IndexedSeq[KMeansModel] = {
    val train = (0 until m).foldLeft(trainBase) { (df, i) =>
      df.withColumn(s"f_$i", array_to_vector(subVec(col("vh"), i, sd)))
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val models = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.sequence((0 until m).map { i =>
        Future {
          new KMeans().setK(ks).setSeed(42 + i).setMaxIter(5)
            .setFeaturesCol(s"f_$i").setPredictionCol(s"c_$i").fit(train)
        }
      }.toIndexedSeq), Duration.Inf)
    }
    train.unpersist(blocking = false)
    models
  }

  /** Per-subspace, code-ordered codebook centers: the form ADC tables are
    * built from, and the form a stored index keeps them in. */
  private def centersOf(models: IndexedSeq[KMeansModel])
      : IndexedSeq[IndexedSeq[Array[Double]]] =
    models.map(_.clusterCenters.toIndexedSeq.map(_.toArray))

  /** Append `codes` (per-subspace centroid ids) to a frame carrying `vh`:
    * m chained KMeans assignments, fused into one scan by Catalyst. */
  private[operators] def encodeWith(models: IndexedSeq[KMeansModel],
      df: DataFrame, m: Int, sd: Int): DataFrame = {
    val withFeatures = (0 until m).foldLeft(df) { (d, i) =>
      d.withColumn(s"f_$i", array_to_vector(subVec(col("vh"), i, sd)))
    }
    models.foldLeft(withFeatures) { (d, mod) => mod.transform(d) }
      .withColumn("codes", array((0 until m).map(i => col(s"c_$i")): _*))
  }

  /** Per-query ADC table over a query column `qcol`:
    * dtab[i][j] = ‖C[i][j]‖² − 2·qᵢ·C[i][j] — rank-equivalent to
    * ‖qᵢ − C[i][j]‖² up to the per-row constant ‖q‖² (cosine-faithful on
    * normalized vectors; residual callers that rank ACROSS tables must add
    * ‖q‖² back, see [[ivfAdcSearch]]). One native dot per
    * (subspace, centroid). */
  private[operators] def adcTableFrom(
      centers: IndexedSeq[IndexedSeq[Array[Double]]],
      sd: Int, qcol: Column): Column =
    array(centers.zipWithIndex.map { case (cbook, i) =>
      array(cbook.map { c =>
        lit(c.map(x => x * x).sum) -
          lit(2.0) * dot(subVec(qcol, i, sd), lit(c))
      }: _*)
    }: _*)

  /** ADC distance of a `codes` row against a `dtab` table: m lookups + adds,
    * no full-width arithmetic. */
  private[operators] def adcDist(m: Int): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
      (acc, i) => acc +
        element_at(element_at(col("dtab"), i + 1),
          element_at(col("codes"), i + 1) + 1))

  /** The cell probe: each query's `probeN` nearest cells by the assignment
    * metric ‖q̂ − c‖² = 1 + ‖c‖² − 2·q̂·c (the constant ‖q̂‖² = 1 drops out
    * of the ranking), against the broadcast centroid table. `queries`
    * carries (q_id, qvh); each probe row keeps its centroid's columns. */
  private[operators] def probeCells(queries: DataFrame, centroids: DataFrame,
      probeN: Int): DataFrame =
    firstPer(queries.crossJoin(broadcast(centroids))
        .withColumn("cdist", col("cnorm2") - lit(2.0) * dot(col("qvh"), col("cvec"))),
      "q_id", lit(probeN), "prn", col("cdist"), col("cluster"))

  /** ADC is a shortlist metric, not a final ranking: quantization noise
    * swamps the tiny margins between true top-k candidates. So each
    * query's `shortlistN` best candidates by `adist` (rows of q_id, qvh,
    * vid) are re-scored by exact cosine against `vectors` (vid, vh) and
    * ranked by `topK`. The shortlist is small and broadcasts back onto the
    * vectors. */
  private[operators] def rerankShortlist(cand: DataFrame, vectors: DataFrame,
      shortlistN: Long, topK: DataFrame => DataFrame): DataFrame = {
    val shortlist = firstPer(cand, "q_id", lit(shortlistN), "srn", col("adist"), col("vid"))
      .select(col("q_id"), col("qvh"), col("vid"))
    topK(broadcast(shortlist).join(vectors, "vid")
      .withColumn("sim", dot(col("qvh"), col("vh"))))
  }

  /** The IVFADC search, once the index exists — the one path of
    * [[ivfPqTopK]] (over its in-memory encode) and
    * [[VectorIndex.searchLoaded]] (over a stored index):
    *  - probe: `probeN` cells per query ([[probeCells]]);
    *  - tables: each probe row carries its ADC table. Non-residual: one
    *    table per query. Residual: one per (query, probed cell) over the
    *    residual query q̂ − c, built after the probe filter so only probed
    *    cells pay the m·ks dots, plus the constant ‖q̂ − c‖² (`qc2`) that
    *    makes distances from different cells' tables comparable;
    *  - candidates: the code scan `codes` (vid, cluster, codes) joins the
    *    broadcast probes on the cell id, so the corpus side never shuffles
    *    and never touches floats;
    *  - [[rerankShortlist]] against `vectors` (vid, vh).
    * `queries` carries (q_id, qvh), `centroids` is a [[centroidTable]] and
    * `centers` the codebooks in [[adcTableFrom]]'s form. */
  private[operators] def ivfAdcSearch(
      queries: DataFrame, centroids: DataFrame,
      centers: IndexedSeq[IndexedSeq[Array[Double]]],
      codes: DataFrame, vectors: DataFrame,
      residual: Boolean, m: Int, sd: Int, probeN: Int, shortlistN: Long,
      topK: DataFrame => DataFrame): DataFrame = {
    val probed = probeCells(queries, centroids, probeN)
    val probes =
      if (residual)
        probed.withColumn("rqvh", minusCentroid(col("qvh")))
          .withColumn("dtab", adcTableFrom(centers, sd, col("rqvh")))
          .withColumn("qc2", dot(col("rqvh"), col("rqvh")))
      else probed
        .withColumn("dtab", adcTableFrom(centers, sd, col("qvh")))
        .withColumn("qc2", lit(0.0))
    val cand = codes.join(broadcast(probes.select(col("q_id"), col("qvh"),
        col("dtab"), col("qc2"), col("cluster"))), Seq("cluster"))
      .filter(col("vid") =!= col("q_id"))
      .withColumn("adist", col("qc2") + adcDist(m))
    rerankShortlist(cand, vectors, shortlistN, topK)
  }

  /** Exact top-k neighbors for each query vector (queries broadcast). */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 1,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = bruteForceRanked(corpus, queries, k, idCol, vecCol).drop("rank")

  /** [[bruteForceTopK]] with its per-query `rank` (1-based, sim DESC then
    * neighbor id ASC) kept, for callers that fuse rankings. */
  private[operators] def bruteForceRanked(corpus: DataFrame, queries: DataFrame,
      k: Int, idCol: String, vecCol: String): DataFrame = {
    val topK = topKBySim("bruteForceTopK", k)
    val c = withVec(corpus, idCol, vecCol)
    val q = withVec(queries, idCol, vecCol)
      .withColumnRenamed("vid", "q_id")
      .withColumnRenamed("v", "qv").withColumnRenamed("nrm", "qnrm")
    val scored = c.join(broadcast(q), col("vid") =!= col("q_id"))
      .withColumn("sim", dot(col("qv"),
          sameDim("bruteForceTopK", col("v"), size(col("qv"))))
        / (col("qnrm") * col("nrm")))
    topK(scored)
  }

  /** Attribute-filtered exact top-k: each query searches only the corpus
    * rows satisfying a per-(query,corpus) predicate — e.g. same label,
    * same tenant, a date range. The filter applies BEFORE scoring (inside
    * the join condition), so the dot-product work and the ranking window
    * shrink to the filtered slice: pre-filtering, not the post-filter
    * trap where top-k fills with rows the predicate then discards and
    * recall silently drops. At scale this is the "filtered vector search"
    * capability — compose with lshTopK's bucketing by conjoining the
    * bucket equality when the slice is still too large to scan.
    *
    * `filter` receives (corpusRow, queryRow) column scopes aliased as
    * `c` and `q` — e.g. `col("c.label") === col("q.label")`.
    *
    * Like [[bruteForceTopK]], the QUERIES side must be small: it is
    * broadcast in full (vectors included) so the corpus side streams
    * without a shuffle. A corpus-sized `queries` input belongs in the
    * bucketed paths ([[lshTopK]] / [[ivfPqTopK]]), not here. */
  def filteredTopK(
      corpus: DataFrame,
      queries: DataFrame,
      filter: Column,
      k: Int = 1,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val topK = topKBySim("filteredTopK", k, nid = "nid")
    // norms staged scan-side: one fold per ROW before the join, not one
    // per candidate pair
    val c = corpus.withColumn("__v", asDouble(col(vecCol)))
      .withColumn("__nrm", norm2(col("__v"))).as("c")
    val q = queries.withColumn("__v", asDouble(col(vecCol)))
      .withColumn("__nrm", norm2(col("__v"))).as("q")
    topK(c.join(broadcast(q),
        col(s"c.$idCol") =!= col(s"q.$idCol") && filter)
      .select(col(s"q.$idCol").as("q_id"), col(s"c.$idCol").as("nid"),
        (dot(col("q.__v"), sameDim("filteredTopK", col("c.__v"), size(col("q.__v"))))
          / (col("q.__nrm") * col("c.__nrm"))).as("sim")))
  }

  /** IVF (inverted-file) ANN: cluster the corpus into `nCentroids` cells
    * with spherical KMeans (KMeans over L2-normalized vectors, so Euclidean
    * cell assignment coincides with cosine — the metric the search targets),
    * then search each query only in its `nProbe` nearest cells, ranked by
    * the SAME metric the assignment used ([[probeCells]]).
    * The 100 TB path where LSH recall is insufficient: the corpus shuffles
    * once on cluster id, per-query work is bounded by cell size × nProbe,
    * and the (tiny) centroid table broadcasts.
    *
    * `nCentroids <= 0` sizes cells from the data: ceil(√n) centroids — the
    * standard IVF balance point (cell size ≈ √n, so per-query probe work ≈
    * nProbe·√n) — so a pinned constant can't silently mis-size cells as
    * the corpus grows. `nProbe <= 0` composes: ⌈3·√kCells⌉ probes (the
    * shared auto law), so auto-k at a new scale scales the probe count too
    * instead of silently losing recall against more, smaller cells.
    * Pass `coarseFitted` (from [[fitCoarseQuantizer]]) to reuse a
    * quantizer across calls/operators — seeded fits are deterministic, so
    * reuse changes wall-clock, never results. Queries whose length is not
    * the quantizer's dimensionality fail the search by name. */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 3,
      nCentroids: Int = 16,
      nProbe: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      coarseFitted: Option[CoarseFit] = None
  ): DataFrame = {
    val topK = topKBySim("ivfTopK", k)
    // nCentroids is read from the supplied model's k when pre-fitted
    val fit = coarseFitted.getOrElse(
      fitCoarseQuantizer(corpus, nCentroids, idCol, vecCol))
    val assigned = assignCells(fit.model, normalized(corpus, idCol, vecCol))
      .select(col("vid"), col("vh"), col("cluster"))
    val q = normalized(queries, idCol, vecCol).select(col("vid").as("q_id"),
      sameDim("ivfTopK", col("vh"), lit(fit.dim)).as("qvh"))
    val probes = probeCells(q, centroidTable(corpus.sparkSession, fit.model),
      probeCount(nProbe, fit.kCells)).select(col("q_id"), col("qvh"), col("cluster"))
    topK(probes.join(assigned, "cluster")
      .filter(col("vid") =!= col("q_id"))
      .withColumn("sim", dot(col("qvh"), col("vh"))))
  }

  /** Product-quantization ANN (IVF-less ADC scan): split the D-dim space
    * into `m` subspaces, train a `ks`-centroid codebook per subspace
    * (seeded KMeans over the spherically-normalized corpus subvectors),
    * encode every corpus vector as `m` small codes, and rank candidates by
    * asymmetric distance computation — each query precomputes an m×ks
    * table of subvector→centroid distances once, and a corpus vector's
    * approximate distance is just `m` table lookups summed.
    *
    * The 100 TB path when even one float dot per corpus row is too much:
    * the scan side carries m bytes per vector instead of D floats (m=8,
    * ks=256 compresses a 768-dim float corpus 384×), the codebooks and
    * per-query tables broadcast, and the scan does no full-width
    * arithmetic at all. Encoding is a one-time pass (m chained KMeans
    * assignments fused into one scan by Catalyst); `trainFraction`
    * subsamples codebook training, which at corpus scale runs on a sample
    * by construction.
    *
    * Ranking is by approximate distance `Σᵢ ‖q̂ᵢ − C[i][codeᵢ]‖²`; since
    * `‖q̂‖² = 1` is constant per query, the table stores the rank-equivalent
    * `‖C[i][j]‖² − 2·q̂ᵢ·C[i][j]` (cosine-faithful on normalized vectors).
    *
    * ADC is a shortlist metric, not a final ranking ([[rerankShortlist]]):
    * the scan keeps the best `max(k·refine, shortlistC·√n)` rows per query
    * by ADC and re-ranks that shortlist with exact cosine (the standard
    * two-stage PQ design). The √n floor — NOT a corpus fraction — absorbs
    * the recall decay of a constant shortlist as the flat ADC scan grows
    * (recall@3 measured 0.83 → 0.51 going 500 → 5000 vectors with a fixed
    * 24-row shortlist) while keeping the exact pass sublinear in the
    * corpus. When even √n per query is too much, compose the cells with
    * the codes instead: [[ivfPqTopK]] bounds candidates by probed cell and
    * keeps the shortlist CONSTANT. */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 3,
      m: Int = 4,
      ks: Int = 16,
      refine: Int = 8,
      trainFraction: Double = 1.0,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      shortlistC: Double = 3.0,
      fitted: Option[PqFit] = None
  ): DataFrame = {
    val topK = topKBySim("pqTopK", k)
    require(refine >= 1, s"refine must be >= 1, got $refine")
    // an empty input returns the empty typed result BEFORE KMeans is asked
    // to fit nothing, and ragged dims would silently mis-slice subvectors
    val shape = vectorShape("pqTopK", vecCol, corpus, queries)
    if (shape.isEmpty) return emptyTopK(corpus, queries, idCol)
    val (dim, nCorpus) = shape.get
    require(dim % m == 0, s"pqTopK: dim $dim not divisible into $m subspaces")
    val sd = dim / m

    val normCorpus = normalized(corpus, idCol, vecCol)
    // ---- train: one seeded KMeans per subspace, all over one cached scan
    // — or a caller-supplied fit (deterministic seeded fits ⇒ same output)
    val models = fitted.map(checkPqFit(_, m, sd, ks)).getOrElse(
      fitCodebooks(trainSample(normCorpus, trainFraction), m, sd, ks))

    // ---- encode the corpus: m chained assignments, fused into one scan
    val encoded = encodeWith(models, normCorpus, m, sd).select(col("vid"), col("codes"))

    // ---- ADC scan: m lookups + adds per (corpus row, query); queries
    // (with their tables) broadcast, the corpus side never re-touches floats
    val qt = normalized(queries, idCol, vecCol)
      .select(col("vid").as("q_id"), col("vh").as("qvh"))
      .withColumn("dtab", adcTableFrom(centersOf(models), sd, col("qvh")))
    val scored = encoded.join(broadcast(qt), col("vid") =!= col("q_id"))
      .withColumn("adist", adcDist(m))
    // Shortlist size: k·refine, FLOORED at shortlistC·√n. A fixed
    // multiplier tuned at one scale silently decays as the corpus grows
    // (recall@3 measured 0.83 → 0.51 going 500 → 5000 vectors with a
    // constant 24-row shortlist), and the floor must also absorb
    // per-session codebook jitter (KMeans init samples depend on input
    // partitioning): a 100-row shortlist at 5000 vectors straddled the 0.6
    // oracle bar across sessions (0.59–0.81); 200+ holds it clear. The √n
    // law gives 67 at 500 / 212 at 5000 / ~95k at 10⁹ — sublinear, unlike
    // the corpus-fraction floor it replaces (which was 4×10⁷ at 10⁹,
    // defeating PQ's point).
    val shortlistN = math.max(k.toLong * refine,
      math.ceil(shortlistC * math.sqrt(nCorpus.toDouble)).toLong)
    rerankShortlist(scored, normCorpus.select(col("vid"), col("vh")), shortlistN, topK)
  }

  /** IVFADC — IVF cells composed with PQ codes (Jégou et al. 2011,
    * "Product Quantization for Nearest Neighbor Search", §IV): a coarse
    * spherical-KMeans quantizer bounds each query's candidate set to its
    * `nProbe` nearest cells, ADC ranks the candidates by their m-byte
    * codes, a CONSTANT `k·refine` shortlist re-ranks with exact cosine.
    * The search itself is [[ivfAdcSearch]], the same code a stored
    * [[VectorIndex]] answers with.
    *
    * This is the scale composition of [[ivfTopK]] (which ranks probed
    * cells with full-width dots) and [[pqTopK]] (whose flat ADC scan needs
    * a √n shortlist floor to hold recall): candidates per query are
    * `nProbe·(n/nCentroids)` rows of m codes, and the exact pass touches
    * `k·refine` vectors regardless of corpus size — per-query work is
    * sublinear end to end once `nCentroids` tracks √n. The corpus never
    * shuffles: probed (query, cell) rows carry their ADC tables and
    * broadcast onto the code scan as a broadcast hash join on the cell id.
    *
    * With `residual = true` (default, the actual Jégou §IV formulation)
    * the codebooks quantize residuals r = v̂ − centroid(cell) rather than
    * v̂ directly: on CLUSTERED data residual magnitudes are much smaller
    * than vector magnitudes, so the same m·log2(ks) bits spend their
    * resolution where candidates actually differ. On weakly-clustered data
    * the gain vanishes (measured on the near-uniform synthetic corpus:
    * residual 0.660 vs direct 0.680 at sf0.1, same params — residuals are
    * as large as the vectors themselves there, and one codebook pooled
    * over all cells' residuals quantizes no better). The cost is
    * per-(query, probed cell) ADC tables — nProbe·m·ks dots per query
    * instead of m·ks — still a per-query CONSTANT, and the coarse fit must
    * complete before codebook training (they fit concurrently in
    * non-residual mode).
    *
    * `nCentroids <= 0` auto-sizes to ceil(√n) cells (see [[ivfTopK]]);
    * `nProbe <= 0` and `refine <= 0` similarly auto-size from cardinality
    * ([[probeCount]], [[ivfShortlistSize]]) — the mode for corpora
    * whose scale isn't known at call-site authoring time. */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 3,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      m: Int = 4,
      ks: Int = 16,
      refine: Int = 8,
      trainFraction: Double = 1.0,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      residual: Boolean = true,
      coarseFitted: Option[CoarseFit] = None,
      fitted: Option[PqFit] = None
  ): DataFrame = {
    val topK = topKBySim("ivfPqTopK", k)
    require(!(residual && fitted.isDefined && coarseFitted.isEmpty),
      "residual codebooks encode v̂ − centroid and are meaningless without " +
        "the coarse quantizer they were fitted against — pass both")
    // same guard as pqTopK: empty input → empty typed result BEFORE KMeans
    // is asked to fit nothing; ragged dims fail loudly
    val shape = vectorShape("ivfPqTopK", vecCol, corpus, queries)
    if (shape.isEmpty) return emptyTopK(corpus, queries, idCol)
    val (dim, nCorpus) = shape.get
    require(dim % m == 0, s"ivfPqTopK: dim $dim not divisible into $m subspaces")
    val sd = dim / m

    // The normalized corpus feeds TWO passes — the encode scan and the
    // exact re-rank's vector lookup — so the narrow (vid, vh) projection
    // persists for the call's duration (session-cache contract): one
    // parquet scan + normalize instead of two (r16).
    val normCorpus = normalized(corpus, idCol, vecCol).select(col("vid"), col("vh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---- train: coarse quantizer + per-subspace codebooks over ONE cached
    // scan of the normalized corpus (the coarse fit re-scans per iteration,
    // the m codebook fits run concurrently on top). When BOTH fits arrive
    // pre-computed the training base never materializes at all — `baseUsed`
    // gates the persist/unpersist pair.
    var baseUsed = false
    lazy val base = {
      baseUsed = true
      normalized(corpus, idCol, vecCol)
        .withColumn("fcoarse", array_to_vector(col("vh")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    def trainBase = trainSample(base, trainFraction)
    // nCentroids <= 0 → ceil(√n) cells (same auto-sizing as ivfTopK); the
    // corpus count is already on hand from the guard. A pre-fitted
    // quantizer brings its own k.
    val kCells = coarseFitted.map(_.kCells).getOrElse(cellCount(nCentroids, nCorpus))
    // the coarse fit is independent of the m codebook fits in NON-residual
    // mode — run it as a concurrent Spark job alongside them (same pattern
    // and determinism argument as fitCodebooks; the per-iteration
    // scheduling latency of a small-k fit otherwise adds straight
    // wall-clock). Residual mode trains codebooks ON the coarse residuals,
    // so the coarse fit must complete first; the m codebook fits still run
    // concurrently among themselves inside fitCodebooks.
    val preModels = fitted.map(checkPqFit(_, m, sd, ks))
    val (coarse, models) =
      if (residual) {
        val c = coarseFitted.map(_.model).getOrElse(fitCoarse(base, kCells))
        val ms = preModels.getOrElse(fitCodebooks(
          residuals(c.transform(trainBase), centroidTable(corpus.sparkSession, c), "vh"),
          m, sd, ks))
        (c, ms)
      } else (coarseFitted.map(_.model), preModels) match {
        case (Some(c), Some(ms)) => (c, ms)
        case (Some(c), None) => (c, fitCodebooks(trainBase, m, sd, ks))
        case (None, Some(ms)) => (fitCoarse(base, kCells), ms)
        case (None, None) =>
          val coarseF = {
            import scala.concurrent.Future
            import scala.concurrent.ExecutionContext.Implicits.global
            Future(fitCoarse(base, kCells))
          }
          val ms = fitCodebooks(trainBase, m, sd, ks)
          val c = {
            import scala.concurrent.Await
            import scala.concurrent.duration.Duration
            Await.result(coarseF, Duration.Inf)
          }
          (c, ms)
      }
    // fit-only cache, released eagerly (the ivfTopK contract): the single
    // downstream encode pass recomputes from lineage
    if (baseUsed) base.unpersist(blocking = false)

    val centroids = centroidTable(corpus.sparkSession, coarse)
    // ---- encode: cell id + m codes per corpus vector, one fused scan
    // (residual mode re-points `vh` at v̂ − centroid before coding)
    val assigned = assignCells(coarse, normCorpus)
    val encoded = encodeWith(models,
        if (residual) residuals(assigned, centroids, "vh") else assigned, m, sd)
      .select(col("vid"), col("cluster"), col("codes"))

    ivfAdcSearch(
      normalized(queries, idCol, vecCol).select(col("vid").as("q_id"), col("vh").as("qvh")),
      centroids, centersOf(models), encoded, normCorpus, residual, m, sd,
      probeCount(nProbe, kCells), ivfShortlistSize(k, refine, nCorpus), topK)
  }

  /** Embedding-cosine near-duplicate pairs over a corpus subset: exact
    * all-pairs within the (broadcastable) subset — the correctness oracle
    * for the LSH/IVF paths. */
  def cosineNearDupPairs(
      vecs: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val v = withVec(vecs, idCol, vecCol)
    v.as("a").join(broadcast(v.as("b")), col("a.vid") < col("b.vid"))
      .withColumn("sim",
        dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("sim") >= threshold)
      .select(col("a.vid").as("a_id"), col("b.vid").as("b_id"), col("sim"))
  }

  /** SemDeDup-style semantic near-duplicate pruning (Abbas et al. 2023,
    * arXiv:2303.09540): partition the embedding space into deterministic
    * hyperplane cells, compute pairwise cosine only WITHIN a cell, and drop
    * every vector that has a lower-id companion at cosine >= `tau` in its
    * cell; the lowest id of a duplicate neighborhood survives as the
    * representative. One pass, no iteration — a vector is dropped if ANY
    * lower-id cell-mate is within `tau`, whether that mate itself survives
    * (matches SemDeDup's one-shot per-cluster pruning; the paper clusters
    * with KMeans — the hyperplane code plays that role here because it is
    * engine-replayable, so the whole decision is hash-verifiable).
    *
    * Returns one row per input vector: (vec_id, cell, kept, rep_id) with
    * rep_id = the smallest companion that caused a drop, null when kept.
    *
    * 100 TB shape: one shuffle on the cell code; the quadratic step is
    * bounded per cell (`planes` sizes cells at ~n/2^planes — size it so the
    * worst cell's pair count is acceptable), and the pair join is an
    * equi-join on the cell key, never a cross-cell cartesian. The dedup
    * decision needs no global state beyond the per-cell neighborhood.
    *
    * Cache contract (same as the `Dedup` pair-finders): the cell table is
    * persisted because the returned lazy plan reads it from both sides of
    * the within-cell self-join plus the final decision select. The entry
    * lives until the session drops it — long-lived sessions issuing many
    * calls should `spark.catalog.clearCache()` between corpora (the bench
    * and verify harnesses do). */
  def semDedup(
      vecs: DataFrame,
      tau: Double,
      planes: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      portableHash: Boolean = false
  ): DataFrame = {
    // Same up-front guard as lshTopK: empty input → empty typed result;
    // ragged vector dims → loud failure (cell codes over truncated vectors
    // would be silently wrong).
    val shape = vectorShape("semDedup", vecCol, vecs)
    // rep_id carries the ID COLUMN'S OWN type (min over a_id does in the
    // non-empty path) — a hardcoded long here would flip the schema with
    // input emptiness for int-typed ids
    val emptySchema = vecs.select(col(idCol).as("vec_id"), lit(0L).as("cell"),
      lit(true).as("kept"),
      lit(null).cast(vecs.schema(idCol).dataType).as("rep_id")).limit(0)
    if (shape.isEmpty) return emptySchema
    val dim = shape.get._1
    val sig =
      if (portableHash) portableHyperplaneSig(col("v"), planes, dim, 0)
      else hyperplaneSig(col("v"), planes, dim, 0)
    // persisted: cells feeds BOTH sides of the within-cell pair join plus
    // the final decision select — the module's cache contract for
    // self-join pair-finders (without it the scan + signature evaluate up
    // to three times; aliased projections defeat exchange reuse)
    val cells = withVec(vecs, idCol, vecCol).withColumn("cell", sig)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = cells.select(col("vid").as("a_id"), col("cell").as("a_cell"),
      col("v").as("av"), col("nrm").as("anrm"))
    val b = cells.select(col("vid").as("b_id"), col("cell").as("b_cell"),
      col("v").as("bv"), col("nrm").as("bnrm"))
    val dropped = a.join(b,
        col("a_cell") === col("b_cell") && col("a_id") < col("b_id"))
      .withColumn("sim", dot(col("av"), col("bv")) / (col("anrm") * col("bnrm")))
      .filter(col("sim") >= tau)
      .groupBy(col("b_id")).agg(min(col("a_id")).as("rep_id"))
    cells.select(col("vid").as("vec_id"), col("cell"))
      .join(dropped, col("vec_id") === col("b_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("rep_id").isNull.as("kept"), col("rep_id"))
  }

  /** Coverage-capped diversity sampling over the embedding space: partition
    * vectors into deterministic hyperplane cells (the [[semDedup]] code) and
    * keep at most `cap` per cell — the cheap way to force a sample to SPAN
    * the embedding space instead of following its density (dense regions
    * are truncated at `cap`, sparse regions survive whole). The complement
    * of [[semDedup]]: that prunes near-identical neighbors, this bounds
    * how much any one region contributes to a training mix.
    *
    * Within a cell the kept set is the `cap` smallest ids — deterministic
    * across engines, re-runs and task retries; swap the ordering for a
    * portable id-hash when unbiased within-cell choice matters (the cell
    * cap, not the within-cell order, is what buys the diversity).
    *
    * 100 TB shape: one shuffle on the cell code; the rank-1..cap window is
    * WindowGroupLimit-pruned to `cap` rows per cell per map task, so a
    * degenerate cell holding half the corpus never sorts in one task. */
  def cellCapSample(
      vecs: DataFrame,
      cap: Int,
      planes: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      portableHash: Boolean = false
  ): DataFrame = {
    require(cap >= 1, s"cellCapSample: cap must be >= 1, got $cap")
    val shape = vectorShape("cellCapSample", vecCol, vecs)
    if (shape.isEmpty)
      return vecs.select(col(idCol).as("vec_id"), lit(0L).as("cell")).limit(0)
    val dim = shape.get._1
    val sig =
      if (portableHash) portableHyperplaneSig(col("v"), planes, dim, 0)
      else hyperplaneSig(col("v"), planes, dim, 0)
    firstPer(withVec(vecs, idCol, vecCol)
        .select(col("vid").as("vec_id"), col("v"))
        .withColumn("cell", sig),
      "cell", lit(cap), "rn", col("vec_id"))
      .select(col("vec_id"), col("cell"))
  }

  /** LSH-bucketed ANN: `tables` independent `planes`-bit signatures; a
    * corpus vector is a candidate for a query if any table assigns both the
    * same bucket.
    *
    * `multiProbe` (Lv et al. 2007, "Multi-Probe LSH"): each QUERY
    * additionally probes every Hamming-1 neighbor of its bucket — the
    * `planes` one-bit flips — so near-misses split by a single hyperplane
    * are recovered without another table. The index (corpus) side is
    * untouched: this buys table-count recall with per-query candidate
    * volume (×(planes+1) probes) instead of ×tables index size — at
    * 100 TB the corpus-side explode is the cost that matters, so
    * multi-probe is the first recall lever, extra tables the second.
    *
    * `probeBudget` (with `multiProbe`): probe only the `probeBudget`
    * one-bit flips with the SMALLEST margin |q·plane_p| — the planes the
    * query sits closest to, i.e. the flips most likely to hide a true
    * neighbor (the success probability of flip p decays with the margin,
    * Lv et al. §3.1). A budget of planes/2 keeps most of the full
    * Hamming-1 recall at roughly half the probe volume — the lever when
    * per-query candidate cost matters more than the last recall points.
    * `<= 0` or `>= planes` means all flips (plain multi-probe). Margins
    * come from the same ArrayDot fold as the signature bits, so the
    * ordering and the bucket assignment never disagree (and the DuckDB
    * oracle replays both). */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 1,
      planes: Int = 8,
      tables: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      portableHash: Boolean = false,
      multiProbe: Boolean = false,
      probeBudget: Int = 0
  ): DataFrame = {
    val topK = topKBySim("lshTopK", k, nid = "neighbor_id")
    // One tiny metadata job: the plane matrix is materialized driver-side
    // (O(planes × dim) hash evals instead of per-row), which needs the fixed
    // vector dimensionality up front. The guard spans BOTH inputs: an empty
    // one returns the empty result, and a ragged vector column fails loudly
    // (signatures over truncated vectors would be silently wrong).
    val shape = vectorShape("lshTopK", vecCol, corpus, queries)
    if (shape.isEmpty) return emptyTopK(corpus, queries, idCol)
    val dim = shape.get._1
    def sigOf(v: org.apache.spark.sql.Column, salt: Int) =
      if (portableHash) portableHyperplaneSig(v, planes, dim, salt)
      else hyperplaneSig(v, planes, dim, salt)
    def dotsOf(v: org.apache.spark.sql.Column, salt: Int) =
      if (portableHash) portablePlaneDots(v, planes, dim, salt)
      else planeDots(v, planes, dim, salt)
    val marginMode = multiProbe && probeBudget >= 1 && probeBudget < planes
    def bucketed(df: DataFrame, role: String, probe: Boolean) = {
      val base = withVec(df, idCol, vecCol)
      val out =
        if (probe && marginMode) {
          // Margin-ordered probing is data-dependent, so signatures and
          // margin arrays are materialized as NAMED columns first: the
          // flip-building lambdas below then reference cheap attributes,
          // and CollapseProject keeps the boundary (the aliases are
          // multiply-referenced and non-trivial), so no signature fold is
          // re-evaluated per array element (the HOF lambda trap).
          val withSig = base.select(
            col("vid") +: col("v") +: col("nrm") +:
              (0 until tables).flatMap(tb => Seq(
                sigOf(col("v"), tb * planes).as(s"sig_$tb"),
                dotsOf(col("v"), tb * planes).as(s"dots_$tb"))): _*)
          val perTable = (0 until tables).map { tb =>
            val s = col(s"sig_$tb")
            val offset = lit(tb.toLong * (1L << planes))
            // rank planes by |margin| asc (ties by plane index — both
            // engines sort the (m, p) struct lexicographically), keep the
            // probeBudget closest, flip each bit onto the exact bucket
            val ranked = slice(
              sort_array(zip_with(
                col(s"dots_$tb"), sequence(lit(0), lit(planes - 1)),
                (d, p) => struct(abs(d).as("m"), p.as("p")))),
              1, probeBudget)
            val flips = transform(ranked, t =>
              struct(lit(tb).as("t"),
                (s.bitwiseXOR(
                  call_function("shiftleft", lit(1L), t.getField("p")))
                  + offset).as("b")))
            concat(array(struct(lit(tb).as("t"), (s + offset).as("b"))), flips)
          }
          withSig.select(col("vid"), col("v"), col("nrm"),
            explode(concat(perTable: _*)).as("tb"))
        } else {
          // One signature column per table, each over a DISJOINT plane set
          // (tableSalt = tb * planes), built as a literal array of row-level
          // expressions — each signature is evaluated once per row, never
          // re-evaluated per array element (the HOF lambda trap). The
          // tb * 2^planes offset keeps buckets from different tables disjoint
          // under the single (tbl, bucket) join key. With `probe`, each table
          // contributes the bucket itself plus its `planes` one-bit flips
          // (query side only — the index side always stays one row per table).
          val buckets = (0 until tables).flatMap { tb =>
            val s = sigOf(col("v"), tb * planes)
            val variants = if (probe) -1 until planes else -1 until 0
            variants.map { p =>
              val flipped = if (p < 0) s else s.bitwiseXOR(lit(1L << p))
              struct(lit(tb).as("t"),
                (flipped + lit(tb.toLong * (1L << planes))).as("b"))
            }
          }
          base.select(col("vid"), col("v"), col("nrm"),
            explode(array(buckets: _*)).as("tb"))
        }
      out.select(col("vid").as(s"${role}_vid"), col("v"), col("nrm"),
        col("tb.t").as("tbl"), col("tb.b").as("bucket"))
    }
    val c = bucketed(corpus, "c", probe = false)
    val q = bucketed(queries, "q", probe = multiProbe)
      .withColumnRenamed("v", "qv").withColumnRenamed("nrm", "qnrm")
    topK(c.join(q,
      c("tbl") === q("tbl") && c("bucket") === q("bucket")
        && col("c_vid") =!= col("q_vid"))
      .select(col("q_vid").as("q_id"), col("c_vid").as("neighbor_id"),
        col("qv"), col("qnrm"), col("v"), col("nrm"))
      .dropDuplicates("q_id", "neighbor_id")
      .withColumn("sim", dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))))
  }
}
