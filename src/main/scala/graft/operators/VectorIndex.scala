package graft.operators

import graft.operators.Similarity.{CoarseFit, PqFit, assignCells, centroidTable, encodeWith, ivfAdcSearch, ivfShortlistSize, normalized, probeCount, residuals, subVec, topKBySim, vectorShape}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable IVFADC index — the vector-side analog of the stored LSH index
  * (`Dedup.lshIndex`) and BM25 postings (`Retrieval.bm25Index`): IVF/PQ
  * answers were the only search family that re-fitted and re-encoded the
  * corpus on every call. `write` persists everything a LATER SESSION needs
  * to answer top-k without touching the corpus table again; `search`
  * runs [[Similarity.ivfPqTopK]]'s own search code
  * ([[Similarity.ivfAdcSearch]]) over the stored artifacts, so (given the
  * same fits) it returns IDENTICAL rows — the spec asserts equality, not a
  * recall bar.
  *
  * Layout is [[Generations]]-structured (the ClosureStore/EditDistance
  * discipline): all components live inside one `gen-NNNNNNN` directory
  * published whole —
  *   - `params/`    one row: m, sd, ks, dim, residual, k_cells
  *   - `centroids/` (cluster, cvec ARRAY<DOUBLE>, cnorm2) — broadcast side
  *   - `codebooks/` (subspace, code, center ARRAY<DOUBLE>) — m·ks rows,
  *     collected to the driver at search time to build ADC tables
  *   - `codes/`     (vid, cluster, codes ARRAY<INT>, vh ARRAY<DOUBLE>) —
  *     the scan side: m small codes for ADC plus the normalized vector for
  *     the exact re-rank, co-located by cell id
  *   - `ingested/`  the replay ledger: every batch id ever folded, carried
  *     across [[compactIndex]] and rebuilds so [[batchIngested]] stays
  *     truthful after the batch directories themselves are gone
  *   - `batches/<batchId>/codes/` — committed [[appendBatch]] increments,
  *     each wholly visible or not at all
  *
  * A rebuild over a LIVE index publishes a whole new generation, so the
  * new fits can never silently compose with codes encoded under the old
  * ones. A crashed or speculatively-retried ingest job is caught by
  * the [[batchIngested]] probe — the raw-parquet-append design this
  * replaces would double-encode the batch silently (duplicate code rows
  * inflate candidate multiplicity and can displace distinct neighbors in
  * the ADC shortlist) and a crash mid-append left a torn `codes/` no
  * stamp mismatch could catch (only codes changed, so verifyAligned
  * still passed).
  *
  * 100 TB shape: `codes/` is the only corpus-sized table. The ADC pass
  * reads (vid, cluster, codes) — column-pruned to ~m bytes of codes per
  * vector; the exact pass re-reads only (vid, vh) for the k·refine
  * shortlisted rows via a broadcast join. Incremental ingest commits new
  * batches' rows beside `codes/` with the STORED fits (encode is a pure
  * map — no refit), which is exactly what [[appendBatch]] does; reads
  * compose base + batches (a plain multi-directory union — no masking:
  * codes are append-only), and [[compactIndex]] folds the accumulated
  * small batch directories into a fresh base on whatever cadence the
  * file-count hygiene is worth. */
object VectorIndex {

  /** Build and persist the index as the next generation. `nCentroids <= 0`
    * auto-sizes cells; pass `coarseFitted`/`fitted` to reuse session-shared
    * fits (and to make a subsequent one-shot [[Similarity.ivfPqTopK]] with
    * the same fits bit-identical to [[search]]). Rebuilding over a LIVE
    * index is safe: the publish supersedes the old base AND its batch
    * directories together, and the replay ledger carries forward (old
    * ledger ∪ old batch ids) so a streaming replay of a batch folded
    * before the rebuild is still recognized and skipped. */
  def write(
      corpus: DataFrame,
      path: String,
      nCentroids: Int = 0,
      m: Int = 4,
      ks: Int = 16,
      trainFraction: Double = 1.0,
      residual: Boolean = false,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      coarseFitted: Option[CoarseFit] = None,
      fitted: Option[PqFit] = None
  ): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cf = coarseFitted.getOrElse(
      Similarity.fitCoarseQuantizer(corpus, nCentroids, idCol, vecCol))
    val dim = cf.dim
    require(dim % m == 0, s"VectorIndex: dim $dim not divisible into $m subspaces")
    val sd = dim / m
    val pf = fitted.map(f => { Similarity.checkPqFit(f, m, sd, ks); f })
      .getOrElse(
        if (residual)
          Similarity.fitResidualPqCodebooks(corpus, cf, m, ks, trainFraction, idCol, vecCol)
        else
          Similarity.fitPqCodebooks(corpus, m, ks, trainFraction, idCol, vecCol))

    val centroids = centroidTable(spark, cf.model)
    val codebooks = pf.models.zipWithIndex.flatMap { case (mod, i) =>
      mod.clusterCenters.zipWithIndex.map { case (cv, j) =>
        (i, j, cv.toArray.toSeq) }
    }.toSeq.toDF("subspace", "code", "center")

    // encode: cell id + m codes per vector, one fused scan; `vh` keeps the
    // ORIGINAL normalized vector (the exact-re-rank payload) while residual
    // mode codes v̂ − centroid
    val assigned = assignCells(cf.model, normalized(corpus, idCol, vecCol))
    val encoded = encodeWith(pf.models, codeInput(assigned, centroids, residual), m, sd)
      .select(col("vid"), col("cluster"), col("codes"), col("vh0").as("vh"))

    // the ledger the new generation must carry (old ledger ∪ old live
    // batch ids) — resolved BEFORE the publish supersedes them
    val carried: Seq[String] = Generations.carriedLedger(spark, path,
      gen => batchDirs(spark, gen).map(_._1))
    // one generation publish + one stamp across all five components (the
    // ClosureStore discipline): codes encoded against one fit joined with
    // another build's codebooks would score garbage distances SILENTLY —
    // the exact torn state a crash between component writes of an
    // in-place rewrite leaves. Appends ([[appendBatch]]) commit whole
    // batch directories beside the stamped base and never touch the stamp.
    Generations.publish(spark, path, parts) { staging =>
      Seq((m, sd, ks, dim, residual, cf.kCells))
        .toDF("m", "sd", "ks", "dim", "residual", "k_cells")
        .write.mode("overwrite").parquet(s"$staging/params")
      centroids.write.mode("overwrite").parquet(s"$staging/centroids")
      codebooks.write.mode("overwrite").parquet(s"$staging/codebooks")
      encoded.write.mode("overwrite").parquet(s"$staging/codes")
      carried.toDF("batch_id").coalesce(1)
        .write.mode("overwrite").parquet(s"$staging/ingested")
    }
  }

  /** What the codebooks encode: `vh`, which residual mode re-points at
    * v̂ − centroid, beside `vh0`, the normalized vector the exact re-rank
    * reads. */
  private def codeInput(assigned: DataFrame, centroids: DataFrame,
      residual: Boolean): DataFrame =
    if (residual) residuals(assigned.withColumnRenamed("vh", "vh0"), centroids, "vh0")
    else assigned.withColumn("vh0", col("vh"))

  private def parts(gen: String): Seq[String] =
    Seq(s"$gen/params", s"$gen/centroids", s"$gen/codebooks", s"$gen/codes",
      s"$gen/ingested")

  /** Committed (batchId, dir) pairs of a generation, ascending id —
    * [[Generations.listBatches]]' raw-named layout (order is cosmetic:
    * codes are append-only, reads are a plain union). */
  private def batchDirs(spark: SparkSession,
      gen: String): Seq[(String, String)] =
    Generations.listBatches(spark, gen)

  /** The live generation, stamp-verified — every read and write resolves
    * through here (one choke point for the torn-build check). */
  private def currentVerified(spark: SparkSession, path: String): String = {
    val gen = Generations.current(spark, path, "IVFADC index")
    ArtifactStamp.verifyAligned(spark, "IVFADC index", parts(gen))
    gen
  }

  /** The composed code table: base + every committed batch directory —
    * staging is dot-prefixed and never listed, so readers see only whole
    * batches. */
  private def composedCodes(spark: SparkSession, gen: String): DataFrame =
    spark.read.parquet((s"$gen/codes" +:
      batchDirs(spark, gen).map(d => s"${d._2}/codes")): _*)

  /** Has `batchId` already been folded in — by a live [[appendBatch]]
    * batch directory of the current generation, or by one absorbed into
    * the base (the `ingested` ledger, which [[compactIndex]] and
    * [[write]]-over-live carry forward)? The idempotence probe a
    * retrying or replaying ingest job runs before appending. */
  def batchIngested(spark: SparkSession, path: String,
      batchId: String): Boolean =
    Generations.batchKnown(spark, path, "IVFADC index", batchId)

  /** Batch directories of the live generation not yet folded into the
    * base — the small-file gauge a maintenance job (or
    * [[graft.streaming.Streaming.annIndexSink]]'s `compactEvery`)
    * watches to trigger [[compactIndex]]. */
  def liveBatchCount(spark: SparkSession, path: String): Int =
    batchDirs(spark, Generations.current(spark, path, "IVFADC index")).size

  /** Fold the live generation's batch directories into a fresh base —
    * from the STORED artifacts only, zero re-encoding: the composed
    * codes read is rewritten as one single-directory table, fits and
    * params copy over verbatim, the replay ledger absorbs the batch
    * ids, and the result publishes as the next generation. Searches,
    * appends, and [[batchIngested]] answers
    * are invariant across a compact (spec-pinned). */
  def compactIndex(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val gen = currentVerified(spark, path)
    val ledger = Generations.carriedLedger(spark, path,
      g => batchDirs(spark, g).map(_._1))
    Generations.publish(spark, path, parts) { staging =>
      spark.read.parquet(s"$gen/params")
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/params")
      spark.read.parquet(s"$gen/centroids")
        .write.mode("overwrite").parquet(s"$staging/centroids")
      spark.read.parquet(s"$gen/codebooks")
        .write.mode("overwrite").parquet(s"$staging/codebooks")
      composedCodes(spark, gen)
        .write.mode("overwrite").parquet(s"$staging/codes")
      ledger.toDF("batch_id").coalesce(1)
        .write.mode("overwrite").parquet(s"$staging/ingested")
    }
  }

  /** Encode a NEW batch with the stored fits and commit it beside
    * `codes/` — incremental ingest without refit or history re-scan (the
    * IVF analog of `Dedup.incrementalNeardupPairs`' never-history×history
    * contract). Centroids/codebooks stay frozen: the standard FAISS-style
    * tradeoff that drift in the data distribution degrades cell balance
    * until the next rebuild, in exchange for O(batch) ingest cost.
    *
    * The commit is ATOMIC and REPLAY-SAFE, not a parquet append
    * ([[EditDistance.appendIndex]]'s discipline): the encoded codes
    * commit as one `batches/<batchId>` directory, wholly visible or not
    * at all, and re-submitting a committed batchId fails loud (retrying
    * jobs probe [[batchIngested]] first).
    * The raw append this replaces was the one stored artifact whose
    * failure/retry semantics contradicted the repo's standard: a retried
    * ingest double-encoded the batch silently, and only `codes` changed,
    * so the cross-component stamp could not catch the tear. */
  def appendBatch(
      batch: DataFrame,
      path: String,
      batchId: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): Unit = {
    val spark = batch.sparkSession
    val gen = currentVerified(spark, path)
    val (m, sd, _, _, residual, _) = readParamsGen(spark, gen)
    val centroids = spark.read.parquet(s"$gen/centroids")
    val coarsePredict = predictorUdf(spark, s"$gen/centroids", "cvec", "cluster")
    val books = loadCodebookCenters(spark, gen)
    val assigned = normalized(batch, idCol, vecCol)
      .withColumn("cluster", coarsePredict(col("vh")))
    val coded = books.zipWithIndex.foldLeft(
        codeInput(assigned, centroids, residual)) { case (d, (cbook, i)) =>
      d.withColumn(s"c_$i", mkPredictor(cbook)(subVec(col("vh"), i, sd)))
    }.withColumn("codes", array((0 until m).map(i => col(s"c_$i")): _*))
    Generations.requireNewBatch(spark, path, "IVFADC index", batchId,
      "a blind retry would double-encode the batch (duplicate code rows " +
        "inflate candidate multiplicity and can displace distinct " +
        "neighbors in the ADC shortlist)")
    Generations.commitBatch(spark, path, gen, "IVFADC index", batchId) { staging =>
      coded.select(col("vid"), col("cluster"), col("codes"), col("vh0").as("vh"))
        .write.mode("overwrite").parquet(s"$staging/codes")
    }
  }

  /** Nearest-stored-center assignment as a UDF over the mllib model (the
    * same `findClosest` the original ml KMeansModel.transform ran, so
    * appended codes agree with built ones). Encode is a one-time O(batch)
    * pass — the UDF never sits in a per-query hot path. */
  private def mkPredictor(centers: Seq[Array[Double]])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    import org.apache.spark.mllib.clustering.{KMeansModel => OldModel}
    import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
    val model = new OldModel(centers.map(OldVectors.dense).toArray)
    udf { (v: scala.collection.Seq[Double]) =>
      model.predict(OldVectors.dense(v.toArray)) }
  }

  private def predictorUdf(
      spark: SparkSession, table: String, vecField: String, sortField: String)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    mkPredictor(spark.read.parquet(table).collect()
      .sortBy(_.getAs[Int](sortField))
      .map(_.getAs[scala.collection.Seq[Double]](vecField).toArray).toSeq)

  /** Index artifacts loaded once for repeated searches: the params row,
    * the driver-collected codebook centers, and the centroids/codes
    * DataFrames. A frozen index never changes under a reader, so a query
    * STREAM should pay the driver head()/collect and parquet listing once —
    * [[graft.streaming.Streaming.annSearchStream]] loads outside its
    * micro-batch loop and calls [[searchLoaded]] per batch. */
  final case class Loaded(
      m: Int, sd: Int, ks: Int, dim: Int, residual: Boolean, kCells: Int,
      centers: IndexedSeq[IndexedSeq[Array[Double]]],
      centroids: DataFrame, codes: DataFrame)

  def load(spark: SparkSession, path: String): Loaded = {
    val gen = currentVerified(spark, path)
    val (m, sd, ks, dim, residual, kCells) = readParamsGen(spark, gen)
    Loaded(m, sd, ks, dim, residual, kCells,
      loadCodebookCenters(spark, gen),
      spark.read.parquet(s"$gen/centroids"),
      composedCodes(spark, gen))
  }

  /** Top-k search against a stored index — [[searchLoaded]] after one
    * [[load]]. The corpus table is never touched. */
  def search(
      queries: DataFrame,
      path: String,
      k: Int = 3,
      nProbe: Int = 0,
      refine: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame =
    searchLoaded(queries, load(queries.sparkSession, path),
      k, nProbe, refine, idCol, vecCol)

  /** The one IVFADC search path: [[Similarity.ivfAdcSearch]] — probes,
    * per-probe ADC tables, candidate join on the cell, ADC shortlist,
    * exact re-rank, top-k — the code [[Similarity.ivfPqTopK]] runs too,
    * here over pre-[[load]]ed artifacts (the repeated-query path). The ADC
    * pass reads the column-pruned code scan (vid, cluster, codes); `vh`
    * stays on disk until the shortlist re-read. `nProbe <= 0` uses the
    * stored cell count's auto law; `refine <= 0` floors the shortlist at
    * 3·√n like the one-shot (one count of the codes). */
  def searchLoaded(
      queries: DataFrame,
      idx: Loaded,
      k: Int = 3,
      nProbe: Int = 0,
      refine: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val topK = topKBySim("VectorIndex.search", k)
    val Loaded(m, sd, _, dim, residual, kCells, centers, centroids, codes) = idx
    // one guard job; an empty query set passes and searches to no rows
    vectorShape("VectorIndex.search", vecCol, queries).foreach { case (d, _) =>
      require(d == dim, s"search: query dimensionality must be the index's $dim, got $d")
    }
    ivfAdcSearch(
      normalized(queries, idCol, vecCol).select(col("vid").as("q_id"), col("vh").as("qvh")),
      centroids, centers, codes.select("vid", "cluster", "codes"),
      codes.select(col("vid"), col("vh")), residual, m, sd,
      probeCount(nProbe, kCells), ivfShortlistSize(k, refine, codes.count()), topK)
  }

  /** Params of an already-verified generation — every read path
    * ([[load]]/[[search]]/[[appendBatch]]) resolves the generation through
    * [[currentVerified]] first, one choke point for the torn-build check. */
  private def readParamsGen(spark: SparkSession, gen: String)
      : (Int, Int, Int, Int, Boolean, Int) = {
    val p = spark.read.parquet(s"$gen/params").head()
    (p.getAs[Int]("m"), p.getAs[Int]("sd"), p.getAs[Int]("ks"),
      p.getAs[Int]("dim"), p.getAs[Boolean]("residual"), p.getAs[Int]("k_cells"))
  }

  /** Stored codebooks as per-subspace, code-ordered center arrays — the
    * literal form ADC tables are built from. m·ks rows; driver-collected. */
  private def loadCodebookCenters(spark: SparkSession, path: String)
      : IndexedSeq[IndexedSeq[Array[Double]]] =
    spark.read.parquet(s"$path/codebooks").collect()
      .groupBy(_.getAs[Int]("subspace")).toIndexedSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getAs[Int]("code")).toIndexedSeq
          .map(_.getAs[scala.collection.Seq[Double]]("center").toArray)
      }

}
