package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse text retrieval over an inverted-index postings shape: BM25
  * ranked search and tf-idf keyword extraction. The common scale
  * discipline is that scoring only ever touches (query, doc) pairs that
  * SHARE A TERM — a postings join against the query vocabulary — never
  * query × corpus, and the corpus is scanned a constant number of times
  * regardless of query count.
  *
  * Determinism: per-term contributions are quantized to integer
  * millionths BEFORE summation, so per-document scores are sums of longs
  * — order-free, hence identical across task retries, partitionings, and
  * engines (the DuckDB oracles replay them exactly). idf uses the
  * rational surrogate (n − df + 0.5)/(df + 0.5) — no libm `log`, whose
  * last-bit rounding is libc-dependent; BM25's ranking is unchanged
  * because x ↦ log(x) is monotone over the surrogate's range.
  *
  * Hot-term bound: a term present in a constant fraction of the corpus
  * (a stopword) makes its postings list ∝ corpus size, so one query
  * term can drag the whole corpus through the scoring join.
  * `maxDfFrac < 1.0` prunes terms with df > maxDfFrac·n from scoring —
  * the classic stopword cut. Default 1.0 (no pruning) keeps results
  * exact; at 100 TB set ~0.3–0.5 (a term in a third of all documents
  * carries ~no idf signal but all of the join cost). Pruned terms
  * contribute nothing — documents matching ONLY pruned terms drop out.
  *
  * Cache contract: both operators persist the vocabulary-filtered (BM25)
  * or full (keywords) postings table, which feeds BOTH the df aggregate
  * and the scoring pass — same contract as the dedup signature tables;
  * a long-lived session should `spark.catalog.clearCache()` between
  * corpora, and at corpus scale the keyword tf table IS the inverted
  * index — skip the persist and pay a second scan if it exceeds cluster
  * storage.
  */
object Retrieval {

  /** Multi-query BM25 top-k: for each query (a bag of terms in
    * `queryTerms`: qidCol, termCol), the k highest-scoring documents.
    *
    * Plan: corpus scanned exactly twice — once for the global (n, totdl)
    * stats row, once to build postings (explode → broadcast-filter by
    * the query vocabulary → map-side-combined (doc, term) tf agg, so the
    * exchange carries matching postings only). df and stats broadcast
    * back; top-k per query is a rank-1..k window, `WindowGroupLimit`
    * capping each map task at k rows per qid before the exchange. Per
    * query the cost is ∝ its matched postings, not corpus size.
    *
    * Output: (qidCol, idCol, rnk, score_scaled) — score_scaled the
    * integer-millionth quantized BM25 sum, ties broken by idCol
    * ascending.
    */
  def bm25TopK(
      docs: DataFrame,
      queryTerms: DataFrame,
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      maxDfFrac: Double = 1.0,
      idCol: String = "doc_id",
      textCol: String = "text",
      qidCol: String = "qid",
      termCol: String = "term"
  ): DataFrame = {
    val docsW = docs
      .select(col(idCol), graft.expressions.EvalOnce(
        words(col(textCol))).as("ws"))
      .select(col(idCol), col("ws"), size(col("ws")).as("dl"))
    val stats = docsW.agg(count(lit(1)).as("n"), sum(col("dl")).as("totdl"))
    val postings = docsW
      .select(col(idCol), col("dl"), explode(col("ws")).as(termCol))
      .join(broadcast(queryTerms.select(termCol).distinct()), termCol)
      .groupBy(col(idCol), col("dl"), col(termCol))
      .agg(count(lit(1)).as("tf"))
      .persist()
    // df from the vocabulary-filtered postings equals df from the full
    // index for every query term — the filter only removes OTHER terms.
    val dfq = postings.groupBy(termCol).agg(count(lit(1)).as("df"))
    scorePostings(postings, dfq, stats, queryTerms,
      k, k1, b, maxDfFrac, idCol, qidCol, termCol)
  }

  /** BM25 scoring core shared by the inline ([[bm25TopK]]) and stored-
    * index ([[bm25SearchIndexed]]) paths: postings already restricted to
    * the query vocabulary join the query terms, contributions quantize,
    * sum per (query, doc), rank-1..k window. */
  private def scorePostings(
      postings: DataFrame,
      dfq: DataFrame,
      stats: DataFrame,
      queryTerms: DataFrame,
      k: Int, k1: Double, b: Double, maxDfFrac: Double,
      idCol: String, qidCol: String, termCol: String
  ): DataFrame = {
    val tfd = col("tf").cast("double")
    val r = (col("dl") * col("n")).cast("double") / col("totdl").cast("double")
    val idf = (col("n").cast("double") - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val contrib = floor(((idf * (tfd * lit(k1 + 1.0))) /
      (tfd + (lit(k1) * (lit(1.0 - b) + (lit(b) * r))))) * lit(1000000L))
      .cast("long")
    val scoredTerms = queryTerms.join(postings, termCol).join(broadcast(dfq), termCol)
      .crossJoin(broadcast(stats))
    val pruned =
      if (maxDfFrac >= 1.0) scoredTerms
      else scoredTerms.filter(
        col("df").cast("double") <= lit(maxDfFrac) * col("n").cast("double"))
    val scored = pruned
      .select(col(qidCol), col(idCol), contrib.as("contrib"))
      .groupBy(qidCol, idCol).agg(sum(col("contrib")).as("score_scaled"))
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("score_scaled").desc, col(idCol))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(qidCol, idCol, "rnk", "score_scaled")
  }

  /** Stored BM25 index: the three tables a retrieval service keeps on
    * disk so queries never re-scan the corpus — full `(id, dl, term, tf)`
    * postings (the inverted index), per-term `(term, df)`, and the
    * one-row `(n, totdl)` stats. Built with exactly [[bm25TopK]]'s
    * expressions, so an index written at ingest time and a query scored
    * a year later produce the same ranks as the inline path. */
  def bm25Index(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      termCol: String = "term"
  ): (DataFrame, DataFrame, DataFrame) = {
    val docsW = docs
      .select(col(idCol), graft.expressions.EvalOnce(
        words(col(textCol))).as("ws"))
      .select(col(idCol), col("ws"), size(col("ws")).as("dl"))
    val stats = docsW.agg(count(lit(1)).as("n"), sum(col("dl")).as("totdl"))
    val postings = docsW
      .select(col(idCol), col("dl"), explode(col("ws")).as(termCol))
      .groupBy(col(idCol), col("dl"), col(termCol))
      .agg(count(lit(1)).as("tf"))
    val dfT = postings.groupBy(termCol).agg(count(lit(1)).as("df"))
    (postings, dfT, stats)
  }

  /** Publish a [[bm25Index]] to disk as the three tables a retrieval
    * service keeps — `postings/`, `df/`, `stats/` — as one
    * [[Generations.Store]], stamped with ONE generation id: a crash
    * between the component writes of a rebuild would otherwise leave
    * yesterday's df beside today's postings, and BM25 scored with
    * mismatched df/stats is silently mis-ranked, not an error. A rewrite
    * of a LIVE index publishes the next generation whole, so the
    * previous index keeps serving until it lands. */
  def writeBm25Index(
      docs: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      termCol: String = "term"
  ): Unit = {
    val spark = docs.sparkSession
    val (postings, _, stats) = bm25Index(docs, idCol, textCol, termCol)
    bm25Store.rebuild(spark, path) { staging =>
      postings.write.mode("overwrite").parquet(s"$staging/postings")
      // df derives from the just-written postings (one row per (doc, term)
      // by construction), not from a second corpus tokenization — the
      // ClosureStore.build write-then-read-back discipline. stats keeps
      // its corpus derivation: n must count EVERY document, including
      // empty ones that emit no postings rows.
      spark.read.parquet(s"$staging/postings")
        .groupBy(termCol).agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(s"$staging/df")
      stats.coalesce(1).write.mode("overwrite").parquet(s"$staging/stats")
    }
  }

  private val bm25Store =
    Generations.Store("BM25 index", stamped = Seq("postings", "df", "stats"))

  /** The stored [[writeBm25Index]] tables of the LIVE generation,
    * stamp-verified — the tuple [[bm25SearchIndexed]] /
    * `Streaming.bm25SearchStream` consume. */
  def readBm25Index(spark: org.apache.spark.sql.SparkSession, path: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val gen = bm25Store.current(spark, path)
    (bm25Store.read(spark, gen, "postings"), bm25Store.read(spark, gen, "df"),
      bm25Store.read(spark, gen, "stats"))
  }

  /** BM25 search against a STORED index ([[bm25Index]] tables): the
    * postings scan is broadcast-filtered by the query vocabulary before
    * scoring, so per-batch cost is ∝ the matched postings — the corpus
    * text is never touched. Ranks equal [[bm25TopK]] on the same corpus
    * and queries (spec + streaming test assert it). Unlike the inline
    * path nothing persists: each of postings/df/stats feeds exactly one
    * pass, which is what lets the streaming wrapper run per micro-batch
    * with no cache lifecycle. */
  def bm25SearchIndexed(
      postings: DataFrame,
      dfT: DataFrame,
      stats: DataFrame,
      queryTerms: DataFrame,
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      maxDfFrac: Double = 1.0,
      idCol: String = "doc_id",
      qidCol: String = "qid",
      termCol: String = "term"
  ): DataFrame = {
    val vocab = broadcast(queryTerms.select(termCol).distinct())
    scorePostings(
      postings.join(vocab, termCol),
      dfT.join(vocab, termCol),
      stats, queryTerms, k, k1, b, maxDfFrac, idCol, qidCol, termCol)
  }

  /** Per-document top-k tf-idf keywords via the bounded-heap `topk_by`
    * aggregate — no rank window, no per-doc sort: the partial aggregate
    * caps the final exchange at k rows per document per map partition.
    *
    * Plan: three exchanges total — the (doc, term) tf agg, the term df
    * agg over the persisted tf table, and the final per-doc topk agg
    * (an ObjectHashAggregate pair); df and the corpus-size row
    * broadcast back. Ties on the quantized score break by term
    * descending (topk_by's own rule).
    *
    * Output: (idCol, top_terms ARRAY<STRING>) — terms in descending
    * score order.
    */
  def tfidfKeywords(
      docs: DataFrame,
      k: Int = 5,
      maxDfFrac: Double = 1.0,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val docsW = docs.select(col(idCol),
      graft.expressions.EvalOnce(words(col(textCol))).as("ws"))
    val nDocs = docsW.agg(count(lit(1)).as("n"))
    val tf = docsW
      .select(col(idCol), explode(col("ws")).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist()
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = (col("n").cast("double") - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val score = floor((col("tf").cast("double") * idf) * lit(1000000L))
      .cast("long")
    val joined = tf.join(broadcast(dfT), "term").crossJoin(broadcast(nDocs))
    val pruned =
      if (maxDfFrac >= 1.0) joined
      else joined.filter(
        col("df").cast("double") <= lit(maxDfFrac) * col("n").cast("double"))
    pruned
      .select(col(idCol), col("term"), score.as("score_scaled"))
      .groupBy(idCol)
      .agg(graft.expressions.TopKBy.topkBy(
        col("score_scaled"), col("term"), k).as("top"))
      .select(col(idCol),
        expr("transform(top, s -> s.payload)").as("top_terms"))
  }

  /** Hybrid retrieval with reciprocal-rank fusion (RRF): fuse a lexical
    * BM25 ranking over `docs` with an exact cosine ranking over
    * `embeddings` (ids shared with `docs`), score = Σ 1/(rrfK + rank)
    * over the arms that returned the document — the standard fusion in
    * production RAG stacks, robust to the two arms' incomparable score
    * scales because only RANKS cross the boundary.
    *
    * Exactness: contributions are computed as `1000000 DIV (rrfK + rank)`
    * — pure positive integer floor-division, so fused scores are sums of
    * longs with no float anywhere and replay bit-identically on any
    * engine.
    *
    * Scale: each arm is already top-`poolK` per query (BM25's postings
    * join; the vector arm's broadcast-query scan — swap in lshTopK /
    * ivfPqTopK output for corpus-scale ANN, anything with the same
    * (q_id, neighbor_id, sim) shape fuses identically). The fusion join
    * and final window touch ≤ 2·poolK rows per query — negligible at any
    * corpus size; the corpus itself is only read inside the arms.
    *
    * Output: (qidCol, docIdCol, rnk, rrf_scaled), top-k per query by
    * fused score, ties by document id ascending.
    */
  def hybridRrfTopK(
      docs: DataFrame,
      embeddings: DataFrame,
      queryTerms: DataFrame,
      queryVecs: DataFrame,
      k: Int = 10,
      poolK: Int = 20,
      rrfK: Int = 60,
      maxDfFrac: Double = 1.0,
      docIdCol: String = "doc_id",
      textCol: String = "text",
      vecIdCol: String = "vec_id",
      vecCol: String = "embedding",
      qidCol: String = "qid",
      termCol: String = "term"
  ): DataFrame = {
    val lex = bm25TopK(docs, queryTerms, k = poolK, maxDfFrac = maxDfFrac,
      idCol = docIdCol, textCol = textCol, qidCol = qidCol, termCol = termCol)
      .select(col(qidCol), col(docIdCol), col("rnk").as("lex_rnk"))
    val vec = Similarity.bruteForceRanked(embeddings, queryVecs, poolK, vecIdCol, vecCol)
      .select(col("q_id").as(qidCol), col("neighbor_id").as(docIdCol),
        col("rank").as("vec_rnk"))
    val contrib = (c: String) => coalesce(
      expr(s"CAST(1000000 AS BIGINT) DIV (CAST($rrfK AS BIGINT) + CAST($c AS BIGINT))"),
      lit(0L))
    val fused = lex.join(vec, Seq(qidCol, docIdCol), "full_outer")
      .select(col(qidCol), col(docIdCol),
        (contrib("lex_rnk") + contrib("vec_rnk")).as("rrf_scaled"))
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("rrf_scaled").desc, col(docIdCol))
    fused.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(qidCol, docIdCol, "rnk", "rrf_scaled")
  }
}
