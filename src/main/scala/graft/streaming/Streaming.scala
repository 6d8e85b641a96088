package graft.streaming

import graft.core._
import graft.operators.Commit
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Streaming surface — the unbounded half of the reference's source model
  * ("a source can also generate items indefinitely, then the pipeline will
  * never end", reference docs/usage.rst:27). Structured Streaming gives the
  * unified batch/stream API the reference lacks, plus the event-time
  * semantics it has none of (SURVEY.md §2.2 streaming row): watermarks,
  * tumbling/sliding/session windows, stateful dedup.
  *
  * The typed Pipeline (graft.core) composes with streaming directly: its
  * stages are `mapPartitions` transforms, legal on streaming Datasets, so
  * one stage chain compiles to both bounded and unbounded execution.
  */
object Streaming {

  /** Apply a typed pipeline's stage semantics on a streaming Dataset —
    * same StageRunner harness, same error columns. */
  def throughPipeline[T](stream: Dataset[T], pipeline: Pipeline[T])(
      implicit enc: Encoder[Tracked[T]]): Dataset[Tracked[T]] =
    pipeline.setSource(stream).build()

  /** Tumbling/sliding event-time aggregation with a watermark: late data
    * beyond `lateness` is dropped by the engine. */
  def windowedCounts(
      events: DataFrame,
      tsCol: String,
      windowLen: String,
      slide: Option[String] = None,
      lateness: String = "10 minutes",
      keys: Seq[String] = Seq("event_type")
  ): DataFrame = {
    val win = slide match {
      case Some(s) => window(col(tsCol), windowLen, s)
      case None => window(col(tsCol), windowLen)
    }
    events.withWatermark(tsCol, lateness)
      .groupBy(win +: keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
  }

  /** Event-time session windows (gap-based), the streaming-native analog of
    * the batch gaps-and-islands sessionization (q27_sessionize). */
  def sessionCounts(
      events: DataFrame,
      tsCol: String,
      gap: String = "30 minutes",
      lateness: String = "10 minutes"
  ): DataFrame =
    events.withWatermark(tsCol, lateness)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** Streaming exact dedup with bounded state: duplicates dropped within the
    * watermark horizon — the streaming face of Dedup.exact. */
  def dedupStream(events: DataFrame, tsCol: String, keyCols: Seq[String],
      lateness: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming burst dedup — the streaming form of the x13 batch query:
    * within each key's stream, an event survives only if it arrives more
    * than `gapUs` after the key's PREVIOUS event (rolling gap, so a burst
    * chain longer than the gap still collapses to its head — the semantics
    * `dropDuplicatesWithinWatermark` approximates but does not match: that
    * expires state at a fixed delay from the FIRST event, re-admitting a
    * chain's interior). State per key is ONE long (last event-time micros).
    *
    * Rows inside a micro-batch are processed in (ts, event_id) order;
    * cross-batch correctness relies on per-key event-time-ordered arrival
    * (the usual replay / log-compaction feed). Over any such stream the
    * emitted set equals the batch gaps-and-islands answer on the same
    * events — spec-asserted against x13 on the testdata events table. */
  def burstDedupStream(
      events: Dataset[(Long, Long, Long)], // (event_id, key, ts_us)
      gapUs: Long
  )(implicit outEnc: Encoder[(Long, Long, Long)],
      stateEnc: Encoder[Long]): Dataset[(Long, Long, Long)] =
    events.groupByKey(_._2)
      .flatMapGroupsWithState[Long, (Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state: GroupState[Long]) =>
          val ordered = rows.toVector.sortBy(e => (e._3, e._1))
          var last = state.getOption
          val out = ordered.filter { e =>
            val keep = last.forall(l => e._3 - l > gapUs)
            last = Some(e._3)
            keep
          }
          last.foreach(state.update)
          out.iterator
      }

  /** [[burstDedupStream]] on Spark 4's `transformWithState` — the current
    * arbitrary-state API (SPARK-46815; `flatMapGroupsWithState` is the
    * legacy surface). Same semantics, same ONE-long-per-key state, spec-
    * asserted to emit the identical row set as both the fMGWS variant and
    * the x13 batch answer. Differences that matter at scale: typed state
    * handles (`ValueState` here; List/Map state for richer operators),
    * per-state TTL without timer bookkeeping, and schema-evolvable state —
    * all on the RocksDB changelog store, which the API requires
    * (`spark.sql.streaming.stateStore.providerClass` must be
    * RocksDBStateStoreProvider; the spec sets it per-query). */
  def burstDedupStreamTws(
      events: Dataset[(Long, Long, Long)], // (event_id, key, ts_us)
      gapUs: Long
  )(implicit outEnc: Encoder[(Long, Long, Long)],
      keyEnc: Encoder[Long]): Dataset[(Long, Long, Long)] =
    events.groupByKey(_._2)
      .transformWithState(new BurstDedupProcessor(gapUs),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())

  /** The [[burstDedupStreamTws]] StatefulProcessor: keeps the key's last
    * event-time (micros) in a ValueState; an input row survives only if it
    * arrives more than `gapUs` after it. Rows inside a micro-batch are
    * (ts, event_id)-ordered exactly like the fMGWS variant. */
  private[streaming] class BurstDedupProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long), (Long, Long, Long)] {
    @transient private var lastTs: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      lastTs = getHandle.getValueState[Long]("lastTs",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long)] = {
      val ordered = rows.toVector.sortBy(e => (e._3, e._1))
      var last = if (lastTs.exists()) Some(lastTs.get()) else None
      val out = ordered.filter { e =>
        val keep = last.forall(l => e._3 - l > gapUs)
        last = Some(e._3)
        keep
      }
      last.foreach(lastTs.update)
      out.iterator
    }
  }

  /** Burst dedup on the ENGINE-NATIVE stateful primitive,
    * `dropDuplicatesWithinWatermark` — the third member of the family
    * next to [[burstDedupStream]] (fMGWS) and [[burstDedupStreamTws]]
    * (transformWithState). Zero custom state code: Spark's own dedup
    * operator keys on `user_id` with the gap as the watermark delay.
    *
    * SEMANTICS DIFFER from the rolling-gap x13 contract, deliberately
    * documented rather than papered over (r10 verdict item 7):
    *  - dDWW keeps the FIRST event per key and drops later ones while
    *    that first event's state lives (state expires at
    *    firstKept.ts + gap, relative to the event-time watermark) —
    *    "first-in-watermark-window";
    *  - the rolling-gap operators drop an event if it is within `gap` of
    *    the PREVIOUS event (kept or not) — "first-of-gap-run".
    * Consequences, both directions (spec-asserted on a hand-built
    * stream): a chain a, a+5h, a+10h at gap 6h emits {a, a+10h} here
    * (state expired before a+10h) but {a} under x13; and b, b+8h emits
    * {b} here when the watermark has not yet passed b+6h (state still
    * live) but {b, b+8h} under x13 (gap 8h > 6h). dDWW's window is also
    * WATERMARK-relative: a kept event's state can only expire once some
    * event advances the global watermark past its expiry — re-admission
    * time depends on stream progress, not only on the key's own gaps.
    *
    * Use this form when "suppress repeats of a key for ~gap time" is the
    * actual requirement (alert throttling, idempotency windows) — it is
    * the cheapest and the only one that needs no user state code; use the
    * rolling-gap operators when the batch x13 answer must be reproduced. */
  def burstDedupStreamNative(
      events: Dataset[(Long, Long, Long)], // (event_id, key, ts_us)
      gapUs: Long
  ): DataFrame =
    events.toDF("event_id", "user_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", s"$gapUs microseconds")
      .dropDuplicatesWithinWatermark("user_id")
      .select("event_id", "user_id", "ts_us")

  /** Streaming MinHash-LSH near-duplicate CANDIDATE pairs: documents are
    * shingled, signed, and banded with exactly the batch expressions
    * ([[graft.operators.Dedup.minhashSigCol]] / `bandBucketsCol`), and
    * per-(band,bucket) state holds the doc ids seen so far — a new arrival
    * emits one `(a_id, b_id)` candidate (a < b) per prior bucket member.
    * Over any stream prefix the DISTINCT emitted pair set equals the batch
    * `minhashPairs` candidate set on the same documents (spec-asserted);
    * verification (exact Jaccard) joins each candidate back to a shingle
    * store, exactly as in batch.
    *
    * This is the production shape for corpus growth: a new day's documents
    * LSH-join against all history without re-banding it — the state store
    * IS the bucket-membership table the batch job rebuilds every run. At
    * scale, run on the RocksDB state store provider; the per-bucket member
    * list is bounded by bucket size, the same quantity that bounds the
    * batch job's per-bucket pair fan-out.
    *
    * Pairs can repeat across bands and batches (the batch path dedups with
    * one shuffle; a stream can't globally dedup unbounded output) —
    * downstream consumers treat candidates as a set. */
  def lshCandidatesStream(
      docs: DataFrame,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleK: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): Dataset[(Long, Long)] = {
    import graft.operators.Dedup
    val spark = docs.sparkSession
    import spark.implicits._
    val banded = Dedup.shingleSets(docs, shingleK, idCol, textCol)
      .withColumn("sig", Dedup.minhashSigCol(numHashes, portableHash = false))
      .select(col("doc_id"),
        posexplode(Dedup.bandBucketsCol(numHashes, bands, portableHash = false)))
      .select(concat_ws(":", col("pos"), col("col")).as("bkey"),
        col("doc_id").cast("long").as("doc_id"))
      .as[(String, Long)]
    banded.groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state: GroupState[Array[Long]]) =>
          val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
          state.getOption.foreach(seen ++= _)
          val known = scala.collection.mutable.HashSet(seen.toSeq: _*)
          val out = List.newBuilder[(Long, Long)]
          // ascending-id arrival inside a batch keeps emission deterministic
          rows.map(_._2).toSeq.sorted.foreach { id =>
            if (!known.contains(id)) {
              seen.foreach(s => out += (if (s < id) (s, id) else (id, s)))
              seen += id
              known += id
            }
          }
          state.update(seen.toArray)
          out.result().iterator
      }
  }

  /** Streaming ingest-time near-dup against a STORED LSH index: each
    * micro-batch of new documents runs the batch
    * [[graft.operators.Dedup.incrementalNeardupPairs]] plan against the
    * static `(band, bucket)` / shingle-set tables a
    * [[graft.operators.Dedup.lshIndex]] build persisted — the production
    * shape where a corpus grows continuously and history is never
    * re-banded ([[lshCandidatesStream]] is the within-stream complement;
    * this is the stream-vs-history half). Because candidates only ever
    * cross batch→history, the union of per-batch outputs over any stream
    * prefix EQUALS the batch answer on the union of those batches
    * (spec-asserted on the real documents table) — micro-batch size is a
    * latency knob, not a semantics knob.
    *
    * Static-side tables are read once per micro-batch from whatever the
    * caller passes (cache them for a long-running stream); the per-batch
    * signature cache the batch plan persists is released after `onPairs`
    * returns, so a long-running stream holds no growing executor state —
    * history lives on disk, not in the state store. */
  def incrementalNeardupStream(
      newDocs: DataFrame,
      historyBands: DataFrame,
      historyShingles: DataFrame,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleK: Int = 3,
      threshold: Double = 0.5,
      idCol: String = "doc_id",
      textCol: String = "text",
      portableHash: Boolean = false,
      trigger: Trigger = Trigger.AvailableNow())(
      onPairs: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    foreachBatchSink(newDocs, trigger) { (batch, id) =>
      val (pairs, sig) = graft.operators.Dedup.incrementalNeardupPairsImpl(
        batch, historyBands, historyShingles, numHashes, bands, shingleK,
        threshold, idCol, textCol, portableHash)
      try onPairs(pairs, id)
      finally sig.unpersist()
    }

  /** Continuous BM25 search: a STREAM of query terms served against a
    * stored [[graft.operators.Retrieval.bm25Index]] — the production
    * retrieval-service shape (index built at ingest, queries arrive
    * forever). Each micro-batch runs the indexed search plan: postings
    * broadcast-filtered by the batch's vocabulary, so per-batch cost is
    * ∝ matched postings, and NO executor state or cache accrues across
    * batches (the index lives on disk; the search path persists
    * nothing). Because the index is static and queries score
    * independently, the union of per-batch outputs over any stream
    * prefix EQUALS the batch [[graft.operators.Retrieval.bm25TopK]]
    * answer on the union of those query batches — spec-asserted. */
  def bm25SearchStream(
      queryStream: DataFrame,
      postings: DataFrame,
      dfT: DataFrame,
      stats: DataFrame,
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      maxDfFrac: Double = 1.0,
      idCol: String = "doc_id",
      qidCol: String = "qid",
      termCol: String = "term",
      trigger: Trigger = Trigger.AvailableNow())(
      onResults: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    foreachBatchSink(queryStream, trigger) { (batch, id) =>
      onResults(graft.operators.Retrieval.bm25SearchIndexed(
        postings, dfT, stats, batch, k, k1, b, maxDfFrac,
        idCol, qidCol, termCol), id)
    }

  /** Continuous ANN serving: a STREAM of query vectors served against a
    * stored [[graft.operators.VectorIndex]] — the vector twin of
    * [[bm25SearchStream]] (index built once at ingest, queries arrive
    * forever, the corpus table is never touched). Each micro-batch
    * replays the stored-index IVFADC search (centroid probes → ADC
    * shortlist in probed cells → constant-size exact re-rank), so
    * per-query work is corpus-size independent and NO executor state
    * accrues across batches. The index is static and queries score
    * independently, so the union of per-batch outputs over any stream
    * prefix EQUALS one batch [[graft.operators.VectorIndex.search]] over
    * the union of those query batches — spec-asserted. Pair with
    * [[graft.operators.VectorIndex.appendBatch]] on the ingest side for
    * the full serve-while-ingesting loop (appends encode with the frozen
    * stored fits, so running queries never see a codebook change). */
  def annSearchStream(
      queryStream: DataFrame,
      indexPath: String,
      k: Int = 3,
      nProbe: Int = 0,
      refine: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      trigger: Trigger = Trigger.AvailableNow())(
      onResults: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] = {
    // the index is frozen by design: pay the params head(), codebook
    // collect, and parquet listing ONCE, not per micro-batch
    val idx = graft.operators.VectorIndex.load(
      queryStream.sparkSession, indexPath)
    foreachBatchSink(queryStream, trigger) { (batch, id) =>
      onResults(graft.operators.VectorIndex.searchLoaded(
        batch, idx, k, nProbe, refine, idCol, vecCol), id)
    }
  }

  /** Continuous interval matching: a STREAM of interval rows (sessions,
    * spans, windows) overlap-joined per micro-batch against a STATIC
    * interval table (maintenance windows, incident ranges, embargo
    * periods) — the temporal member of the stream-against-stored-artifact
    * family ([[incrementalNeardupStream]], [[bm25SearchStream]],
    * [[annSearchStream]]). Each batch runs the grid-bucketed
    * [[graft.operators.IntervalJoin.overlapJoin]] plan (equi-join on
    * key + time-bucket, exactly-once claim, any Allen `mode`); rows match
    * independently against the static side, so the union of per-batch
    * outputs over any stream prefix EQUALS one batch overlapJoin over the
    * union of those batches — spec-asserted. Spark's native stream-stream
    * interval join (s04) covers the two-moving-sides case; this covers the
    * common one-frozen-side case without watermark state. */
  def overlapJoinStream(
      intervalStream: DataFrame,
      staticIntervals: DataFrame,
      keys: Seq[String],
      leftStart: String,
      leftEnd: String,
      rightStart: String,
      rightEnd: String,
      bucketWidth: Long,
      mode: String = "overlaps",
      trigger: Trigger = Trigger.AvailableNow())(
      onMatches: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    foreachBatchSink(intervalStream, trigger) { (batch, id) =>
      onMatches(graft.operators.IntervalJoin.overlapJoin(
        batch, staticIntervals, keys,
        leftStart, leftEnd, rightStart, rightEnd, bucketWidth, mode), id)
    }

  /** Ingest-time curation gating: [[graft.operators.Curation.gate]]
    * applied DIRECTLY to an unbounded document stream. No foreachBatch
    * indirection is needed — the gate is stateless scan-local narrow ops
    * (zero shuffles/joins/aggregations), which Structured Streaming
    * executes incrementally as-is: no watermark, no state store, nothing
    * accrues across micro-batches, and each doc's verdict is identical to
    * the batch d38 answer by construction (same expression tree). This is
    * the degenerate — and cheapest — member of the
    * stream-against-stored-artifact family: the "artifact" is just the
    * expression constants, so exactly-once comes free with any idempotent
    * sink. */
  def curationGateStream(
      docStream: DataFrame,
      idCol: String = "doc_id",
      langCol: String = "lang",
      textCol: String = "text"
  ): DataFrame =
    graft.operators.Curation.gate(docStream, idCol, langCol, textCol)

  /** Continuous distribution-drift monitoring: each micro-batch of a value
    * stream is sketched (one pass, no state store) and its quantiles are
    * gated against a STORED reference sketch
    * ([[graft.operators.Drift.writeReferenceSketch]]) — the distribution
    * member of the stream-against-stored-artifact family
    * ([[incrementalNeardupStream]], [[bm25SearchStream]],
    * [[annSearchStream]], [[overlapJoinStream]]). The artifact is loaded
    * ONCE (driver-side head() of a few-KB parquet row), each batch pays
    * only its own scan + a single-row aggregate, and nothing accrues
    * across batches. Batches are judged independently, so per-batch
    * verdicts match running [[graft.operators.Drift.driftVerdicts]] on the
    * same slice in batch mode. */
  def quantileDriftStream(
      valueStream: DataFrame,
      referencePath: String,
      probs: Seq[Double] = Seq(0.5, 0.95),
      tolerance: Double = 0.1,
      valueCol: String = "value",
      trigger: Trigger = Trigger.AvailableNow())(
      onVerdicts: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] = {
    val ref = graft.operators.Drift.loadReferenceSketch(
      valueStream.sparkSession, referencePath)
    foreachBatchSink(valueStream, trigger) { (batch, id) =>
      onVerdicts(graft.operators.Drift.driftVerdicts(
        batch, ref, probs, tolerance, valueCol), id)
    }
  }

  /** Continuous CATEGORICAL-drift gating — [[quantileDriftStream]]'s
    * sibling for label/language/priority columns, closing the stored-
    * artifact candidate x26's scaladoc states: the reference category
    * distribution is persisted ONCE
    * ([[graft.operators.Drift.writeCategoricalReference]], a
    * |categories|-row KB table), loaded once at stream start, and every
    * micro-batch's per-group TVD verdict is computed against it by
    * [[graft.operators.Drift.categoricalDriftAgainst]] — the reference
    * is never rescanned and there is no cross-batch state (each batch
    * is its own distribution; TVD is not batch-decomposable, so the
    * semantics ARE per-batch by design — the verdict answers "did THIS
    * batch drift", which is the admission question). Stateless
    * foreachBatch: batch-mode and stream-mode verdicts for the same
    * rows are identical, spec-asserted. */
  def categoricalDriftStream(
      curStream: DataFrame,
      referencePath: String,
      catCol: String,
      groupCol: String,
      driftMillionths: Long = 20000L,
      trigger: Trigger = Trigger.AvailableNow())(
      onVerdicts: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] = {
    // PINNED at stream start: spark.read.parquet is lazy, so handing the
    // raw frame to foreachBatch would re-scan the reference every
    // micro-batch — and a mid-stream rewrite of the file would silently
    // change verdict semantics. Collect-and-recreate (the table is
    // |categories|-row KB-scale by the writeCategoricalReference
    // contract) fixes both: one read, one immutable snapshot.
    val spark = curStream.sparkSession
    val raw = spark.read.parquet(referencePath)
    val refCounts = spark.createDataFrame(raw.collectAsList(), raw.schema)
    foreachBatchSink(curStream, trigger) { (batch, id) =>
      onVerdicts(graft.operators.Drift.categoricalDriftAgainst(
        refCounts, batch, catCol, groupCol, driftMillionths), id)
    }
  }

  /** Custom per-key running state via mapGroupsWithState: running count +
    * sum per key. NOTE: mapGroupsWithState/flatMapGroupsWithState are the
    * legacy arbitrary-state API — [[runningStatsTws]] is the
    * transformWithState version you'd ship on Spark 4.x (composite state,
    * timers, TTL, initial state); this one is kept as the
    * compatibility template for pre-4.0 clusters. */
  def runningStats[K: Encoder](
      events: Dataset[(K, Double)]
  )(implicit enc: Encoder[(K, Long, Double)],
      stateEnc: Encoder[(Long, Double)]): Dataset[(K, Long, Double)] =
    events.groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), (K, Long, Double)](
        GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var s = s0
          rows.foreach { r => n += 1; s += r._2 }
          state.update((n, s))
          (key, n, s)
      }

  /** [[StatefulProcessor]] for per-key running (count, sum) — the
    * transformWithState re-expression of [[runningStats]]. State lives in a
    * named [[org.apache.spark.sql.streaming.ValueState]] slot on the
    * processor handle (RocksDB-backed per key at scale), so one processor
    * can compose several typed state variables, register timers, and attach
    * TTLs — none of which mapGroupsWithState can express. */
  final class RunningStatsProcessor[K]
      extends org.apache.spark.sql.streaming.StatefulProcessor[K, (K, Double), (K, Long, Double)] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[(Long, Double)]("stats",
        org.apache.spark.sql.Encoders.product[(Long, Double)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: K, rows: Iterator[(K, Double)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[(K, Long, Double)] = {
      val (n0, s0) = if (state.exists()) state.get() else (0L, 0.0)
      var n = n0; var s = s0
      rows.foreach { r => n += 1; s += r._2 }
      state.update((n, s))
      Iterator.single((key, n, s))
    }
  }

  /** Running per-key count + sum via transformWithState — the Spark 4.x
    * arbitrary-stateful path (see [[RunningStatsProcessor]]). Semantics
    * match [[runningStats]]; specs assert parity. */
  def runningStatsTws[K: Encoder](
      events: Dataset[(K, Double)]
  )(implicit enc: Encoder[(K, Long, Double)]): Dataset[(K, Long, Double)] =
    events.groupByKey(_._1)
      .transformWithState(new RunningStatsProcessor[K],
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())

  /** Per-key sessionized event counting via flatMapGroupsWithState with a
    * processing-time timeout: emits a (key, count) record when a key's
    * session times out — the arbitrary-stateful template beyond
    * mapGroupsWithState's one-row-per-batch shape. */
  def sessionizeWithState[K: Encoder](
      events: Dataset[(K, Double)],
      timeout: org.apache.spark.sql.streaming.GroupStateTimeout =
        GroupStateTimeout.NoTimeout()
  )(implicit enc: Encoder[(K, Long)],
      stateEnc: Encoder[Long]): Dataset[(K, Long)] =
    events.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (K, Long)](
        OutputMode.Append(), timeout) {
        case (key, rows, state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          Iterator((key, n))
      }

  /** Watermarked stream-stream inner join: each side keeps only the state
    * the watermark + time-range condition require, so state is bounded —
    * the streaming analog of the batched lookup-enrichment pattern
    * (reference O24) when both sides are live. */
  /** Watermarked stream-stream interval join. `joinType` "inner" (the
    * default), "left_outer", "right_outer", or "full_outer" — the outer
    * forms are the conversion-funnel shapes ("clicks WITHOUT a purchase
    * within 15 minutes" — the unmatched rows ARE the signal; the full
    * form additionally surfaces purchases with no preceding click, the
    * attribution-gap rows): Spark emits a null-padded row once the
    * watermark proves no match can still arrive, which is exactly why
    * BOTH sides must be watermarked and the join condition time-bounded
    * (unbounded outer state would never discharge). On bounded input the
    * watermarks are no-ops and the result equals the plain batch join
    * with the same predicate — the batch-verified contract s04/s05/s06
    * pin.
    *
    * Column-selection discipline (the bug class s05 surfaced, most
    * dangerous in the full form where EITHER side can be the null-padded
    * one): the join keeps both sides' key columns, and a bare
    * `drop(r(key))` can resolve to either duplicate — indistinguishable
    * on an inner join (keys equal) but an outer join's unmatched rows
    * would surface a null key. Left/inner forms keep the LEFT key
    * explicitly; right/full forms COALESCE the two (the only column
    * that is non-null on every row class). */
  def streamStreamJoin(
      left: DataFrame, right: DataFrame,
      leftTs: String, rightTs: String,
      key: String,
      lateness: String = "10 minutes",
      maxDelay: String = "15 minutes",
      joinType: String = "inner"
  ): DataFrame = {
    val l = left.withWatermark(leftTs, lateness)
    val rightPadded = joinType match {
      case "right_outer" | "rightouter" | "full_outer" | "fullouter" |
           "full" | "outer" => true
      case _ => false
    }
    if (!rightPadded) {
      val r = right.withWatermark(rightTs, lateness)
      val joined = l.join(r,
        l(key) === r(key) &&
          r(rightTs) >= l(leftTs) &&
          r(rightTs) <= l(leftTs) + expr(s"INTERVAL $maxDelay"),
        joinType)
      joined.select(
        (l.columns.map(l(_)) ++ r.columns.filterNot(_ == key).map(r(_)))
          .toIndexedSeq: _*)
    } else {
      // right/full outer: EVERY right column is RENAMED before the join
      // (then renamed back in the select) so the post-join references are
      // single-occurrence names — dataset-id disambiguation (l(key)/
      // r(key)) breaks down when both sides derive from the same source
      // (the batch-verified funnel query is exactly that self-join), and
      // renaming only the key would still leave any SHARED non-key name
      // (two sides both carrying "ts") ambiguous. Rename-then-watermark:
      // the watermark must attach to the renamed event-time column.
      def rn(c: String) = s"__graft_r_$c"
      val r = right
        .select(right.columns.map(c => col(c).as(rn(c))).toIndexedSeq: _*)
        .withWatermark(rn(rightTs), lateness)
      val joined = l.join(r,
        l(key) === col(rn(key)) &&
          col(rn(rightTs)) >= l(leftTs) &&
          col(rn(rightTs)) <= l(leftTs) + expr(s"INTERVAL $maxDelay"),
        joinType)
      // same column ORDER as the inner/left branch (left columns in
      // place, key coalesced in its original position, right non-key
      // columns after) so switching joinType never moves positions
      val outCols = left.columns.map { c =>
        if (c == key) coalesce(l(key), col(rn(key))).as(key) else l(c)
      } ++ right.columns.filterNot(_ == key).map(c => col(rn(c)).as(c))
      joined.select(outCols.toIndexedSeq: _*)
    }
  }

  /** Rate-limited file stream — the engine's backpressure knob (reference:
    * bounded queues with blocking put, MAX_QUEUES_SIZE=1000,
    * defaults.py:5 / pipeline.py:118-132). Spark's analog is source-side
    * admission control: at most `maxFilesPerTrigger` files enter each
    * micro-batch, so downstream stages never build unbounded backlog. */
  def rateLimitedFileStream(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType,
      format: String = "parquet",
      maxFilesPerTrigger: Int = 1
  ): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .format(format).load(path)

  /** Start a stream into an in-memory sink table (local smoke path). */
  def toMemorySink(df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Append()): StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode(mode).start()

  /** Micro-batch push sink: the streaming analog of the reference's
    * per-item sinks; `fn` sees each micro-batch as a DataFrame. */
  def foreachBatchSink(df: DataFrame, trigger: Trigger = Trigger.AvailableNow())(
      fn: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.trigger(trigger).foreachBatch(fn)

  /** Exactly-once wrapper for custom micro-batch sinks. Spark's own file
    * sinks are exactly-once (checkpointed offsets + idempotent commits), but
    * a foreachBatch sink (the ES-style push path) is only at-least-once: if
    * the process dies AFTER `fn` commits batch N to the external system but
    * BEFORE the checkpoint records it, restart re-delivers batch N.
    *
    * This wrapper closes that window with a sink-side commit manifest: the
    * replay ledger of the state sinks ([[applyStateBatch]]), committed
    * under `manifestDir/current` only after `fn` returns. Batch ids are
    * monotone within one checkpoint, so a re-delivered batch is one whose
    * id is at or below the ledger's, and it is skipped. One manifest
    * therefore serves one checkpoint.
    * `fn` itself may still run more than once for a batch that FAILED
    * mid-write (the ledger only demotes re-delivery of COMMITTED batches),
    * so `fn`'s writes should target an idempotent key when the external
    * system allows it — same contract the reference's ES sink gets from
    * document-id upserts (reference examples/dump_es_ids.py:43-80).
    *
    * `manifestDir` must live next to the external sink's data (same
    * durability domain), NOT inside the Spark checkpoint dir. */
  def idempotentForeachBatchSink(
      df: DataFrame,
      manifestDir: String,
      trigger: Trigger = Trigger.AvailableNow())(
      fn: (DataFrame, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    foreachBatchSink(df, trigger)(applyMarkedBatch(_, _, manifestDir)(fn))

  /** One micro-batch of [[idempotentForeachBatchSink]], factored out so
    * replay semantics are directly testable. Returns true when `fn` ran,
    * false when the ledger showed the batch already committed. */
  private[graft] def applyMarkedBatch(batch: DataFrame, id: Long,
      manifestDir: String)(fn: (DataFrame, Long) => Unit): Boolean =
    applyStateBatch(batch, manifestDir, id)((_, _) => fn(batch, id))

  private def pathExists(spark: SparkSession, path: String): Boolean =
    Commit.fs(spark, path).exists(new org.apache.hadoop.fs.Path(path))

  /** Streaming UPSERT sink: each micro-batch MERGEs into a partitioned
    * parquet table through [[graft.operators.Merge.upsert]] — the
    * CDC-stream-to-table pattern (what `MERGE INTO` under a streaming
    * `foreachBatch` does on a Delta/Iceberg table, on plain directories).
    *
    * Exactly-once WITHOUT a manifest: Merge.upsert is idempotent by key
    * (re-applying a batch replaces the same rows with the same rows), so
    * a replayed micro-batch after a crash converges instead of
    * duplicating — the key-based complement of
    * [[idempotentForeachBatchSink]]'s replay ledger, with the stronger
    * property that it also dedups ACROSS batches: a key updated in batch
    * 3 and again in batch 7 holds batch 7's row, not two rows.
    * Cost per batch is |touched partitions|, never |table| — the batch
    * must carry its partition columns (stable row properties: event date,
    * language). Within a batch, keys must be unique (dedup upstream —
    * `dropDuplicates(keyCols)` — or two same-key rows both insert). */
  def mergeUpsertSink(
      df: DataFrame,
      tablePath: String,
      keyCols: Seq[String],
      partCols: Seq[String],
      trigger: Trigger = Trigger.AvailableNow()
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    validatedMergeUpsertSink(df, tablePath, keyCols, partCols,
      expectations = Seq.empty, quarantinePath = "", trigger = trigger)

  /** [[mergeUpsertSink]] with an ADMISSION gate: each micro-batch must
    * pass the [[graft.operators.Expectations]] suite before it may merge;
    * a failing batch is written UNCHANGED to `quarantinePath/batch-<id>`
    * (with its violation report beside it as JSONL, `batch-<id>.report`,
    * each committed whole, so a redelivered batch lands once) and the
    * curated table stays untouched — a poisoned upstream batch
    * quarantines instead of polluting every downstream consumer. The gate
    * costs one aggregate over the batch being processed anyway.
    * Re-admission is a replay of the quarantined files through the same
    * sink once the contract or the data is fixed. */
  def validatedMergeUpsertSink(
      df: DataFrame,
      tablePath: String,
      keyCols: Seq[String],
      partCols: Seq[String],
      expectations: Seq[graft.operators.Expectations.Expectation],
      quarantinePath: String,
      trigger: Trigger = Trigger.AvailableNow()
  ): DataStreamWriter[org.apache.spark.sql.Row] = {
    require(expectations.isEmpty || quarantinePath.nonEmpty,
      "a gated sink needs a quarantinePath for failing batches")
    foreachBatchSink(df, trigger) { (batch, id) =>
      val spark = batch.sparkSession
      val admitted = expectations.isEmpty ||
        graft.operators.Expectations.passes(batch, expectations)
      if (!admitted) {
        Commit.replace(spark, s"$quarantinePath/batch-$id")(batch.write.parquet(_))
        Commit.replace(spark, s"$quarantinePath/batch-$id.report")(
          graft.operators.Expectations.check(batch, expectations)
            .filter(!col("passed")).write.json(_))
      } else if (!pathExists(spark, tablePath)) {
        // first admitted batch bootstraps the table (Merge needs a target)
        Commit.replace(spark, tablePath)(
          batch.write.partitionBy(partCols: _*).parquet(_))
      } else graft.operators.Merge.upsert(spark, tablePath, batch, keyCols, partCols)
    }
  }

  /** Streaming SCD Type-2 sink — the DIMENSION-side member of the
    * CDC-consumer family ([[mergeUpsertSink]] keeps only the latest row;
    * this one keeps the full attribute history via
    * [[graft.operators.Scd.applyChanges]]): each micro-batch of dimension
    * rows is applied at version `baseVersion + batchId`, closing changed
    * keys' open versions and opening new ones. Batch ids are monotone per
    * checkpoint, so versions are monotone without any wall-clock read —
    * the artifact stays retry/engine-deterministic.
    *
    * Exactly-once via Scd's own idempotence: a crash-replayed committed
    * batch re-applies the SAME rows at the SAME version, change detection
    * finds nothing different, and the apply is a detected no-op — no
    * duplicate versions, no manifest needed.
    *
    * A CDC batch may carry several updates for one key; SCD2 can only
    * open one version per key per apply, so the batch is first reduced to
    * its latest row per key by `seqCol` (strictly increasing per key —
    * the CDC sequence number; ties would make the reduction
    * nondeterministic, so ship real sequence numbers). `seqCol` is
    * dropped before the apply: it orders the feed, it is not a dimension
    * attribute. */
  def scdSink(
      df: DataFrame,
      tablePath: String,
      keyCols: Seq[String],
      seqCol: String,
      baseVersion: Long = 1000L,
      trigger: Trigger = Trigger.AvailableNow()
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    foreachBatchSink(df, trigger) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*).orderBy(col(seqCol).desc)
        val latest = batch
          .withColumn("__graft_rk", row_number().over(w))
          .filter(col("__graft_rk") === 1)
          .drop("__graft_rk", seqCol)
        graft.operators.Scd.applyChanges(batch.sparkSession, tablePath,
          latest, keyCols, version = baseVersion + batchId)
      }
    }

  /** Stream-maintained πps SAMPLE artifact — the streaming counterpart of
    * `Curation.ppsSample` (d49): the sample rides the ingest, so "give me
    * a size-biased sample of everything ingested so far" is a KB-scale
    * artifact read, never a corpus rescan. Because priorities are pure
    * hash functions of (salt, id, size), bottom-k is associative, and
    * re-delivered rows recompute identical priorities, the stored sample
    * after ANY prefix of batches equals the batch-mode draw over those
    * batches' distinct docs — arrival order, batch boundaries, and
    * re-deliveries cannot change it (spec-pinned).
    *
    * Artifact layout: `path/current/sample` (the bottom-k priority rows)
    * and `path/current/stats` (1 row: running token total + doc count),
    * committed together with the replay ledger as one directory
    * ([[applyStateBatch]]). The token total accumulates per BATCH, so it
    * is guarded by the batch id — a crash-replayed committed batch is
    * detected and skipped whole, the standard idempotent-foreachBatch
    * recipe. Per batch: one batch scan (its own bottom-k pre-cut), a
    * k+k-row merge, one KB-scale commit. Read the weighted sample back
    * with [[storedPpsSample]]. */
  def ppsSampleSink(
      docs: DataFrame,
      path: String,
      k: Int,
      salt: String = "",
      trigger: Trigger = Trigger.AvailableNow()
  ): DataStreamWriter[org.apache.spark.sql.Row] = {
    require(k >= 1, s"k must be >= 1, got $k")
    foreachBatchSink(docs, trigger)(applyPpsBatch(_, path, k, salt, _))
  }

  /** One micro-batch of [[ppsSampleSink]], factored out so replay
    * semantics are directly testable. Returns true when the batch was
    * applied, false when it was recognized as already-committed. */
  private[graft] def applyPpsBatch(
      batch: DataFrame, path: String, k: Int, salt: String,
      batchId: Long): Boolean =
    applyStateBatch(batch, path, batchId) { (previous, staged) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val pri = graft.operators.Curation
        .ppsPriorities(batch, "doc_id", "text", salt)
        .persist()
      try {
        // batch-side aggregates land on the driver as scalars — the stats
        // row is built from values, never from a plan that reads its own path
        val agg = pri.agg(
          coalesce(sum(col("n_words")), lit(0L)).as("w"),
          count(lit(1)).as("n")).head()
        val cand = pri.orderBy(col("priority"), col("doc_id")).limit(k)
        val (sample, oldW, oldN) = previous.fold((cand, 0L, 0L)) { dir =>
          val r = spark.read.parquet(s"$dir/stats").head()
          (spark.read.parquet(s"$dir/sample").unionByName(cand)
            // a re-delivered doc recomputes the same priority (identical
            // rows); a MUTATED re-delivery keeps the smallest (priority,
            // size) deterministically rather than an arbitrary row
            .groupBy(col("doc_id"))
            .agg(min(struct(col("priority"), col("n_words"))).as("m"))
            .select(col("doc_id"), col("m.n_words").as("n_words"),
              col("m.priority").as("priority")),
            r.getAs[Long]("w_total"), r.getAs[Long]("n_docs"))
        }
        sample.orderBy(col("priority"), col("doc_id")).limit(k)
          .coalesce(1).write.parquet(s"$staged/sample")
        Seq((oldW + agg.getAs[Long]("w"), oldN + agg.getAs[Long]("n")))
          .toDF("w_total", "n_docs").coalesce(1).write.parquet(s"$staged/stats")
      } finally pri.unpersist()
    }

  /** The one replay ledger of the sinks that get Spark's monotone
    * `foreachBatch` ids: a file holding the last committed batch id,
    * beside the state it guards. */
  private val Ledger = "last_batch_id"

  /** The one apply of the replay-guarded sinks ([[ppsSampleSink]],
    * [[ewmaSink]], [[paretoSink]], [[idempotentForeachBatchSink]]):
    * recover `path/current`, read its ledger (a filesystem read, no Spark
    * job), and skip a replay — a batch id at or below the ledger's. A new
    * batch is one [[Commit.replace]] of `path/current`: `write` fills the
    * staged directory it is given, reading the previous committed
    * directory (None before the first batch), and the ledger is written
    * beside the state, so one rename commits both. The previous directory
    * stays in place until the staged write has finished, so the sink's
    * lazy fold may read it. Returns true when the batch was committed. */
  private def applyStateBatch(batch: DataFrame, path: String, batchId: Long)(
      write: (Option[String], String) => Unit): Boolean = {
    import org.apache.hadoop.fs.Path
    import java.nio.charset.StandardCharsets.UTF_8
    val spark = batch.sparkSession
    val dir = s"$path/current"
    Commit.recover(spark, dir)
    val ledger = new Path(dir, Ledger)
    val fs = Commit.fs(spark, dir)
    val last = if (!fs.exists(ledger)) None else {
      val in = fs.open(ledger)
      try Some(new String(in.readAllBytes(), UTF_8).trim.toLong) finally in.close()
    }
    if (last.exists(batchId <= _)) false // replay of a committed batch
    else {
      Commit.replace(spark, dir) { staged =>
        write(last.map(_ => dir), staged)
        val out = fs.create(new Path(staged, Ledger), true)
        try out.write(batchId.toString.getBytes(UTF_8)) finally out.close()
      }
      true
    }
  }

  /** The committed directory of a replay-guarded sink's artifact under
    * `path`, for its readers: `path/current`, or its aside mid-swap.
    * Fails naming `sink` and `path` when no batch was ever committed. */
  private def storedState(spark: SparkSession, sink: String, path: String): String = {
    val dir = Commit.resolve(spark, s"$path/current")
    if (!pathExists(spark, s"$dir/$Ledger"))
      throw new IllegalStateException(s"$sink: no batch committed under $path")
    dir
  }

  /** STREAM-MAINTAINED EWMA state — ts04's control chart as a continuously
    * updated artifact (`path/current/state`: one row per key,
    * (k, last_t, ewma)). Each micro-batch of (key, t, x) CELLS folds into
    * the stored level with the same integer fixed-point recurrence as
    * [[graft.operators.Ewma.smooth]], seeded per key by the stored ewma, so
    * stored-state-after-any-prefix ≡ the batch fold over the delivered
    * cells (spec-pinned across uneven batch boundaries) — PROVIDED cells
    * arrive in per-key time order, which is the contract: a cell at or
    * before the stored `last_t` is LATE by the artifact's own clock and is
    * dropped (watermark semantics re-expressed against stored state; an
    * EWMA is order-defined, so retro-inserting a day would require
    * refolding history — rebuild from the cell table if that happens,
    * stated). Replay is guarded by the replay ledger
    * ([[applyStateBatch]]): a crash-replayed committed batch is
    * recognized and skipped whole, so no cell ever double-folds.
    * Everything is |keys|-scale — the corpus-scale reduction to cells
    * happens upstream. */
  def ewmaSink(
      cells: DataFrame,
      path: String,
      keyCol: String,
      tCol: String,
      xCol: String,
      alphaPpm: Long = 250000L,
      trigger: Trigger = Trigger.AvailableNow()
  ): DataStreamWriter[org.apache.spark.sql.Row] = {
    require(alphaPpm > 0 && alphaPpm < 1000000L,
      s"alphaPpm must be in (0, 1e6), got $alphaPpm")
    foreachBatchSink(cells, trigger)(
      applyEwmaBatch(_, path, keyCol, tCol, xCol, alphaPpm, _))
  }

  /** One micro-batch of [[ewmaSink]], factored out so replay and
    * late-cell semantics are directly testable. Returns true when the
    * batch was applied, false when recognized as already-committed. */
  private[graft] def applyEwmaBatch(
      batch: DataFrame, path: String, keyCol: String, tCol: String,
      xCol: String, alphaPpm: Long, batchId: Long): Boolean =
    applyStateBatch(batch, path, batchId) { (previous, staged) =>
      val beta = 1000000L - alphaPpm
      val newCells = batch
        .select(col(keyCol).as("k"), col(tCol).as("t"), col(xCol).cast("long").as("x"))
        .groupBy("k", "t").agg(sum(col("x")).as("x"))
      val st = previous.fold(
        // typed empty frame: borrow the cell schema so k/t types always match
        newCells.select(col("k"), col("t").as("last_t"), col("x").as("ewma")).limit(0))(
        dir => batch.sparkSession.read.parquet(s"$dir/state"))
      val fresh = newCells.join(st, Seq("k"), "left")
        // late by the artifact's clock → dropped, stated in the scaladoc
        .filter(col("last_t").isNull || col("t") > col("last_t"))
      val folded = fresh
        .groupBy(col("k"), col("ewma").as("seed")) // seed constant per key
        .agg(sort_array(collect_list(struct(col("t"), col("x")))).as("s"))
        .select(col("k"),
          expr("element_at(s, -1).t").as("last_t"),
          expr(
            s"""element_at(aggregate(transform(s, e -> e.x),
               CASE WHEN seed IS NULL THEN CAST(array() AS ARRAY<BIGINT>)
                    ELSE array(seed) END,
               (acc, x) -> concat(acc, array(CASE WHEN size(acc) = 0 THEN x
                 ELSE (x * ${alphaPpm}L + element_at(acc, -1) * ${beta}L) DIV 1000000L
                 END))), -1)""").as("ewma"))
      // keys untouched this batch (no cells, or only late cells) carry over
      st.join(folded.select("k"), Seq("k"), "left_anti")
        .unionByName(folded)
        .coalesce(1).write.parquet(s"$staged/state")
    }

  /** The read path of the [[ewmaSink]] artifact: current per-key smoothed
    * level — the |keys|-row table an alerting job joins today's volume
    * against. */
  def storedEwmaState(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"${storedState(spark, "ewmaSink", path)}/state")

  /** STREAM-MAINTAINED PARETO FRONTIER — sk01's skyline as a continuously
    * updated artifact (`path/current/front`): each micro-batch folds as
    * frontier' = pareto2d(frontier ∪ batch). The skyline is an
    * online-foldable summary under insert-only streams: dominance is
    * monotone (points are only ever added, and it is transitive — a point
    * dominated by a dropped point is dominated by that point's dominator
    * on the front), so stored-front-after-any-prefix ≡ the batch skyline
    * over exactly the rows delivered (spec-pinned across uneven batch
    * boundaries). State is front-sized, never corpus-sized; replay is
    * guarded by the replay ledger ([[applyStateBatch]]) so a
    * crash-replayed committed batch is skipped whole. Batches must carry
    * the same columns as the first batch (the artifact's schema). */
  def paretoSink(
      points: DataFrame,
      path: String,
      xCol: String,
      yCol: String,
      trigger: Trigger = Trigger.AvailableNow()
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    foreachBatchSink(points, trigger)(applyParetoBatch(_, path, xCol, yCol, _))

  /** One micro-batch of [[paretoSink]], factored out so replay semantics
    * are directly testable. Returns true when the batch was applied,
    * false when recognized as already-committed. The front and its
    * ledger commit as one directory: the front is never overwritten in
    * place, which would let a crash LOSE the accumulated frontier while
    * the ledger had replay rebuild from an empty front. */
  private[graft] def applyParetoBatch(
      batch: DataFrame, path: String, xCol: String, yCol: String,
      batchId: Long): Boolean =
    applyStateBatch(batch, path, batchId) { (previous, staged) =>
      val front = previous.fold(batch.limit(0))(
        dir => batch.sparkSession.read.parquet(s"$dir/front"))
      graft.operators.Skyline.pareto2d(front.unionByName(batch), xCol, yCol)
        .coalesce(1).write.parquet(s"$staged/front")
    }

  /** One micro-batch of a stream-maintained stored index (the four
    * sinks below), factored out so replay semantics are directly
    * testable: probe the store for the batch, skip an empty batch,
    * `append` it under the id `b<batchId>`, then compact once
    * `compactEvery` (0 disables) or more live batch directories remain.
    * Returns true when the batch was committed, false when recognized as
    * already-committed or empty.
    *
    * Exactly-once WITHOUT a separate marker: the store's append is ONE
    * atomic rename of one batch directory keyed by the streaming batch
    * id ([[graft.operators.Generations.Store]]) — a crash mid-batch
    * leaves nothing visible (replay re-stages), and a crash AFTER the
    * commit but before the checkpoint records it is caught by the probe
    * on re-delivery, which skips the batch whole. The commit IS the
    * marker — strictly stronger than [[idempotentForeachBatchSink]]'s
    * manifest-beside-the-data pattern, because here the data write and
    * the marker are one filesystem operation. Empty micro-batches commit
    * nothing (skipped consistently on replay too).
    *
    * `compactEvery` bounds read amplification and small-file growth over
    * an UNBOUNDED stream. The compaction sits OUTSIDE the exactly-once
    * argument: a crash between the batch commit and the compact just
    * leaves compaction for a later batch, and replays of absorbed
    * batches are still skipped (the replay ledger). */
  private[graft] def applyIndexBatch(batch: DataFrame,
      store: graft.operators.Generations.Store, path: String, batchId: Long,
      compactEvery: Int = 0)(append: (DataFrame, String) => Unit): Boolean = {
    val spark = batch.sparkSession
    val id = s"b$batchId"
    if (store.batchIngested(spark, path, id))
      return false // crash-after-commit replay: skip whole
    if (batch.isEmpty) return false
    append(batch, id)
    if (compactEvery > 0 && store.liveBatchCount(spark, path) >= compactEvery)
      store.compact(spark, path)
    true
  }

  /** STREAM-MAINTAINED contamination closure —
    * [[graft.operators.ClosureStore.advance]] as a streaming consumer
    * ([[applyIndexBatch]]): each micro-batch of documents folds into the
    * stored closure state (batch chunking, touched-chunk star swap,
    * escape-point BFS — all delta-proportional), with the batch's own
    * seed rows (those matching `seedPredicate`) entering the seed set at
    * depth 0. The continuous form of the daily g08 job: contamination
    * lineage that is current to the last micro-batch. `compactEvery`
    * runs [[graft.operators.ClosureStore.compact]]: the merge-on-read
    * edge composition pays one anti join per live batch directory. */
  def closureSink(
      docs: DataFrame,
      path: String,
      seedPredicate: org.apache.spark.sql.Column,
      idCol: String = "doc_id",
      textCol: String = "text",
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    foreachBatchSink(docs, trigger)(applyIndexBatch(_, graft.operators.ClosureStore.store,
        path, _, compactEvery) { (batch, id) =>
      graft.operators.ClosureStore.advance(batch,
        batch.filter(seedPredicate).select(idCol), path, id, idCol, textCol)
    })

  /** STREAM-MAINTAINED edit-distance segment index —
    * [[graft.operators.EditDistance.appendIndex]] as a streaming
    * consumer ([[applyIndexBatch]]): each micro-batch of documents
    * fingerprints itself (O(batch) — history is never re-read, let alone
    * re-fingerprinted) and folds into the stored segment/short tables, so
    * [[graft.operators.EditDistance.incrementalPairs]] probes are
    * current to the last micro-batch. Bootstrap the base with
    * [[graft.operators.EditDistance.writeIndex]] first (an empty frame
    * is a valid base).
    *
    * Pair emission stays a READ, deliberately: emitting pairs from
    * inside the sink would put the output on the wrong side of the
    * commit marker (pairs delivered but batch uncommitted on crash, or
    * vice versa). A consumer that wants the pair stream runs
    * `incrementalPairs(batch, …)` BEFORE the fold, or queries the
    * maintained index on its own cadence. */
  def editIndexSink(
      docs: DataFrame,
      path: String,
      idCol: String = "doc_id",
      strCol: String = "text",
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    foreachBatchSink(docs, trigger)(applyIndexBatch(_, graft.operators.EditDistance.store,
      path, _, compactEvery)(graft.operators.EditDistance.appendIndex(_, idCol, strCol, path, _)))

  /** STREAM-MAINTAINED IVFADC index —
    * [[graft.operators.VectorIndex.appendBatch]] as a streaming consumer
    * ([[applyIndexBatch]]): each micro-batch of embeddings encodes with
    * the FROZEN stored fits (O(batch) — the corpus is never re-read, the
    * codebooks never refit) and commits beside the stored codes, so
    * [[annSearchStream]] serves results current to the last
    * compaction-visible state and a reload picks up every committed
    * batch. Bootstrap the base with [[graft.operators.VectorIndex.write]]
    * first (the fits have to come from somewhere — a training sample of
    * the corpus). */
  def annIndexSink(
      vectors: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    foreachBatchSink(vectors, trigger)(applyIndexBatch(_, graft.operators.VectorIndex.store,
      path, _, compactEvery)(graft.operators.VectorIndex.appendBatch(_, path, _, idCol, vecCol)))

  /** STREAM-MAINTAINED winnowing fingerprint index —
    * [[graft.operators.Winnowing.appendIndex]] as a streaming consumer
    * ([[applyIndexBatch]]): each micro-batch of documents fingerprints
    * itself under the STORED (k, w) scheme (O(batch) — history is never
    * re-read) and commits its posting rows beside the stored index, so
    * [[graft.operators.Winnowing.incrementalOverlapPairs]] probes are
    * current to the last micro-batch — the continuous form of the
    * submission-checking service d51 describes ("appending the batch's
    * postings IS the next day's index"). Bootstrap the base with
    * [[graft.operators.Winnowing.writeFingerprintIndex]] first (an empty
    * frame is a valid base — it pins the scheme). */
  def fingerprintIndexSink(
      docs: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    foreachBatchSink(docs, trigger)(applyIndexBatch(_, graft.operators.Winnowing.store,
      path, _, compactEvery)(graft.operators.Winnowing.appendIndex(_, path, _, idCol, textCol)))

  /** The read path of the [[paretoSink]] artifact: the current
    * non-dominated set over everything delivered so far. */
  def storedParetoFront(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"${storedState(spark, "paretoSink", path)}/front")

  /** The weighted read path of the [[ppsSampleSink]] artifact: the stored
    * bottom-k rows with Horvitz–Thompson weights derived from the stored
    * running token total — identical columns to `Curation.ppsSample`. */
  def storedPpsSample(spark: SparkSession, path: String, k: Int): DataFrame = {
    val dir = storedState(spark, "ppsSampleSink", path)
    graft.operators.Curation.ppsWeighted(
      spark.read.parquet(s"$dir/sample"), k,
      spark.read.parquet(s"$dir/stats").select(col("w_total")))
  }

  /** Streaming DELETE sink — [[mergeUpsertSink]]'s retraction twin, the
    * CDC-delete consumer: each micro-batch of keys is recorded in the
    * table's merge-on-read sidecar
    * ([[graft.operators.MergeOnRead.appendDeletes]]) — an O(|keys|)
    * append at stream speed, NO data rewritten per batch (a COW delete
    * per micro-batch would rewrite the same hot partitions over and
    * over). Readers observe the deletes immediately through
    * `MergeOnRead.read`; a maintenance-window `fold` applies the backlog
    * physically once.
    *
    * Exactly-once without markers, one notch STRONGER than the upsert
    * sink's convergence: delete-by-key is naturally idempotent, and the
    * sidecar is deduped at every read and fold — so a crash-replayed
    * batch appends redundant rows that change no answer, and even a key
    * deleted by two different batches stays a single delete. Batches
    * must carry the partition columns (fold's prune set, u02's
    * contract). */
  def morDeleteSink(
      df: DataFrame,
      tablePath: String,
      keyCols: Seq[String],
      partCols: Seq[String],
      trigger: Trigger = Trigger.AvailableNow()
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    foreachBatchSink(df, trigger) { (batch, _) =>
      if (!batch.isEmpty)
        graft.operators.MergeOnRead.appendDeletes(
          batch.sparkSession, tablePath, batch, keyCols, partCols)
    }
}

/** Async single-record processing — the Spark re-expression of
  * `Pipeline.process_async`/`get_item` (reference pipeline.py:385-424,
  * executor thread :695-709): records are fed one-by-one into a running
  * concurrent chain; results surface through a callback and an output queue.
  *
  * Implementation: a driver-side feeder queue + a processing thread that
  * drains it through the pipeline's synchronous per-record path (the same
  * StageRunner semantics as the distributed plan). This is the low-latency
  * serving-mode path; bulk data belongs on the Dataset plan.
  */
final class AsyncRunner[T](pipeline: Pipeline[T], capacity: Int = 1000) {
  private val in = new java.util.concurrent.LinkedBlockingQueue[(T, Tracked[T] => Unit)](capacity)
  private val out = new java.util.concurrent.LinkedBlockingQueue[Tracked[T]](capacity)
  @volatile private var running = true
  // A processOne failure (e.g. ErrorPolicy.Raise) is terminal: recorded here
  // and rethrown from the next processAsync/getItem instead of silently
  // killing the worker and deadlocking callers on a full queue. Callback
  // exceptions are the user's bug in user code — counted, not terminal.
  @volatile private var terminalFailure: Throwable = _
  private val callbackFailureCount = new java.util.concurrent.atomic.AtomicLong

  private val worker = new Thread(() => {
    while (running || !in.isEmpty) {
      val polled = in.poll(100, java.util.concurrent.TimeUnit.MILLISECONDS)
      if (polled != null) {
        val (value, callback) = polled
        try {
          val result = pipeline.processOne(value)
          try callback(result)
          catch { case _: Throwable => callbackFailureCount.incrementAndGet() }
          out.put(result)
        } catch {
          case t: Throwable => terminalFailure = t
        }
      }
    }
  }, "graft-async-runner")
  worker.setDaemon(true)
  worker.start()

  private def checkFailed(): Unit = {
    val t = terminalFailure
    if (t != null)
      throw new IllegalStateException("async pipeline failed terminally", t)
  }

  /** Number of user callbacks that threw (the records themselves completed
    * and are still retrievable via `getItem`). */
  def callbackFailures: Long = callbackFailureCount.get()

  /** Enqueue one record (reference `process_async`); optional per-record
    * callback fires when it completes (reference item.py:112-123). */
  def processAsync(value: T, callback: Tracked[T] => Unit = _ => ()): Unit = {
    checkFailed()
    in.put((value, callback))
  }

  /** Blocking pull of the next completed record (reference `get_item`). */
  def getItem(timeoutMs: Long = 10000): Tracked[T] = {
    val r = out.poll(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    if (r == null) {
      checkFailed()
      throw new java.util.concurrent.TimeoutException("no item ready")
    }
    r
  }

  /** Drain and stop (reference `Pipeline.stop`). */
  def stop(): Unit = { running = false; worker.join(5000) }
}
