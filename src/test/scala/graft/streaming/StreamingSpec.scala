package graft.streaming

import graft.SparkSpec
import graft.core._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int) = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("windowed counts over a memory stream with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = Streaming.windowedCounts(mem.toDF(), "ts", "10 minutes")
      .select(col("window.start").as("start"), col("event_type"), col("n"))
    val q = agg.writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    try {
      mem.addData(
        Ev(ts(1), 1, "click", 1.0), Ev(ts(2), 1, "click", 2.0),
        Ev(ts(11), 2, "click", 3.0), Ev(ts(12), 2, "view", 4.0))
      q.processAllAvailable()
      val rows = spark.table("win_counts").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
      assert(rows == Set(
        ("2024-01-01 10:00:00.0", "click", 2L),
        ("2024-01-01 10:10:00.0", "click", 1L),
        ("2024-01-01 10:10:00.0", "view", 1L)))
    } finally q.stop()
  }

  test("streaming dedup within watermark drops duplicate keys") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val deduped = Streaming.dedupStream(mem.toDF(), "ts", Seq("user_id", "event_type"))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      mem.addData(
        Ev(ts(1), 1, "click", 1.0), Ev(ts(2), 1, "click", 99.0), // dup key
        Ev(ts(3), 2, "click", 2.0))
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 2)
    } finally q.stop()
  }

  test("streaming burst dedup equals the x13 batch islands answer on real events") {
    implicit val sqlCtx = spark.sqlContext
    // the exact slice x13 runs on: sf0.001 events as (event_id, user_id,
    // ts_us), fed in three CHRONOLOGICAL micro-batches (global ts order
    // implies per-key order — the operator's arrival contract)
    val evs = graft.Tables.events(spark, sf())
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(e => (e._3, e._1))
    assert(evs.length > 100) // non-vacuous slice
    val batchAnswer = graft.SparkEntry.queries("x13_burst_dedup")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val mem = MemoryStream[(Long, Long, Long)]
    val out = Streaming.burstDedupStream(mem.toDS(), gapUs = 6L * 3600L * 1000000L)
    val q = out.writeStream.format("memory").queryName("burst_dedup")
      .outputMode("append").start()
    try {
      evs.grouped(math.max(1, evs.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val streamed = spark.table("burst_dedup").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batchAnswer,
        s"stream ${streamed.size} rows vs batch ${batchAnswer.size}; " +
          s"missing=${(batchAnswer -- streamed).take(3)} extra=${(streamed -- batchAnswer).take(3)}")
    } finally q.stop()
  }

  test("transformWithState burst dedup emits the identical row set (Spark 4 stateful API)") {
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.Tables.events(spark, sf())
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(e => (e._3, e._1))
    val batchAnswer = graft.SparkEntry.queries("x13_burst_dedup")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // transformWithState requires the RocksDB state store; scope the
    // provider override to this query and restore the default after
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, Long, Long)]
      val out = Streaming.burstDedupStreamTws(mem.toDS(),
        gapUs = 6L * 3600L * 1000000L)
      val q = out.writeStream.format("memory").queryName("burst_dedup_tws")
        .outputMode("append").start()
      try {
        evs.grouped(math.max(1, evs.length / 3 + 1)).foreach { chunk =>
          mem.addData(chunk.toIndexedSeq)
          q.processAllAvailable()
        }
        val streamed = spark.table("burst_dedup_tws").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(streamed == batchAnswer,
          s"tws stream ${streamed.size} rows vs batch ${batchAnswer.size}; " +
            s"missing=${(batchAnswer -- streamed).take(3)} " +
            s"extra=${(streamed -- batchAnswer).take(3)}")
      } finally q.stop()
    } finally {
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("native dropDuplicatesWithinWatermark burst dedup: first-in-window semantics, both deltas vs rolling-gap pinned") {
    implicit val sqlCtx = spark.sqlContext
    val H = 3600L * 1000000L // one hour in µs
    val gap = 6 * H
    // hours are relative to a 2020 base: an event AT epoch 0 would tie
    // Spark's initial watermark (0) and be dropped as late
    val B = 1577836800L * 1000000L
    // Hand-built chronological batches (one event per key per batch, so
    // within-batch processing order can never matter):
    //  b1: (10, k1, 0h)            → emit (first k1)
    //  b2: (11, k1, 5h)            → drop (k1 state live, 5h < 0h+6h)
    //      (20, k2, 14h)           → emit; advances watermark to 8h
    //  b3: (30, k3, 15h)           → emit; k1 state (expires 6h) is now
    //                                 past the 8h watermark → evicted
    //  b4: (12, k1, 10h)           → EMIT: dDWW re-admits after expiry —
    //                                 the rolling-gap family drops it
    //                                 (10h − 5h = 5h ≤ gap)
    //  b5: (21, k2, 22h)           → DROP: k2 state (expires 20h) outlives
    //                                 the 9h watermark — rolling-gap keeps
    //                                 it (22h − 14h = 8h > gap)
    val batches = Seq(
      Seq((10L, 1L, B + 0 * H)),
      Seq((11L, 1L, B + 5 * H), (20L, 2L, B + 14 * H)),
      Seq((30L, 3L, B + 15 * H)),
      Seq((12L, 1L, B + 10 * H)),
      Seq((21L, 2L, B + 22 * H)))
    val mem = MemoryStream[(Long, Long, Long)]
    val out = Streaming.burstDedupStreamNative(mem.toDS(), gapUs = gap)
    val q = out.writeStream.format("memory").queryName("burst_dedup_native")
      .outputMode("append").start()
    try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      val streamed = spark.table("burst_dedup_native").collect()
        .map(_.getLong(0)).toSet
      assert(streamed == Set(10L, 20L, 30L, 12L),
        s"dDWW emitted $streamed")
    } finally q.stop()
    // the rolling-gap (x13) answer on the SAME events, via the family's
    // reference fold — pins that the two semantics differ in BOTH
    // directions (12 only in dDWW, 21 only in rolling-gap)
    val rollingGap = batches.flatten.groupBy(_._2).values.flatMap { evs =>
      val ordered = evs.sortBy(e => (e._3, e._1))
      ordered.zip(None +: ordered.map(e => Some(e._3)))
        .collect { case (e, prev) if prev.forall(p => e._3 - p > gap) => e._1 }
    }.toSet
    assert(rollingGap == Set(10L, 20L, 30L, 21L))
  }

  test("streaming incremental near-dup equals the d37 batch answer on real documents") {
    implicit val sqlCtx = spark.sqlContext
    // same split as d37: history = docs < 250 (indexed once), increment =
    // docs >= 250, here fed as three micro-batches instead of one batch
    val docs = graft.Tables.table(spark, sf(), "documents")
    val (bandIdx, shIdx) = graft.operators.Dedup.lshIndex(
      docs.filter(col("doc_id") < 250), numHashes = 8, bands = 4,
      shingleK = 3, portableHash = true)
    val (bandC, shC) = (bandIdx.cache(), shIdx.cache())
    val batchAnswer = graft.SparkEntry.queries("d37_incremental_neardup")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchAnswer.nonEmpty) // non-vacuous slice
    val newDocs = docs.filter(col("doc_id") >= 250)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().sortBy(_._1)
    val mem = MemoryStream[(Long, String)]
    val streamed = scala.collection.mutable.Set.empty[(Long, Long)]
    val q = Streaming.incrementalNeardupStream(
      mem.toDF().toDF("doc_id", "text"), bandC, shC,
      numHashes = 8, bands = 4, shingleK = 3, threshold = 0.5,
      portableHash = true,
      // AvailableNow would stop at start (no data added yet); poll instead
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)) { (pairs, _) =>
      streamed ++= pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    }.start()
    try {
      newDocs.grouped(math.max(1, newDocs.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      assert(streamed.toSet == batchAnswer,
        s"stream ${streamed.size} pairs vs batch ${batchAnswer.size}; " +
          s"missing=${(batchAnswer -- streamed).take(3)} extra=${(streamed.toSet -- batchAnswer).take(3)}")
    } finally { q.stop(); bandC.unpersist(); shC.unpersist() }
  }

  test("streaming BM25 search over a stored index equals the batch ranking") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.table(spark, sf(), "documents")
    val qs = Seq((1L, "spark"), (1L, "vector"), (2L, "merge"), (2L, "hash"),
      (3L, "stream"), (3L, "window"), (4L, "filter"), (4L, "scan"))
    val batchAnswer = graft.operators.Retrieval.bm25TopK(
      docs, qs.toDF("qid", "term"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(batchAnswer.nonEmpty)
    val (postings, dfT, stats) = graft.operators.Retrieval.bm25Index(docs)
    val (pC, dC, sC) = (postings.cache(), dfT.cache(), stats.cache())
    val mem = MemoryStream[(Long, String)]
    val streamed = scala.collection.mutable.Set.empty[(Long, Long, Int, Long)]
    val q = Streaming.bm25SearchStream(
      mem.toDF().toDF("qid", "term"), pC, dC, sC, k = 5,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)) { (res, _) =>
      streamed ++= res.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    }.start()
    try {
      // one query (both its terms) per micro-batch: queries score
      // independently against the static index, so the union over any
      // batching equals the batch answer
      qs.grouped(2).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      assert(streamed.toSet == batchAnswer,
        s"stream ${streamed.size} rows vs batch ${batchAnswer.size}")
    } finally { q.stop(); pC.unpersist(); dC.unpersist(); sC.unpersist() }
  }

  test("streaming ANN search over a stored index equals the batch answer") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.table(spark, sf(), "embeddings")
    val dir = tmpDir("graft-annstream")
    graft.operators.VectorIndex.write(emb, dir, nCentroids = 8, m = 8, ks = 8)
    val queries = emb.filter(col("vec_id") < 16)
      .collect().map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Float]](1).toArray))
    val batchAnswer = graft.operators.VectorIndex.search(
      emb.filter(col("vec_id") < 16), dir, k = 3, nProbe = 4, refine = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(batchAnswer.size == 16 * 3)
    val mem = MemoryStream[(Long, Array[Float])]
    val streamed = scala.collection.mutable.Set.empty[(Long, Long, Int)]
    val q = Streaming.annSearchStream(
      mem.toDF().toDF("vec_id", "embedding"), dir, k = 3, nProbe = 4,
      refine = 8,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)) { (res, _) =>
      streamed ++= res.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    }.start()
    try {
      // 4 queries per micro-batch: the index is static and queries score
      // independently, so the union over any batching equals batch search
      queries.grouped(4).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      assert(streamed.toSet == batchAnswer,
        s"stream ${streamed.size} rows vs batch ${batchAnswer.size}")
    } finally q.stop()
  }

  test("streaming overlap join against static intervals equals the batch join") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // static: incident windows; stream: session intervals in three batches
    val incidents = Seq((1L, 100L, 200L, "i1"), (1L, 500L, 600L, "i2"),
      (2L, 50L, 900L, "i3")).toDF("k", "s2", "e2", "inc")
    val sessions = (0 until 30).map { i =>
      (i % 3 + 1L, i * 37L % 800L, i * 37L % 800L + 120L, i.toLong)
    }
    val batchAnswer = graft.operators.IntervalJoin.overlapJoin(
      sessions.toDF("k", "s", "e", "sid"), incidents, Seq("k"),
      "s", "e", "s2", "e2", 64L)
      .select("sid", "inc").as[(Long, String)].collect().toSet
    assert(batchAnswer.nonEmpty)
    val mem = MemoryStream[(Long, Long, Long, Long)]
    val got = scala.collection.mutable.Set.empty[(Long, String)]
    val q = Streaming.overlapJoinStream(
      mem.toDF().toDF("k", "s", "e", "sid"), incidents, Seq("k"),
      "s", "e", "s2", "e2", bucketWidth = 64L,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)) { (res, _) =>
      got ++= res.select("sid", "inc").as[(Long, String)].collect()
    }.start()
    try {
      sessions.grouped(10).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      assert(got.toSet == batchAnswer,
        s"stream ${got.size} matches vs batch ${batchAnswer.size}")
    } finally q.stop()
  }

  test("left-outer stream-stream join emits the unmatched click once the watermark discharges it") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val clicks = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val buys = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val joined = Streaming.streamStreamJoin(
      clicks.toDF().toDF("user_id", "click_ts", "click_id"),
      buys.toDF().toDF("user_id", "buy_ts", "buy_id"),
      leftTs = "click_ts", rightTs = "buy_ts", key = "user_id",
      lateness = "1 minutes", maxDelay = "15 minutes",
      joinType = "left_outer")
      .select(col("click_id"), col("buy_id"))
    val q = joined.writeStream
      .format("memory").queryName("s05_live").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .start()
    try {
      // user 1 converts within 15 min; user 2's click never matches
      clicks.addData((1L, ts(10), 101L), (2L, ts(12), 102L))
      buys.addData((1L, ts(20), 201L))
      q.processAllAvailable()
      // advance both watermarks far past click 102's bound so the outer
      // row must flush (these new rows themselves match nothing)
      clicks.addData((9L, ts(500), 999L))
      buys.addData((9L, ts(400), 998L))
      q.processAllAvailable()
      val got = spark.table("s05_live")
        .as[(Long, Option[Long])].collect().toSet
      assert(got.contains((101L, Some(201L))), got.toString)
      assert(got.contains((102L, None)),
        s"unmatched click not emitted after watermark: $got")
    } finally q.stop()
  }

  test("full-outer stream-stream join null-pads BOTH sides on watermark discharge") {
    // the case where the per-side column-selection bug class s05 surfaced
    // is most dangerous: EITHER side can be the null-padded one, so the
    // key column must coalesce across sides or right-unmatched rows
    // would carry a null key
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val clicks = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val buys = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val joined = Streaming.streamStreamJoin(
      clicks.toDF().toDF("user_id", "click_ts", "click_id"),
      buys.toDF().toDF("user_id", "buy_ts", "buy_id"),
      leftTs = "click_ts", rightTs = "buy_ts", key = "user_id",
      lateness = "1 minutes", maxDelay = "15 minutes",
      joinType = "full_outer")
      .select(col("user_id"), col("click_id"), col("buy_id"))
    val q = joined.writeStream
      .format("memory").queryName("s06_live").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .start()
    try {
      // user 1 converts; user 2's click never matches (left null-pad);
      // user 3 buys with no click (right null-pad)
      clicks.addData((1L, ts(10), 101L), (2L, ts(12), 102L))
      buys.addData((1L, ts(20), 201L), (3L, ts(11), 301L))
      q.processAllAvailable()
      // advance both watermarks far past every pending row's bound so
      // both outer classes must flush
      clicks.addData((9L, ts(500), 999L))
      buys.addData((9L, ts(400), 998L))
      q.processAllAvailable()
      val got = spark.table("s06_live")
        .as[(Option[Long], Option[Long], Option[Long])].collect().toSet
      assert(got.contains((Some(1L), Some(101L), Some(201L))), got.toString)
      assert(got.contains((Some(2L), Some(102L), None)),
        s"unmatched click not left-null-padded after watermark: $got")
      assert(got.contains((Some(3L), None, Some(301L))),
        s"unmatched purchase not right-null-padded after watermark: $got")
      assert(!got.exists(_._1.isEmpty),
        s"the coalesced key must be non-null on every row class: $got")
    } finally q.stop()
  }

  test("full-outer join tolerates shared column names and keeps the inner branch's column order") {
    // batch frames (watermarks no-op) BOTH carrying a column literally
    // named "ts" — the shape that breaks bare-col() resolution; and the
    // output order must match the inner/left branch so position-based
    // consumers survive a joinType switch
    import spark.implicits._
    def t(min: Long) = new java.sql.Timestamp(min * 60000L)
    val clicks = Seq((1L, t(10), "c1"), (2L, t(12), "c2"))
      .toDF("user_id", "ts", "tag")
    val buys = Seq((1L, t(20), "b1"), (3L, t(11), "b3"))
      .toDF("user_id", "ts", "tag")
    val full = Streaming.streamStreamJoin(clicks, buys,
      leftTs = "ts", rightTs = "ts", key = "user_id",
      maxDelay = "15 minutes", joinType = "full_outer")
    assert(full.columns.toSeq == Seq("user_id", "ts", "tag", "ts", "tag"),
      s"column order drifted: ${full.columns.toSeq}")
    val got = full.collect().map(r =>
      (Option(r.get(0)), Option(r.get(2)), Option(r.get(4)))).toSet
    assert(got == Set(
      (Some(1L), Some("c1"), Some("b1")),
      (Some(2L), Some("c2"), None),
      (Some(3L), None, Some("b3"))), s"got $got")
    val inner = Streaming.streamStreamJoin(clicks, buys,
      leftTs = "ts", rightTs = "ts", key = "user_id",
      maxDelay = "15 minutes")
    assert(inner.columns.toSeq == full.columns.toSeq,
      "inner and full branches must present identical column orders")
    // right_outer rides the same renamed branch: unmatched RIGHT rows
    // null-pad the left side, matched left rows that lack a purchase drop
    val right = Streaming.streamStreamJoin(clicks, buys,
      leftTs = "ts", rightTs = "ts", key = "user_id",
      maxDelay = "15 minutes", joinType = "right_outer")
      .collect().map(r =>
        (Option(r.get(0)), Option(r.get(2)), Option(r.get(4)))).toSet
    assert(right == Set(
      (Some(1L), Some("c1"), Some("b1")),
      (Some(3L), None, Some("b3"))), s"got $right")
  }

  test("quantile drift stream gates batches against the stored reference sketch") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("graft_drift")
    // reference distribution: uniform 0..9999
    graft.operators.Drift.writeReferenceSketch(
      (0 until 10000).map(_.toDouble).toDF("value"), "value", 0.01, s"$dir/ref")
    val inDist = (0 until 5000).map(i => (i * 2 + 1).toDouble)  // same dist
    val shifted = (0 until 5000).map(i => i * 2 + 8000d)        // way up
    val mem = MemoryStream[Double]
    val verdicts = scala.collection.mutable.Map.empty[Long, Map[Double, Boolean]]
    val q = Streaming.quantileDriftStream(mem.toDF(), s"$dir/ref",
      probs = Seq(0.5, 0.95), tolerance = 0.1,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)) {
      (res, id) =>
        verdicts(id) = res.select("p", "drifted")
          .as[(Double, Boolean)].collect().toMap
    }.start()
    try {
      mem.addData(inDist); q.processAllAvailable()
      mem.addData(shifted); q.processAllAvailable()
    } finally q.stop()
    assert(verdicts(0L) == Map(0.5 -> false, 0.95 -> false))
    assert(verdicts(1L) == Map(0.5 -> true, 0.95 -> true))
    // batch-mode parity on the same slices (batches judged independently)
    val ref = graft.operators.Drift.loadReferenceSketch(spark, s"$dir/ref")
    assert(graft.operators.Drift.driftVerdicts(inDist.toDF("value"), ref)
      .select("drifted").as[Boolean].collect().forall(!_))
    assert(graft.operators.Drift.driftVerdicts(shifted.toDF("value"), ref)
      .select("drifted").as[Boolean].collect().forall(identity))
  }

  test("categorical drift stream gates batches against the stored reference distribution") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("graft_catdrift")
    val ref = (Seq.fill(50)("a") ++ Seq.fill(50)("b")).toDF("cat")
    graft.operators.Drift.writeCategoricalReference(ref, "cat", s"$dir/ref")
    val inDist = (0 until 25).flatMap(_ => Seq(("g1", "a"), ("g1", "b")))
    val skew = (0 until 50).map(_ => ("g1", "a")) // all mass on 'a' → TVD ½
    val mem = MemoryStream[(String, String)]
    val verdicts =
      scala.collection.mutable.Map.empty[Long, Map[String, (Long, Boolean)]]
    val q = Streaming.categoricalDriftStream(mem.toDF().toDF("grp", "cat"),
      s"$dir/ref", "cat", "grp", driftMillionths = 100000L,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)) {
      (res, id) =>
        verdicts(id) = res.select("grp", "tvd_millionths", "drifted")
          .collect()
          .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    }.start()
    try {
      mem.addData(inDist: _*); q.processAllAvailable()
      mem.addData(skew: _*); q.processAllAvailable()
    } finally q.stop()
    // batch 0 matches the reference mix exactly; batch 1 moved half its mass
    assert(verdicts(0L) == Map("g1" -> ((0L, false))))
    assert(verdicts(1L) == Map("g1" -> ((500000L, true))))
    // stateless foreachBatch ⇒ batch-mode parity on the same rows
    val bat = graft.operators.Drift.categoricalDrift(ref,
        skew.toDF("grp", "cat"), "cat", "grp", 100000L)
      .select("grp", "tvd_millionths", "drifted").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(bat == verdicts(1L))
  }

  test("ewma sink: state equals the batch fold at every prefix; replay and late cells no-op") {
    val dir = tmpDir("graft_ewma")
    def cells(rows: (String, Int, Long)*) = rows.toDF("k", "t", "x")
    def state() = Streaming.storedEwmaState(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    // batch 0: SmoothingSpec's hand series, first half
    val b0 = cells(("A", 1, 100L), ("A", 2, 200L), ("B", 1, 7L))
    val b1 = cells(("A", 3, 0L), ("A", 4, 400L), ("B", 2, 7L), ("C", 1, 50L))
    assert(Streaming.applyEwmaBatch(b0, dir, "k", "t", "x", 250000L, 0L))
    assert(state() == Map("A" -> ((2, 125L)), "B" -> ((1, 7L))))
    // batch 1 seeds each key from the stored level (A: 125 → 93 → 169),
    // a brand-new key starts fresh (C), constants stay fixed points (B)
    assert(Streaming.applyEwmaBatch(b1, dir, "k", "t", "x", 250000L, 1L))
    val s1 = state()
    assert(s1 == Map("A" -> ((4, 169L)), "B" -> ((2, 7L)), "C" -> ((1, 50L))))
    // convergence: stored state == the one-shot batch fold's last row/key
    val oneShot = graft.operators.Ewma.smooth(b0.union(b1), "k", "t", "x")
      .groupBy("k").agg(max(struct(col("t"), col("ewma"))).as("m"))
      .collect().map(r => r.getString(0) ->
        ((r.getStruct(1).getInt(0), r.getStruct(1).getLong(1)))).toMap
    assert(oneShot == s1)
    // crash-replay of a committed batch: recognized, skipped whole
    assert(!Streaming.applyEwmaBatch(b1, dir, "k", "t", "x", 250000L, 1L))
    assert(state() == s1)
    // a late cell (A's day 2 redelivered, mutated) is behind the stored
    // clock → dropped; the batch still commits and other keys are intact
    assert(Streaming.applyEwmaBatch(cells(("A", 2, 999L)), dir, "k", "t", "x",
      250000L, 2L))
    assert(state() == s1)
  }

  test("empty / all-null drift batch yields an explicit false verdict, never NULL") {
    // an empty micro-batch has no quantiles: batch_q is NULL, and before
    // the coalesce the verdict was NULL too — a `drifted == true` consumer
    // silently skipped it. Contract now: drifted = false (no evidence),
    // n_vals = 0 marks the verdict vacuous.
    import graft.expressions.QSketch
    val refSk = (0 until 1000).map(_.toDouble).toDF("value")
      .agg(QSketch.sketchAgg(col("value"), 0.01)).head().getAs[Array[Byte]](0)
    for (batch <- Seq(
        Seq.empty[Option[Double]].toDF("value"),
        Seq[Option[Double]](None, None).toDF("value"))) {
      val rows = graft.operators.Drift.driftVerdicts(batch, refSk)
        .select("p", "n_vals", "drifted").collect()
      assert(rows.length == 2)
      rows.foreach { r =>
        assert(r.getLong(1) == 0L)
        assert(!r.isNullAt(2), "drifted must be an explicit verdict")
        assert(!r.getBoolean(2))
      }
    }
  }

  test("typed pipeline stages run on a streaming Dataset (unified API)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val p = Pipeline[Doc](spark)
      .append("mark")(d => d.copy(text = d.text + "!"))
      .append("soft") { d =>
        if (d.count == 2) throw new SoftError("two"); d
      }
    val out = Streaming.throughPipeline(mem.toDS(), p)
    val q = out.writeStream.format("memory").queryName("pipe_stream")
      .outputMode("append").start()
    try {
      mem.addData(Doc("a", 1), Doc("b", 2), Doc("c", 3))
      q.processAllAvailable()
      val rows = spark.table("pipe_stream").collect()
      assert(rows.length == 3)
      val byCount = rows.map(r => r.getStruct(0).getInt(1) ->
        r.getSeq[org.apache.spark.sql.Row](4).length).toMap
      assert(byCount == Map(1 -> 0, 2 -> 1, 3 -> 0)) // error channel flows through
    } finally q.stop()
  }

  test("TypedBatchStage on a stream: micro-batch boundary flushes partial batches (timeout parity)") {
    // The reference's BatchStage `timeout` flushes a partial batch that never
    // fills (reference stage.py:111-116). On Structured Streaming the
    // micro-batch trigger plays that role: each micro-batch drains its
    // partitions to exhaustion, so a partial batch is flushed at the batch
    // boundary instead of waiting for `size` records (core/stage.scala doc).
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val p = Pipeline[Doc](spark)
      .appendBatch(TypedBatchStage[Doc]("bulk", 10)(batch =>
        batch.map(_.copy(text = s"sz=${batch.length}"))))
    val out = Streaming.throughPipeline(mem.toDS(), p)
    val q = out.writeStream.format("memory").queryName("batch_stream")
      .outputMode("append").start()
    try {
      mem.addData(Doc("a", 1), Doc("b", 2), Doc("c", 3))
      q.processAllAvailable()
      // 3 records < size 10: emitted NOW (flushed by the micro-batch
      // boundary), each having seen a batch no bigger than the micro-batch
      val first = spark.table("batch_stream").collect().map(_.getStruct(0).getString(0))
      assert(first.length == 3)
      assert(first.forall(_.startsWith("sz=")))
      assert(first.forall(_.stripPrefix("sz=").toInt <= 3))
      mem.addData(Doc("d", 4))
      q.processAllAvailable()
      // the next micro-batch flushes its own partial batch of 1
      assert(spark.table("batch_stream").count() == 4)
    } finally q.stop()
  }

  test("curation ops run unchanged on a stream and match the batch result") {
    // PII scrub + deterministic portable-hash sampling are stateless Column
    // expressions, so the same code is legal on bounded and unbounded input
    // — the unified-API claim, checked by batch-replaying the micro-batches.
    implicit val sqlCtx = spark.sqlContext
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    def curate(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("clean", regexp_replace(col("text"), email, "<EMAIL>"))
      .filter(graft.expressions.PolyHash(
        concat(lit("sample|"), col("doc_id").cast("string"))) % 1000 < 500)
      .select("doc_id", "clean")
    val mem = MemoryStream[(Long, String)]
    val data = (1L to 40L).map(i =>
      (i, if (i % 3 == 0) s"mail u$i@ex$i.com now" else s"plain doc $i"))
    val q = curate(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("curation_stream")
      .outputMode("append").start()
    try {
      mem.addData(data.take(20): _*)
      q.processAllAvailable()
      mem.addData(data.drop(20): _*)
      q.processAllAvailable()
      val streamed = spark.table("curation_stream").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val batch = curate(data.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty && batch.size < data.length) // sampling really sampled
      assert(batch.filter(_._1 % 3 == 0).forall(_._2.contains("<EMAIL>")))
    } finally q.stop()
  }

  test("streaming curation gate equals the batch d38 verdicts on real documents") {
    // The full composed gate (quality/length/repetition/lang-ID, first
    // failing rule wins) applied directly to a stream — no foreachBatch,
    // no state store: stateless scan-local ops stream as-is. Union of the
    // micro-batch outputs must equal one batch gate over the same docs.
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.table(spark, sf(), "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val mem = MemoryStream[(Long, String, String)]
    val q = graft.streaming.Streaming.curationGateStream(
        mem.toDF().toDF("doc_id", "lang", "text"))
      .writeStream.format("memory").queryName("gate_stream")
      .outputMode("append").start()
    try {
      val (b1, rest) = docs.splitAt(docs.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      for (b <- Seq(b1, b2, b3)) { mem.addData(b: _*); q.processAllAvailable() }
      def key(r: org.apache.spark.sql.Row) =
        // generic get for the ratio columns: they are null for degenerate
        // docs (n_words < 2) and getDouble would mask that as 0.0
        (r.getLong(0), r.getInt(1), r.get(2), r.get(3),
          r.getString(4), r.getString(5), r.getBoolean(6))
      val streamed = spark.table("gate_stream").collect().map(key).toSet
      val batch = graft.operators.Curation.gate(
        graft.Tables.table(spark, sf(), "documents")).collect().map(key).toSet
      assert(streamed == batch)
      assert(batch.exists(!_._7) && batch.exists(_._7)) // both verdicts occur
    } finally q.stop()
  }

  test("streaming LSH candidates equal the batch banding across micro-batches") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    // near-dup corpus: ids i and i+10 are copies (one word changed), spread
    // across two micro-batches so candidate pairs MUST cross the batch
    // boundary through state
    val texts = (1L to 10L).map { i =>
      i -> s"shared prefix words for group ${i % 3} and a tail of document $i"
    }
    val data = texts.map { case (i, t) => (i, t) } ++
      texts.map { case (i, t) => (i + 10, t.replace("tail", "end")) }
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.lshCandidatesStream(
        mem.toDF().toDF("doc_id", "text"), numHashes = 8, bands = 4)
      .toDF("a_id", "b_id")
      .writeStream.format("memory").queryName("lsh_cand_stream")
      .outputMode("append").start()
    try {
      mem.addData(data.take(10): _*)
      q.processAllAvailable()
      mem.addData(data.drop(10): _*)
      q.processAllAvailable()
      val streamed = spark.table("lsh_cand_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch reference: identical shingle/sig/band expressions, pairs from
      // the same per-bucket fan-out the batch operator uses
      val banded = Dedup.shingleSets(
          data.toDF("doc_id", "text"), shingleK = 3, "doc_id", "text")
        .withColumn("sig", Dedup.minhashSigCol(8, portableHash = false))
        .select(col("doc_id"),
          posexplode(Dedup.bandBucketsCol(8, 4, portableHash = false)))
      val batchCands = banded.groupBy("pos", "col")
        .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .select(graft.expressions.OrderedPairsGen(col("ds").cast("array<long>")))
        .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batchCands)
      // the state store really carried batch-1 members: some candidate must
      // span the micro-batch boundary (one id <= 10, the other > 10)
      assert(streamed.exists(p => p._1 <= 10 && p._2 > 10))
    } finally q.stop()
  }

  test("AsyncRunner: process_async/get_item analog with callback") {
    val p = Pipeline[Doc](spark)
      .append("enrich")(d => d.copy(text = d.text.toUpperCase))
    val runner = new AsyncRunner[Doc](p)
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      runner.processAsync(Doc("hello", 1), _ => { seen.incrementAndGet(); () })
      runner.processAsync(Doc("world", 2))
      val a = runner.getItem()
      val b = runner.getItem()
      assert(Set(a.value.text, b.value.text) == Set("HELLO", "WORLD"))
      assert(seen.get() == 1)
    } finally runner.stop()
  }

  test("flatMapGroupsWithState emits per-key counts across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val out = Streaming.sessionizeWithState(mem.toDS())
    val q = out.writeStream.format("memory").queryName("fmgws")
      .outputMode("append").start()
    try {
      mem.addData((1L, 1.0), (1L, 2.0), (2L, 3.0))
      q.processAllAvailable()
      mem.addData((1L, 4.0))
      q.processAllAvailable()
      val counts = spark.table("fmgws").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(counts.toSet == Set((1L, 2L), (2L, 1L), (1L, 3L))) // state carried
    } finally q.stop()
  }

  test("mapGroupsWithState running stats accumulate across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val out = Streaming.runningStats(mem.toDS())
    val q = out.writeStream.format("memory").queryName("running_stats")
      .outputMode("update").start()
    try {
      mem.addData((1L, 2.0), (1L, 3.0), (2L, 10.0))
      q.processAllAvailable()
      mem.addData((1L, 5.0))
      q.processAllAvailable()
      val last = spark.table("running_stats").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2) }
      assert(last(1L) == ((1L, 3L, 10.0))) // state carried across batches
      assert(last(2L) == ((2L, 1L, 10.0)))
    } finally q.stop()
  }

  test("transformWithState running stats match the mapGroupsWithState path") {
    implicit val sqlCtx = spark.sqlContext
    // transformWithState needs multiple state column families, which only the
    // RocksDB provider supports (the default HDFS-backed one throws
    // UNSUPPORTED_FEATURE.STATE_STORE_MULTIPLE_COLUMN_FAMILIES). Scope the
    // provider to this query: the conf is captured when the query starts.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val (mem, q) =
      try {
        val mem = MemoryStream[(Long, Double)]
        val out = Streaming.runningStatsTws(mem.toDS())
        (mem, out.writeStream.format("memory").queryName("running_stats_tws")
          .outputMode("append").start())
      } finally {
        // restore on every exit path so a failed start() can't leak the
        // RocksDB provider into the rest of the suite
        prevProvider match {
          case Some(p) => spark.conf.set(providerKey, p)
          case None    => spark.conf.unset(providerKey)
        }
      }
    try {
      mem.addData((1L, 2.0), (1L, 3.0), (2L, 10.0))
      q.processAllAvailable()
      mem.addData((1L, 5.0))
      q.processAllAvailable()
      val last = spark.table("running_stats_tws").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2) }
      // same accumulated state as the legacy-API test above
      assert(last(1L) == ((1L, 3L, 10.0)))
      assert(last(2L) == ((2L, 1L, 10.0)))
    } finally q.stop()
  }

  test("AsyncRunner: terminal pipeline failure surfaces instead of hanging") {
    val p = Pipeline[Doc](spark)
      .raiseOnCriticalError()
      .append("boom") { d =>
        if (d.count == 2) throw new RuntimeException("crit"); d
      }
    val runner = new AsyncRunner[Doc](p)
    try {
      runner.processAsync(Doc("ok", 1))
      assert(runner.getItem().value.text == "ok")
      runner.processAsync(Doc("bad", 2))
      // worker records the failure; getItem rethrows it (not a bare timeout)
      val e = intercept[IllegalStateException] {
        var waited = 0
        while (waited < 50) { // poll until the worker has processed the record
          try { runner.getItem(100); waited += 1 }
          catch { case _: java.util.concurrent.TimeoutException => waited += 1 }
        }
        fail("terminal failure never surfaced")
      }
      assert(e.getCause.getMessage.contains("crit"))
      intercept[IllegalStateException](runner.processAsync(Doc("after", 3)))
    } finally runner.stop()
  }

  test("AsyncRunner: callback exceptions are counted, thread stays alive") {
    val p = Pipeline[Doc](spark)
      .append("enrich")(d => d.copy(text = d.text.toUpperCase))
    val runner = new AsyncRunner[Doc](p)
    try {
      runner.processAsync(Doc("a", 1), _ => throw new RuntimeException("cb boom"))
      runner.processAsync(Doc("b", 2))
      // both records complete despite the first callback throwing
      val got = Set(runner.getItem().value.text, runner.getItem().value.text)
      assert(got == Set("A", "B"))
      assert(runner.callbackFailures == 1L)
    } finally runner.stop()
  }

  test("watermarked stream-stream join matches within the time range") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val joined = Streaming.streamStreamJoin(
      clicks.toDF().select($"ts".as("c_ts"), $"user_id", $"value".as("click_id")),
      purchases.toDF().select($"ts".as("p_ts"), $"user_id", $"value".as("purchase_id")),
      leftTs = "c_ts", rightTs = "p_ts", key = "user_id",
      maxDelay = "15 minutes")
      .select("user_id", "click_id", "purchase_id")
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      clicks.addData(Ev(ts(0), 1, "click", 100.0), Ev(ts(0), 2, "click", 200.0))
      purchases.addData(
        Ev(ts(10), 1, "purchase", 111.0),  // within 15 min of user 1's click
        Ev(ts(40), 2, "purchase", 222.0))  // too late for user 2's click
      q.processAllAvailable()
      val rows = spark.table("ss_join").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
      assert(rows == Set((1L, 100.0, 111.0)))
    } finally q.stop()
  }

  test("file-sink stream restarts from checkpoint exactly-once") {
    // The reference's stop/termination protocol has no recovery story; the
    // Spark-native one is checkpointed offsets + idempotent file commits:
    // stop a query, restart it on the SAME checkpoint, and every input
    // record lands in the sink exactly once.
    val base = tmpDir("graft-eo")
    val (inDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    def addFile(i: Int): Unit =
      Seq((i.toLong, s"doc$i")).toDF("id", "txt")
        .coalesce(1).write.mode("append").parquet(inDir)
    addFile(1); addFile(2)
    val schema = spark.read.parquet(inDir).schema
    def startQuery() =
      spark.readStream.schema(schema).parquet(inDir)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    val q1 = startQuery()
    q1.awaitTermination(60000)
    assert(spark.read.parquet(outDir).count() == 2)
    addFile(3); addFile(4)
    val q2 = startQuery() // same checkpoint: only the NEW files process
    q2.awaitTermination(60000)
    val out = spark.read.parquet(outDir).select("id").collect().map(_.getLong(0))
    assert(out.sorted.sameElements(Array(1L, 2L, 3L, 4L))) // exactly once each
  }

  test("idempotent foreachBatch sink survives replay of a committed batch exactly-once") {
    // The at-least-once window for custom sinks: crash after the sink commits
    // batch N but before the checkpoint records it. Simulated by deleting the
    // newest entry in <ckpt>/commits — on restart Spark re-delivers that
    // batch; the manifest marker must suppress the second external commit.
    val base = tmpDir("graft-ifb")
    val (inDir, ckpt, manifest) = (s"$base/in", s"$base/ckpt", s"$base/manifest")
    Seq(1L, 2L).toDF("id").coalesce(1).write.mode("append").parquet(inDir)
    val schema = spark.read.parquet(inDir).schema
    val sunk = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def startQuery() = Streaming.idempotentForeachBatchSink(
      spark.readStream.schema(schema).parquet(inDir), manifest) { (batch, _) =>
        batch.select("id").collect().foreach(r => sunk.add(r.getLong(0)))
      }.option("checkpointLocation", ckpt).start()
    val q1 = startQuery(); q1.awaitTermination(60000)
    assert(sunk.asScala.toSeq.sorted == Seq(1L, 2L))
    // simulate the crash window: drop the newest checkpoint commit record
    def dropNewestCommit(): Unit = {
      val dir = new java.io.File(s"$ckpt/commits")
      val commits = dir.listFiles().filterNot(_.getName.startsWith("."))
      assert(commits.nonEmpty)
      val newest = commits.maxBy(_.getName.toLong)
      // the local ChecksumFs keeps a .N.crc sidecar; it must go too or the
      // restarted query's commit rename fails on the stale checksum
      new java.io.File(dir, s".${newest.getName}.crc").delete()
      assert(newest.delete())
    }
    dropNewestCommit()
    val q2 = startQuery(); q2.awaitTermination(60000) // re-delivers the batch
    assert(sunk.asScala.toSeq.sorted == Seq(1L, 2L),
      "replayed committed batch must not re-commit externally")
    // contrast: the PLAIN foreachBatch sink double-commits under the same
    // replay, which is exactly the gap the manifest closes
    dropNewestCommit()
    val q3 = Streaming.foreachBatchSink(
      spark.readStream.schema(schema).parquet(inDir)) { (batch, _) =>
        batch.select("id").collect().foreach(r => sunk.add(r.getLong(0)))
      }.option("checkpointLocation", ckpt).start()
    q3.awaitTermination(60000)
    assert(sunk.size == 4, "plain foreachBatch re-delivers without dedup")
  }

  test("jsonl source captures malformed records instead of failing") {
    val dir = new java.io.File(tmpDir("graft-jsonl"))
    val w = new java.io.PrintWriter(new java.io.File(dir, "a.jsonl"))
    w.println("""{"id": 1, "name": "ok"}""")
    w.println("""{broken json!!""")
    w.println("""{"id": 2, "name": "fine"}""")
    w.close()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType)))
    // cache: Spark disallows projecting ONLY the corrupt column from a raw
    // json scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    val df = graft.sources.Sources.jsonlWithErrors(spark, dir.getPath, schema).cache()
    val good = df.filter(col("_corrupt_record").isNull)
    val bad = df.filter(col("_corrupt_record").isNotNull)
    assert(good.count() == 2)
    assert(bad.count() == 1)
    assert(bad.head().getAs[String]("_corrupt_record").contains("broken"))
  }

  test("rate-limited file stream admits bounded files per micro-batch") {
    val dir = tmpDir("graft-stream")
    // three separate files
    (1 to 3).foreach { i =>
      Seq((i.toLong, s"doc$i")).toDF("id", "txt")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val schema = spark.read.parquet(dir).schema
    val stream = Streaming.rateLimitedFileStream(spark, dir, schema,
      maxFilesPerTrigger = 1)
    val q = stream.writeStream.format("memory").queryName("rated")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("rated").count() == 3) // all arrive...
      // ...across multiple micro-batches (1 file per trigger)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
    } finally q.stop()
  }

  test("multimodal: resize truncates payloads and frame sampling explodes offsets") {
    val df = Seq((1L, "abcdefghij")).toDF("id", "txt")
      .withColumn("media", encode(col("txt"), "utf-8"))
    val resized = graft.operators.Multimodal.resizeMedia(df, "media", maxBytes = 4)
    assert(resized.head().getAs[Array[Byte]]("resized").length == 4)
    val frames = graft.operators.Multimodal.sampleFrames(df, "media", everyNBytes = 3)
      .select("frame_idx", "frame_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // 10 bytes / 3 → frames at offsets 0, 3, 6
    assert(frames.toSet == Set((0L, 0L), (1L, 3L), (2L, 6L)))
    // media metadata struct carries byte counts
    val meta = graft.operators.Multimodal.withMediaMeta(df, "media", "text/plain")
      .select("media_meta.n_bytes", "media_meta.mime").head()
    assert(meta.getLong(0) == 10L && meta.getString(1) == "text/plain")
  }

  test("multimodal: keyframe dedup pairs videos by shared aligned frames") {
    // 1 and 2 share both 4-byte frames; 3 shares only the first frame with
    // them (below minShared=2); 4 shares nothing.
    val df = Seq(
      (1L, "aaaabbbb"), (2L, "aaaabbbb"),
      (3L, "aaaacccc"), (4L, "ddddeeee")).toDF("doc_id", "txt")
      .withColumn("media", encode(col("txt"), "utf-8"))
    val pairs = graft.operators.Multimodal.keyframeDedup(
      df, idCol = "doc_id", binCol = "media", frameBytes = 4, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSet == Set((1L, 2L, 2L)))
    // lowering the gate admits the single-frame overlaps
    val loose = graft.operators.Multimodal.keyframeDedup(
      df, idCol = "doc_id", binCol = "media", frameBytes = 4, minShared = 1)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(loose.toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // the hot-frame cap drops a fingerprint shared by too many videos
    val capped = graft.operators.Multimodal.keyframeDedup(
      df, idCol = "doc_id", binCol = "media", frameBytes = 4,
      minShared = 1, maxDocFreq = 2)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSet == Set((1L, 2L)),
      "the 3-video 'aaaa' frame must cap out; the 2-video 'bbbb' frame stays")
  }

  test("multimodal: silence trim drops low-energy frames, keeps per-media counts") {
    // 'zzzz' frames (energy 4*122=488) vs '    ' frames (energy 4*32=128);
    // a sub-frame doc still yields its one short frame ('zz', energy 244)
    val df = Seq((1L, "zzzz    zzzz"), (2L, "zz")).toDF("doc_id", "txt")
      .withColumn("media", encode(col("txt"), "utf-8"))
    val out = graft.operators.Multimodal.silenceTrim(
      df, idCol = "doc_id", binCol = "media", frameBytes = 4, minEnergy = 400L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (3L, 2L), "space frame trimmed, two loud frames kept")
    assert(out(2L) == (1L, 0L), "sub-frame doc's short frame under threshold")
  }

  test("multimodal: stub feature extraction preserves schema and determinism") {
    val df = Seq((1L, "abc"), (2L, "abc"), (3L, "xyz")).toDF("id", "txt")
      .withColumn("media", encode(col("txt"), "utf-8"))
    val out = graft.operators.Multimodal.extractFeatures(df, "media", dim = 4)
    assert(out.columns.contains("features"))
    val rows = out.select("id", "features").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(rows(1L) == rows(2L)) // deterministic: same bytes → same features
    assert(rows(1L) != rows(3L))
    assert(rows(1L).length == 4)
  }

  test("streaming merge-upsert sink maintains the table; a replayed batch converges by key") {
    // The CDC-stream-to-table pattern: each micro-batch MERGEs into the
    // partitioned layout. Correctness claims, each asserted below:
    //   (1) batch 1 bootstraps, batch 2 updates key 1 + inserts key 3,
    //   (2) the untouched yr=2024 partition keeps its exact files,
    //   (3) a crash-replay of a committed batch leaves the table
    //       IDENTICAL — idempotence comes from the merge key, no manifest.
    val base = tmpDir("graft-mus")
    val (inDir, ckpt, table) = (s"$base/in", s"$base/ckpt", s"$base/table")
    def addBatch(rows: Seq[(Long, String, Int, Double)]): Unit =
      rows.toDF("id", "v", "yr", "amt")
        .coalesce(1).write.mode("append").parquet(inDir)
    addBatch(Seq((1L, "a", 2023, 10.0), (2L, "b", 2024, 20.0)))
    val schema = spark.read.parquet(inDir).schema
    def run(): Unit = {
      val q = Streaming.mergeUpsertSink(
        spark.readStream.schema(schema).parquet(inDir),
        table, keyCols = Seq("id"), partCols = Seq("yr"))
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination(60000)
    }
    run()
    def snapshot(): Set[(Long, String, Int, Double)] =
      spark.read.parquet(table).select("id", "v", "yr", "amt")
        .as[(Long, String, Int, Double)].collect().toSet
    assert(snapshot() == Set((1L, "a", 2023, 10.0), (2L, "b", 2024, 20.0)))
    def files2024(): Set[(String, Long, Long)] = {
      val d = new java.io.File(s"$table/yr=2024")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).toSet
    }
    val sig2024 = files2024()
    addBatch(Seq((1L, "a2", 2023, 11.0), (3L, "c", 2023, 30.0)))
    run() // processes only the new file: update key 1, insert key 3
    val want = Set((1L, "a2", 2023, 11.0), (2L, "b", 2024, 20.0), (3L, "c", 2023, 30.0))
    assert(snapshot() == want)
    assert(files2024() == sig2024, "untouched partition must keep its files")
    // crash window: drop the newest checkpoint commit so the restarted
    // query re-delivers the already-merged batch
    val commits = new java.io.File(s"$ckpt/commits")
      .listFiles().filterNot(_.getName.startsWith("."))
    val newest = commits.maxBy(_.getName.toLong)
    new java.io.File(s"$ckpt/commits", s".${newest.getName}.crc").delete()
    assert(newest.delete())
    run() // re-delivers batch 1
    assert(snapshot() == want, "replayed batch must converge, not duplicate")
  }

  test("streaming mor-delete sink records deletes without rewrites; replay converges") {
    // The retraction twin of the merge-upsert sink: delete keys stream
    // into the merge-on-read sidecar. Asserted below:
    //   (1) reads through MergeOnRead see the streamed deletes at once,
    //   (2) NO table data file is rewritten at stream speed,
    //   (3) a crash-replayed batch appends redundant sidecar rows that
    //       change no answer (delete-by-key idempotence),
    //   (4) the maintenance fold applies the backlog and clears it.
    val base = tmpDir("graft-mords")
    val (inDir, ckpt, table) = (s"$base/in", s"$base/ckpt", s"$base/table")
    spark.range(0, 500)
      .select(col("id"), (col("id") % 2).cast("int").as("part"))
      .write.partitionBy("part").parquet(table)
    val dataFiles = spark.read.parquet(table).inputFiles.toSet
    def addBatch(ids: Seq[Long]): Unit =
      ids.map(i => (i, (i % 2).toInt)).toDF("id", "part")
        .coalesce(1).write.mode("append").parquet(inDir)
    addBatch(Seq(3L, 7L, 10L))
    val schema = spark.read.parquet(inDir).schema
    def run(): Unit = {
      val q = Streaming.morDeleteSink(
        spark.readStream.schema(schema).parquet(inDir),
        table, keyCols = Seq("id"), partCols = Seq("part"))
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination(60000)
    }
    run()
    def visible(): Long =
      graft.operators.MergeOnRead.read(spark, table, Seq("id")).count()
    assert(visible() == 497)
    assert(spark.read.parquet(table).inputFiles.toSet == dataFiles,
      "stream-speed deletes must not rewrite any data file")
    addBatch(Seq(10L, 42L)) // 10 deleted twice across batches — still one delete
    run()
    assert(visible() == 496)
    // crash window: drop the newest commit so the batch re-delivers
    val commits = new java.io.File(s"$ckpt/commits")
      .listFiles().filterNot(_.getName.startsWith("."))
    val newest = commits.maxBy(_.getName.toLong)
    new java.io.File(s"$ckpt/commits", s".${newest.getName}.crc").delete()
    assert(newest.delete())
    run()
    assert(visible() == 496, "replayed delete batch must converge, not over-delete")
    // maintenance fold: physical table == the streamed view, sidecar gone
    val st = graft.operators.MergeOnRead.fold(spark, table, Seq("id"), Seq("part"))
    assert(st.rowsReplaced == 4)
    assert(spark.read.parquet(table).count() == 496)
    assert(graft.operators.MergeOnRead.fold(spark, table, Seq("id"), Seq("part"))
      == graft.operators.Merge.MergeStats(0L, 0L, 0L, 0L))
  }

  test("streaming scd2 sink: per-batch versions, in-batch seq dedupe, replay converges") {
    import graft.operators.Scd
    val base = tmpDir("graft-scds")
    val (inDir, ckpt, table) = (s"$base/in", s"$base/ckpt", s"$base/table")
    Scd.init(spark,
      table, Seq((1L, "GOLD"), (2L, "SILVER"), (3L, "GOLD")).toDF("id", "tier"),
      version = 1L)
    def addBatch(rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("id", "tier", "seq")
        .coalesce(1).write.mode("append").parquet(inDir)
    // two updates for key 1 in ONE batch: the seq-20 row must win; key 9 inserts
    addBatch(Seq((1L, "PLAT", 10L), (1L, "DIAMOND", 20L), (9L, "BRONZE", 5L)))
    val schema = spark.read.parquet(inDir).schema
    def run(): Unit = {
      val q = Streaming.scdSink(
        spark.readStream.schema(schema).parquet(inDir),
        table, keyCols = Seq("id"), seqCol = "seq")
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination(60000)
    }
    run()
    val cur = Scd.current(spark, table).orderBy("id")
      .select("id", "tier", "scd_valid_from").as[(Long, String, Long)]
      .collect().toSeq
    assert(cur == Seq((1L, "DIAMOND", 1000L), (2L, "SILVER", 1L),
      (3L, "GOLD", 1L), (9L, "BRONZE", 1000L)),
      "latest seq wins inside a batch; batch 0 applies at baseVersion+0")
    // second batch at version 1001
    addBatch(Seq((2L, "PLAT", 30L)))
    run()
    assert(Scd.current(spark, table).filter(col("id") === 2)
      .select("scd_valid_from").as[Long].head() == 1001L)
    val before = Scd.history(spark, table)
      .orderBy("id", "scd_valid_from").collect().toSeq
    // crash window: drop the newest commit so the batch re-delivers
    val commits = new java.io.File(s"$ckpt/commits")
      .listFiles().filterNot(_.getName.startsWith("."))
    val newest = commits.maxBy(_.getName.toLong)
    new java.io.File(s"$ckpt/commits", s".${newest.getName}.crc").delete()
    assert(newest.delete())
    run()
    val after = Scd.history(spark, table)
      .orderBy("id", "scd_valid_from").collect().toSeq
    assert(after == before,
      "replayed batch must be a detected no-op, never a duplicate version")
  }

  test("validated merge sink quarantines a contract-violating batch, table stays clean") {
    import graft.operators.Expectations._
    val base = tmpDir("graft-vmus")
    val (inDir, ckpt, table, quar) =
      (s"$base/in", s"$base/ckpt", s"$base/table", s"$base/quar")
    def addBatch(rows: Seq[(Long, Double, Int)]): Unit =
      rows.toDF("id", "amt", "yr")
        .coalesce(1).write.mode("append").parquet(inDir)
    val suite = Seq(NotNull("amt"), InRange("amt", 0.0, 100.0), Unique("id"))
    addBatch(Seq((1L, 10.0, 2024), (2L, 20.0, 2024)))
    val schema = spark.read.parquet(inDir).schema
    def run(): Unit = {
      val q = Streaming.validatedMergeUpsertSink(
        spark.readStream.schema(schema).parquet(inDir),
        table, Seq("id"), Seq("yr"), suite, quar)
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination(60000)
    }
    run() // clean batch admits + bootstraps
    assert(spark.read.parquet(table).count() == 2)
    addBatch(Seq((3L, 999.0, 2024), (3L, 30.0, 2024))) // range viol + dup key
    run() // poisoned batch must quarantine
    assert(spark.read.parquet(table).count() == 2, "table must stay clean")
    assert(spark.read.parquet(s"$quar/batch-1").count() == 2)
    val report = spark.read.json(s"$quar/batch-1.report")
      .select("expectation").as[String].collect().toSet
    assert(report == Set("in_range(amt,0.0,100.0)", "unique(id)"))
    addBatch(Seq((3L, 30.0, 2024))) // fixed re-send admits
    run()
    assert(spark.read.parquet(table).select("id").as[Long].collect().toSet
      == Set(1L, 2L, 3L))
  }
}
