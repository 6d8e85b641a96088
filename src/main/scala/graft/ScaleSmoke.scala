package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Scale smoke: run the LSH/dedup/ANN paths on a synthetic corpus 1–2
  * orders of magnitude beyond the bench testdata (via the DataSourceV2
  * generator) and report wall-clock, to demonstrate the shuffle-bounded
  * plans hold as data grows. Usage: runMain graft.ScaleSmoke [rows]
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val rows = if (args.nonEmpty) args(0).toLong else 200000L
    val cpus = Session.cores
    val spark = Session(cpus)
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[scale] $label: $n%d rows in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    val docs = spark.read.format("graft.sources.v2.SyntheticDocs")
      .option("rows", rows.toString).option("partitions", cpus)
      .option("seed", "7").load()
      .withColumnRenamed("id", "doc_id")
    time(s"exact dedup over $rows docs")(Dedup.exact(docs).count())
    // Banding matched to the threshold (Dedup.bandingFor): the knee of the
    // candidate S-curve sits just below the verify threshold, so
    // sub-threshold pairs mostly never become candidates — on a
    // pathologically dense corpus this is the difference between shuffling
    // the near-dup graph and shuffling only real hits (the old hardcoded
    // 8 hashes / 2 rows per band admitted ~66% of s=0.5 pairs: 770 s vs
    // 15 s at 1M docs, identical output).
    val (nh, nb) = Dedup.bandingFor(0.8)
    time(s"minhash LSH pairs over $rows docs ($nh hashes, $nb bands)")(
      Dedup.minhashPairs(docs, numHashes = nh, bands = nb, threshold = 0.8).count())
    time(s"simhash pairs over $rows docs")(
      Dedup.simhashPairs(docs, maxHamming = 3, chunks = 4).count())

    // Curation ops (r04): scan-local / windowed shapes. Aggregate checksums
    // force evaluation (a bare count() would let Catalyst prune the work).
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phone = "\\+\\d[\\d ]{6,}\\d"
    time(s"pii scrub over $rows docs (checksum)")(
      docs.select(regexp_replace(regexp_replace(regexp_replace(col("text"),
        email, "<EMAIL>"), ip, "<IP>"), phone, "<PHONE>").as("clean"))
        .agg(sum(length(col("clean")))).head().getLong(0))
    time(s"stratified sample over $rows docs")(
      docs.filter(graft.expressions.PolyHash(
        concat(lit("sample|"), col("doc_id").cast("string"))) % 1000 < 300).count())
    time(s"repetition ratio over $rows docs (checksum)")(
      docs.select(graft.functions.TextFunctions.shingles(
        graft.functions.TextFunctions.words(col("text")), 2).as("bg"))
        .agg(sum(size(array_distinct(col("bg"))))).head().getLong(0))
    time(s"token shards over $rows docs (max shard)") {
      val stream = org.apache.spark.sql.functions.pmod(
        crc32(col("doc_id").cast("string")), lit(32))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(stream).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      docs.select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens"))
        .select(floor(coalesce(sum(col("n_tokens")).over(w), lit(0)) / lit(2000.0))
          .as("shard_id"))
        .agg(max(col("shard_id"))).head().getLong(0)
    }
    // r06 curation ops: block dedup is the heaviest new shape (block-string
    // agg + regroup); commonness is two aggs + a broadcast join.
    time(s"block dedup over $rows docs (kept blocks)")(
      Dedup.blockDedup(docs, blockWords = 10)
        .agg(sum(col("n_kept"))).head().getLong(0))
    time(s"commonness score over $rows docs (checksum)") {
      val toks = docs.select(col("doc_id"),
        explode(graft.functions.TextFunctions.words(col("text"))).as("w"))
      val vocab = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
      toks.join(broadcast(vocab), "w").groupBy("doc_id")
        .agg(sum(col("cnt")).as("s"))
        .agg(sum(col("s"))).head().getLong(0)
    }

    // Hot-key as-of A/B: every row on ONE key, so the unsalted window sorts
    // the whole dataset in a single partition while the bucketed variant
    // spreads it over time buckets — the escape hatch must win, not just
    // match (parity is property-tested; this measures the point).
    val nHot = math.min(rows * 100, 20000000L)
    val hotLeft = spark.range(nHot).select(lit(1L).as("k"),
      col("id").as("t"), col("id").as("event"))
    val hotRight = spark.range(nHot / 10).select(lit(1L).as("rk"),
      (col("id") * 10).as("rt"), concat(lit("p"), col("id")).as("payload"),
      col("id").as("seq"))
    // aggregate over the matched payload so the window can't be pruned —
    // a bare count() lets Catalyst drop the whole window computation
    time(s"as-of join, ONE hot key, $nHot left rows (unsalted)")(
      graft.operators.AsOfJoin.asofJoin(hotLeft, hotRight,
        "k", "rk", "t", "rt", Seq("payload"), "seq")
        .agg(count(col("asof_payload"))).head().getLong(0))
    time(s"as-of join, ONE hot key, $nHot left rows (bucketed)")(
      graft.operators.AsOfJoin.asofJoinBucketed(hotLeft, hotRight,
        "k", "rk", "t", "rt", Seq("payload"), "seq",
        bucketOf = t => floor(t / math.max(1L, nHot / 64)))
        .agg(count(col("asof_payload"))).head().getLong(0))

    // Next-event (lead) A/B — w05's duration shape. Aggregate over the
    // looked-up time so the lead can't be pruned.
    time(s"next-event lead, ONE hot key, $nHot rows (plain window)")(
      graft.operators.NextEvent.nextTime(hotLeft, "k", "t", Seq("event"))
        .agg(count(col("next_t"))).head().getLong(0))
    time(s"next-event lead, ONE hot key, $nHot rows (bucketed)")(
      graft.operators.NextEvent.nextTimeBucketed(hotLeft, "k", "t",
        Seq("event"), bucketWidth = math.max(1L, nHot / 64))
        .agg(count(col("next_t"))).head().getLong(0))

    // Range-frame trailing sum A/B — no WindowGroupLimit rescue exists for
    // SUM frames, so this is the third hot-key hatch that must earn its keep.
    // Sized at nHot/5: the plain single-partition frame is so slow (measured
    // 668 s vs 107 s bucketed at 20M rows — identical checksums) that the
    // full-size A/B would dominate the whole smoke run.
    val nSeries = nHot / 5
    val hotSeries = spark.range(nSeries).select(lit(1L).as("k"),
      col("id").as("t"), (pmod(col("id"), lit(97L)) + 1L).as("v"))
    time(s"trailing sum frame=1000, ONE hot key, $nSeries rows (plain)")(
      graft.operators.TrailingAgg.trailingSum(hotSeries, "k", "t", "v", 1000L)
        .agg(sum(col("trailing_sum"))).head().getLong(0))
    time(s"trailing sum frame=1000, ONE hot key, $nSeries rows (bucketed)")(
      graft.operators.TrailingAgg.trailingSumBucketed(hotSeries, "k", "t", "v",
        1000L, math.max(1000L, nSeries / 64))
        .agg(sum(col("trailing_sum"))).head().getLong(0))

    // Same A/B for the top-k hatch (count() is fine here: the rank filter
    // depends on the window output, so nothing prunes).
    val hotScores = spark.range(nHot).select(lit(1L).as("grp"),
      pmod(xxhash64(col("id")), lit(1000000L)).as("score"), col("id").as("row_id"))
    val ord = Seq(col("score").desc, col("row_id"))
    time(s"top-3 of ONE hot group, $nHot rows (plain window)")(
      graft.operators.TopK.perGroup(hotScores, Seq("grp"), ord, k = 3).count())
    time(s"top-3 of ONE hot group, $nHot rows (salted)")(
      graft.operators.TopK.perGroupSalted(hotScores, Seq("grp"), ord, k = 3,
        saltOf = xxhash64(col("row_id")), salts = 64).count())

    // Heap top-k aggregate vs the window path. Pure top-k: Spark 4's
    // WindowGroupLimit already prunes the window to k rows per group
    // map-side, so the window plan is the bar to beat. Composed (top-k AND
    // count/sum in one result): the window formulation needs a second
    // aggregate plus a join back, while topk_by rides the same partial-agg
    // pass — k rows per group per map partition reach the one shuffle.
    val nAgg = nHot
    val grouped = spark.range(nAgg).select(pmod(col("id"), lit(1000L)).as("grp"),
      pmod(xxhash64(col("id")), lit(1000000L)).as("score"), col("id").as("row_id"))
    time(s"top-3 per group, $nAgg rows, 1000 groups (window)")(
      graft.operators.TopK.perGroup(grouped, Seq("grp"),
        Seq(col("score").desc, col("row_id").desc), k = 3).count())
    time(s"top-3 per group, $nAgg rows, 1000 groups (heap agg)")(
      grouped.groupBy("grp").agg(graft.expressions.TopKBy.topkBy(
        struct(col("score"), col("row_id")), col("row_id"), 3).as("top"))
        .select(col("grp"), explode(col("top"))).count())
    time(s"top-3 + count + sum per group, $nAgg rows (window + agg + join)") {
      val top = graft.operators.TopK.perGroup(grouped, Seq("grp"),
        Seq(col("score").desc, col("row_id").desc), k = 3)
        .groupBy("grp").agg(collect_list(col("row_id")).as("ids"))
      val aggs = grouped.groupBy("grp")
        .agg(count(lit(1)).as("n"), sum(col("score")).as("s"))
      aggs.join(top, "grp").agg(sum(col("n"))).head().getLong(0)
    }
    time(s"top-3 + count + sum per group, $nAgg rows (one-pass heap agg)")(
      grouped.groupBy("grp").agg(count(lit(1)).as("n"), sum(col("score")).as("s"),
        graft.expressions.TopKBy.topkBy(
          struct(col("score"), col("row_id")), col("row_id"), 3).as("top"))
        .agg(sum(col("n"))).head().getLong(0))

    // Substring-span dedup, ONE gram duplicated across every document: each
    // doc is unique-prefix(8) + the SAME 30-char passage, so of the 9 grams
    // per doc exactly one (the pure passage) is globally hot — nSpan
    // occurrences of ONE key, the "All rights reserved" boilerplate shape.
    // The agg mode's duplicate test collapses the hot gram map-side (one
    // row per input partition however hot the key); the window mode sorts
    // all nSpan occurrences in a single task — the A/B measures the
    // hot-key bound the default plan buys, at a hot-key fraction (~11% of
    // all gram rows) where the single straggler task dominates.
    val nSpan = math.min(rows * 50, 10000000L)
    val spanDocs = spark.range(nSpan).select(col("id").as("doc_id"),
      concat(substring(md5(col("id").cast("string")), 1, 8),
        lit("all rights reserved worldwide.")).as("text"))
    time(s"substring spans, ONE gram duplicated $nSpan× (agg)")(
      Dedup.substringSpans(spanDocs, k = 30)
        .agg(sum(col("dup_chars"))).head().getLong(0))
    time(s"substring spans, ONE gram duplicated $nSpan× (window)")(
      Dedup.substringSpans(spanDocs, k = 30, dupTestVia = "window")
        .agg(sum(col("dup_chars"))).head().getLong(0))

    // SimHash with ONE degenerate chunk bucket: nHot docs share identical
    // text → identical 60-bit signature → every chunk bucket holds all of
    // them. The old (chunk,key) self-join did nHot²/2 Hamming probes in one
    // task (10⁶ docs → 10¹² probes — unrunnable); the capped-bucket plan
    // drops buckets over maxDocFreq, so the degenerate mass costs one
    // aggregation row and the distinct tail still pairs normally. The A/B
    // measures the cap on vs effectively-off (cap still bounds the probe
    // work at nSim²/2 ≈ 5·10⁹ only when off — keep nSim small enough that
    // the uncapped run finishes, and the contrast is still stark).
    val nSim = math.min(rows, 100000L)
    val simDocs = spark.range(nSim).select(col("id").as("doc_id"),
      when(col("id") % 2 === 0, lit("the quick brown fox jumps over the lazy dog boilerplate banner"))
        .otherwise(concat(md5(col("id").cast("string")), lit(" unique filler text "),
          md5((col("id") * 31).cast("string")))).as("text"))
    time(s"simhash pairs, ${nSim / 2} identical docs (bucket cap 4096 on)")(
      Dedup.simhashPairs(simDocs, maxHamming = 3, chunks = 4).count())
    // cap-off contrast runs on a 20k slice: 10k identical docs already mean
    // 10⁸/2 pair emissions per chunk — at the full nSim it would not finish
    val simSmall = simDocs.filter(col("doc_id") < 20000)
    time(s"simhash pairs, 10000 identical docs, cap OFF (old plan's probe work)")(
      Dedup.simhashPairs(simSmall, maxHamming = 3, chunks = 4,
        maxDocFreq = Int.MaxValue).count())

    // ANN at scale: synthetic deterministic embeddings (hash-derived, 16-d)
    // — LSH buckets and IVF cells must bound per-query work as the corpus
    // grows; queries are a small broadcast side.
    val nVecs = math.min(rows, 200000L)
    val vecs = spark.range(nVecs).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)), i =>
        (pmod(xxhash64(col("id"), i), lit(2001L)).cast("double") / 1000.0) - 1.0)
        .as("embedding"))
    val qs = vecs.filter(col("vec_id") < 100)
    time(s"LSH ANN top-3 of 100 queries over $nVecs vectors")(
      Similarity.lshTopK(vecs, qs, k = 3, planes = 12, tables = 2).count())
    time(s"IVF ANN top-3 of 100 queries over $nVecs vectors")(
      Similarity.ivfTopK(vecs, qs, k = 3, nCentroids = 64, nProbe = 4).count())
    // IVFADC: auto √n cells (~450 at 200k) bound candidates; codes are m=4
    // bytes per 16-d vector; the exact re-rank is a constant 24 rows/query
    time(s"IVFADC top-3 of 100 queries over $nVecs vectors (auto cells)")(
      Similarity.ivfPqTopK(vecs, qs, k = 3, nCentroids = 0, nProbe = 8,
        m = 4, ks = 16, refine = 8).count())
    // r16: the stored-index ingest loop under the generation discipline —
    // base build on half the corpus, two atomic O(batch) appends with the
    // FROZEN fits (no refit, no history re-scan), search over the composed
    // read, then a stored-artifact-only compact. Append cost must track
    // the batch, not the corpus; compact is one codes rewrite.
    locally {
      val idxDir = java.nio.file.Files
        .createTempDirectory("scale-annidx").toString
      val half = nVecs / 2
      val quarter = nVecs / 4
      time(s"IVFADC index build over $half vectors (base generation)") {
        graft.operators.VectorIndex.write(
          vecs.filter(col("vec_id") < half), idxDir,
          nCentroids = 0, m = 4, ks = 16)
        half
      }
      time(s"IVFADC atomic append of $quarter vectors (frozen fits)") {
        graft.operators.VectorIndex.appendBatch(
          vecs.filter(col("vec_id") >= half &&
            col("vec_id") < half + quarter), idxDir, "day1")
        quarter
      }
      time(s"IVFADC atomic append of ${nVecs - half - quarter} vectors") {
        graft.operators.VectorIndex.appendBatch(
          vecs.filter(col("vec_id") >= half + quarter), idxDir, "day2")
        nVecs - half - quarter
      }
      time(s"IVFADC stored-index search, 100 queries, base + 2 batches")(
        graft.operators.VectorIndex.search(qs, idxDir, k = 3, nProbe = 8,
          refine = 8).count())
      time(s"IVFADC compact (fold 2 batches into next generation)") {
        graft.operators.VectorIndex.compactIndex(spark, idxDir)
        2L
      }
      time(s"IVFADC stored-index search after compact (same answers)")(
        graft.operators.VectorIndex.search(qs, idxDir, k = 3, nProbe = 8,
          refine = 8).count())
    }

    // r07 ops. SemDeDup: cells must bound the pair join — planes sized so
    // the mean cell holds ~nVecs/2^planes vectors (12 planes → ~50 at 200k).
    time(s"SemDeDup over $nVecs vectors (12-plane cells)")(
      Similarity.semDedup(vecs, tau = 0.95, planes = 12).count())
    // Keyframe dedup: ONE shuffle on fingerprint; the synthetic corpus's
    // shared phrases make real frame collisions, the cap bounds fan-out.
    time(s"keyframe near-dup over $rows docs")(
      graft.operators.Multimodal.keyframeDedup(
        docs.withColumn("media", encode(col("text"), "utf-8")),
        idCol = "doc_id", binCol = "media",
        frameBytes = 32, minShared = 1, maxDocFreq = 50).count())
    // Bloom pruning: the probe never joins — pass-through must track the
    // build fraction (~1%), not the probe size.
    time(s"bloom prune ${rows * 10} probe rows vs ${rows / 100} build keys") {
      val probeB = spark.range(rows * 10)
        .select(pmod(col("id"), lit(rows)).as("k"))
      val buildB = spark.range(rows / 100).select((col("id") * 100L).as("bk"))
      graft.operators.RuntimeFilter.bloomPrune(
        probeB, "k", buildB, "bk", expectedItems = rows / 100).count()
    }
    // BM25 retrieval (r09): per-query cost ∝ matched postings. The
    // synthetic vocab is 16 words appearing in ~every doc, so any vocab
    // term is a worst-case stopword (df frac ≈ 1); a rare marker term is
    // planted in 1% of docs. The A/B measures one query holding both: the
    // stopword drags ~every doc through the scoring join, the maxDfFrac
    // cut keeps only the rare postings (~1% of docs) — same top-k for the
    // rare term, corpus-fraction less join work.
    val rdocs = docs.withColumn("text",
      when(col("doc_id") % 100 === 0, concat(col("text"), lit(" rareterm")))
        .otherwise(col("text")))
    val rq = spark.range(1).select(lit(1L).as("qid"), lit("spark").as("term"))
      .unionAll(spark.range(1).select(lit(1L).as("qid"), lit("rareterm").as("term")))
    time(s"bm25 top-10, stopword + 1%-term query, $rows docs (no prune)")(
      graft.operators.Retrieval.bm25TopK(rdocs, rq, k = 10).count())
    time(s"bm25 top-10, same query, maxDfFrac=0.5 (stopword pruned)")(
      graft.operators.Retrieval.bm25TopK(rdocs, rq, k = 10, maxDfFrac = 0.5).count())
    time(s"tfidf top-5 keywords over $rows docs (heap agg)")(
      graft.operators.Retrieval.tfidfKeywords(rdocs, k = 5).count())

    // Overlap join hot key (r10): ALL intervals on ONE key. Spark's native
    // plan (equi on key + range residual) funnels every same-key pair
    // through one task — nL×nR predicate tests, quadratic. The grid-
    // partitioned operator bounds work by per-bucket density. The naive
    // side runs at a size where n²/2 pair tests are still feasible
    // (~rows/2 × rows/10); the bucketed side ALSO runs at 10× that left
    // cardinality, where the naive plan would be 100× the pair tests.
    {
      val nL = rows / 2
      val nR = rows / 10
      val horizon = 100000000L // timeline length; ~1k-wide intervals
      def ivs(n: Long, salt: Int, width: Long) = spark.range(n)
        .select(lit(1L).as("k"), col("id").as(s"id$salt"),
          pmod(xxhash64(col("id"), lit(salt)), lit(horizon)).as("s"))
        .withColumn("e", col("s") + pmod(xxhash64(col(s"id$salt"), lit(salt + 1)),
          lit(width)) + 1L)
      val l = ivs(nL, 1, 2000L)
      val r = ivs(nR, 2, 2000L).withColumnRenamed("s", "s2")
        .withColumnRenamed("e", "e2")
      time(s"overlap join, 1 hot key, $nL x $nR intervals (native per-key plan)")(
        l.join(r, l("k") === r("k") && l("s") < r("e2") && r("s2") < l("e"))
          .count())
      time(s"overlap join, 1 hot key, $nL x $nR intervals (grid-bucketed)")(
        graft.operators.IntervalJoin.overlapJoin(l, r, Seq("k"),
          "s", "e", "s2", "e2", bucketWidth = 4000L).count())
      val lBig = ivs(nL * 10, 3, 2000L)
      time(s"overlap join, 1 hot key, ${nL * 10} x $nR intervals (grid-bucketed)")(
        graft.operators.IntervalJoin.overlapJoin(lBig, r, Seq("k"),
          "s", "e", "s2", "e2", bucketWidth = 4000L).count())
    }
    // Quantile-sketch rollup (x17's pattern) at 100× the bench row count:
    // the point of the stored sketch table is that PERIOD quantiles cost
    // |days| sketch rows, not a history rescan — measure both sides.
    {
      val nVals = rows * 100
      val days = 365L
      val vals = spark.range(nVals)
        .select(pmod(col("id"), lit(days)).as("day"),
          (xxhash64(col("id")).cast("double") / 1e12).as("v"))
      val daily = vals.groupBy("day").agg(
        graft.expressions.QSketch.sketchAgg(col("v"), 0.01).as("sk"))
      daily.persist()
      time(s"quantile sketches: $nVals values -> $days daily rows (one pass)")(
        daily.count())
      val bytes = daily.agg(sum(length(col("sk")))).head().getLong(0)
      println(s"[scale] sketch table: $bytes bytes total " +
        s"(~${bytes / days} per day — the stored artifact)")
      time(s"period p50/p95 from $days stored sketches (history untouched)")(
        daily.agg(graft.expressions.QSketch.mergeAgg(col("sk")).as("msk"))
          .select(graft.expressions.QSketch.query(col("msk"), 0.5),
            graft.expressions.QSketch.query(col("msk"), 0.95)).count())
      time(s"exact p50/p95 rescanning all $nVals values (the avoided cost)")(
        vals.agg(expr("percentile(v, 0.5)"), expr("percentile(v, 0.95)")).count())
      daily.unpersist()
    }
    // Profiler (r11): the approx-only default must stay a single-branch
    // one-pass aggregate (no Expand) however many columns are profiled —
    // vs the exact mode whose Expand fans the scan ×(cols+1). Same input,
    // both timed; at 100 TB only the approx shape is a routine pass.
    {
      val nVals = rows * 20
      val wide = spark.range(nVals).select(col("id"),
        pmod(col("id"), lit(97L)).as("a"),
        (xxhash64(col("id")).cast("double") / 1e12).as("b"),
        pmod(xxhash64(col("id"), lit(1)), lit(5L)).cast("string").as("c"))
      // exact first: the first profile run pays one-time codegen/agg
      // warm-up, and charging that to the approx side would flatter the
      // Expand plan in the comparison
      time(s"exact profile (4 cols, $nVals rows, Expand x5 — the oracle-payload price)")(
        graft.operators.Profiler.profile(wide, Seq("id", "a", "b", "c"),
          exact = true).count())
      time(s"approx profile (4 cols, $nVals rows, one pass, no Expand)")(
        graft.operators.Profiler.profile(wide, Seq("id", "a", "b", "c")).count())
    }
    // Partition pruning (r11): a day-partitioned layout at 365 partitions —
    // a one-day predicate must cost ~1/365th of the full scan, because the
    // listing-level prune never opens the other directories. This is the
    // at-scale form of pp01's plan guard (files skipped BEFORE IO, vs
    // z01's in-file row-group skipping).
    {
      val nVals = rows * 20
      val dir = java.nio.file.Files.createTempDirectory("graft-pp-smoke").toString
      val facts = spark.range(nVals).select(col("id"),
        pmod(col("id"), lit(365L)).as("day"),
        (xxhash64(col("id")).cast("double") / 1e12).as("v"))
      time(s"write $nVals rows day-partitioned (365 dirs)") {
        graft.sources.Sinks.parquetPartitioned(facts, dir, Seq("day")); 365L
      }
      val reread = spark.read.parquet(dir)
      time(s"full scan over all 365 partitions (checksum)")(
        reread.agg(sum(col("id"))).head().getLong(0))
      time("one-day pruned scan (directory-level skip)")(
        reread.filter(col("day") === 7).agg(sum(col("id"))).head().getLong(0))
    }
    // MERGE copy-on-write (r11): the |today|-not-|history| contract
    // measured. Upserting one day's change batch into a 365-day layout
    // reads + anti-joins + rewrites ONE directory; the alternative a
    // format-less table usually falls back to — rewrite the whole layout
    // with the batch unioned in — pays |history|. Both timed on the same
    // table so the gap IS the contract.
    {
      val nVals = rows * 20
      val dir = java.nio.file.Files
        .createTempDirectory("graft-merge-smoke").toString + "/t"
      val facts = spark.range(nVals).select(col("id"),
        pmod(col("id"), lit(365L)).as("day"),
        (xxhash64(col("id")).cast("double") / 1e12).as("v"))
      graft.sources.Sinks.parquetPartitioned(facts, dir, Seq("day"))
      val batch = facts.filter(col("day") === 7 && pmod(col("id"), lit(4L)) === 0)
        .withColumn("v", col("v") + 1.0)
      time(s"merge one day's batch (COW: 1/365 dirs read+rewritten)") {
        graft.operators.Merge.upsert(spark, dir, batch,
          keyCols = Seq("id"), partCols = Seq("day")).rowsWritten
      }
      val alt = java.nio.file.Files
        .createTempDirectory("graft-merge-alt").toString + "/t"
      time(s"the avoided cost: full-history rewrite of all $nVals rows") {
        val t = spark.read.parquet(dir)
        t.join(batch.select("id"), Seq("id"), "left_anti")
          .unionByName(batch.select(t.columns.map(col).toIndexedSeq: _*))
          .write.partitionBy("day").parquet(alt)
        nVals
      }
    }
    // Compaction (r11): per-file costs measured. A 30-day layout
    // fragmented to ~64 files/day (the per-micro-batch ingest shape) vs
    // the same data bin-packed to 1 file/day — same rows, same bytes
    // order, ~60x fewer files; the scan-time gap is pure listing/footer/
    // task-scheduling overhead, which is exactly what grows unbounded
    // under continuous ingest if nothing compacts.
    {
      val nVals = rows * 4
      val dir = java.nio.file.Files
        .createTempDirectory("graft-compact-smoke").toString + "/t"
      val facts = spark.range(nVals).select(col("id"),
        pmod(col("id"), lit(30L)).as("day"),
        (xxhash64(col("id")).cast("double") / 1e12).as("v"))
      facts.repartition(64).write.partitionBy("day").parquet(dir)
      val before = graft.operators.Compaction
        .stats(spark, dir, Seq("day")).map(_.files).sum
      time(s"full scan, fragmented layout ($before files, checksum)")(
        spark.read.parquet(dir).agg(sum(col("id"))).head().getLong(0))
      time(s"compact 30 day-dirs ($before files -> ~30)") {
        graft.operators.Compaction.compact(spark, dir, Seq("day"),
          targetBytes = 1L << 30).filesAfter.toLong
      }
      val after = graft.operators.Compaction
        .stats(spark, dir, Seq("day")).map(_.files).sum
      time(s"full scan, compacted layout ($after files, checksum)")(
        spark.read.parquet(dir).agg(sum(col("id"))).head().getLong(0))
    }
    // Winnowing (r11): selection is zero-shuffle scan-local array algebra
    // — cost linear in corpus, and the fingerprint index it leaves behind
    // is ~2/(w+1) of the full k-gram set (the affordability of a 100 TB
    // fingerprint store), with the ≥ w+k−1-word matching guarantee.
    time(s"winnowing selection over $rows docs (zero-shuffle, checksum)")(
      graft.operators.Winnowing.fingerprints(docs, k = 3, w = 4)
        .agg(sum(size(col("fps")))).head().getLong(0))
    // r16: overlap pairs is ONE capped-collect shuffle + local pair
    // fan-out (the d44 reshape) — a hot boilerplate fingerprint costs its
    // cap+1 buffer slots, never its document frequency, so the pair pass
    // must hold at corpus scale without the old df-count + cap-join +
    // self-join plan's three exchanges.
    time(s"winnowing overlap pairs over $rows docs (single-shuffle capped)")(
      graft.operators.Winnowing.overlapPairs(docs, k = 3, w = 4,
        minShared = 2, maxDocFreq = 200).count())
    // PageRank (r11): per-round cost must be bounded by |E| + |V|, never
    // |E|·rounds of lineage — 100x the bench's edge count through the
    // same 6 rounds. smallVertexSet keeps the 50k-node rank table
    // broadcast (edges never shuffle); the checksum forces full
    // materialization of the final ranks.
    locally {
      val nE = rows * 10
      val edges = spark.range(nE).select(
        pmod(xxhash64(col("id")), lit(50000L)).as("src"),
        pmod(xxhash64(col("id") + lit(nE)), lit(50000L)).as("dst"),
        (pmod(col("id"), lit(3L)) + 1L).as("w"))
      time(s"pagerank 6 rounds over $nE edges / 50k nodes (rank checksum)")(
        graft.operators.Graph.pageRank(edges, smallVertexSet = true)
          .agg(sum(col("rank_millionths"))).head().getLong(0))
    }
    // Label propagation (r12): same per-round bound as pagerank — one
    // |E| join + one (dst,label)-key agg + a struct-min argmax. The g05
    // query sparsifies its graph to |E| <= 2|V| first; the operator
    // itself must also hold on a DENSE graph (this one: 10 rows/node).
    locally {
      val nE = rows * 10
      val edges = spark.range(nE).select(
        pmod(xxhash64(col("id")), lit(50000L)).as("src"),
        pmod(xxhash64(col("id") + lit(nE)), lit(50000L)).as("dst"),
        (pmod(col("id"), lit(3L)) + 1L).as("w"))
      time(s"label propagation 4 rounds over $nE edges / 50k nodes (label checksum)")(
        graft.operators.Graph.labelPropagation(edges, smallVertexSet = true)
          .agg(sum(col("label"))).head().getLong(0))
    }
    // Frontier BFS (r13): a dense random digraph's walk count is
    // astronomically past any recursion limit, but the deduped frontier
    // saturates the 50k-node reachable set in ~a few rounds — per round
    // one frontier⋈E join + one anti join, so cost is rounds·|E|, never
    // walks. The checksum (node + depth sums) forces the full closure.
    locally {
      val nE = rows * 10
      val edges = spark.range(nE).select(
        pmod(xxhash64(col("id")), lit(50000L)).as("src"),
        pmod(xxhash64(col("id") + lit(nE)), lit(50000L)).as("dst"))
      val seeds = spark.range(1).select(lit(0L).as("node"))
      time(s"frontier BFS over $nE edges / 50k nodes (closure checksum)")(
        graft.operators.Graph.reachableFrom(edges, seeds)
          .agg(sum(col("node") + col("depth"))).head().getLong(0))
    }
    // Size-biased pips sample (r12): one scan computing priorities
    // scan-locally + TakeOrderedAndProject's per-partition heaps — cost
    // must stay scan-bound at any corpus size, never a global sort.
    time(s"pps sample k=1000 over $rows docs (weight checksum)")(
      graft.operators.Curation.ppsSample(docs, k = 1000)
        .agg(sum(col("ht_weight_ppm"))).head().getLong(0))
    // Co-occurrence hot-user cap (r11): i01's degenerate shape — one bot
    // user holding 100k distinct items would fan 5·10⁹ pairs through the
    // pair stage; the cap drops it BEFORE pairing, so the job is bounded
    // by the honest users' |items|²/2. Same density-bound discipline as
    // the d44 fingerprint cap.
    locally {
      val honest = spark.range(rows).select(
        pmod(col("id"), lit(rows / 20)).as("user_id"),
        pmod(xxhash64(col("id")), lit(500L)).as("k"))
      val bot = spark.range(100000L).select(
        lit(-1L).as("user_id"), col("id").as("k"))
      val ui = honest.union(bot).distinct()
      time(s"item co-occurrence over $rows events + 100k-item bot user (capped pairs)") {
        val kept = ui.groupBy("user_id")
          .agg(sort_array(collect_set(col("k"))).as("items"))
          .filter(size(col("items")) <= 80)
        kept.select(graft.expressions.OrderedPairsGen(col("items")))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
          .agg(sum(col("cab"))).head().getLong(0)
      }
    }
    // Reference-LM gate (x23/r11): the model is fit ONCE on a fixed
    // reference slice (vocabulary-bounded — its size does not grow with
    // the target), so gating `rows` docs is one broadcast LEFT join on
    // the exploded bigram stream + per-doc agg: cost linear in target
    // bigrams regardless of corpus growth.
    locally {
      val ref = docs.filter(graft.expressions.PolyHash(
        concat(lit("lmref|"), col("doc_id").cast("string"))) % 100 < 3)
        .select(col("text"))
      val lm = graft.operators.Lm.fitBigram(ref)
      time(s"reference-LM perplexity gate over $rows docs (bucket sums)")(
        graft.operators.Lm.perplexityBuckets(
            docs.select(col("doc_id"), col("text")), lm,
            headMin = 34700L, midMin = 32400L)
          .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
          .agg(sum(col("n"))).head().getLong(0))
    }
    // KMV dataset-similarity (x24/r11): sketch build is linear in the
    // corpus (one distinct + one bounded-heap agg); every pairwise
    // comparison after that is array algebra on the |sources|-row
    // sketch table — constant in corpus size. Salted synthetic source
    // ids give ~50 sources regardless of `rows`.
    locally {
      val src = docs.withColumn("source",
        pmod(xxhash64(col("doc_id")), lit(50L)).cast("string"))
      val t0 = System.nanoTime()
      val sk = graft.operators.DatasetSketch
        .kmvSketches(src, k = 128, shingleK = 3).persist()
      val nSk = sk.count()
      val tBuild = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val nPairs = graft.operators.DatasetSketch
        .pairEstimates(sk, k = 128).count()
      println(f"[scale] kmv sketch build over $rows%d docs / $nSk%d sources: ${tBuild}%.1fs; " +
        f"all $nPairs%d pairwise estimates from sketches alone: ${(System.nanoTime() - t1) / 1e9}%.1fs")
      sk.unpersist()
    }
    // Merge-on-read deletes (u04/r12): the request-time cost is the
    // sidecar append — O(|keys|), data untouched — vs the COW delete
    // that rewrites every touched directory at request time. Fold pays
    // the rewrite ONCE in the maintenance window.
    locally {
      val n = math.max(rows * 10, 1000000L)
      val base = java.nio.file.Files.createTempDirectory("graft-scale-mor").toString
      val t = s"$base/t"
      spark.range(n)
        .select(col("id"), pmod(col("id"), lit(8)).cast("int").as("part"),
          (col("id") * 3).as("v"))
        .write.partitionBy("part").parquet(t)
      val keys = spark.range(n).filter(pmod(xxhash64(col("id")), lit(1000)) === 0)
        .select(col("id"), pmod(col("id"), lit(8)).cast("int").as("part"))
      val t0 = System.nanoTime()
      val nDel = graft.operators.MergeOnRead.appendDeletes(
        spark, t, keys, Seq("id"), Seq("part"))
      val tApp = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val vis = graft.operators.MergeOnRead.read(spark, t, Seq("id")).count()
      val tRead = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      graft.operators.MergeOnRead.fold(spark, t, Seq("id"), Seq("part"))
      println(f"[scale] mor delete over $n%d rows: append $nDel%d keys ${tApp}%.1fs " +
        f"(no data rewritten), read-through ${tRead}%.1fs ($vis%d rows), " +
        f"fold (the deferred COW, paid once) ${(System.nanoTime() - t2) / 1e9}%.1fs")
    }
    // Degree-oriented triangles (g04/r12): the orientation bounds wedge
    // work on a deliberately hub-skewed graph — vertex 0 receives ~10%
    // of all edges; naive wedge counting would enumerate C(deg_hub, 2)
    // pairs on that one key (the curse of the last reducer), while the
    // oriented wedge total stays near-linear in |E|.
    locally {
      val v = 100000L
      val e = spark.range(rows).select(
        when(pmod(xxhash64(col("id")), lit(10)) === 0, lit(0L))
          .otherwise(pmod(xxhash64(col("id")), lit(v))).as("src"),
        pmod(xxhash64(col("id") * 31 + 7), lit(v)).as("dst"))
      val t0 = System.nanoTime()
      val r = graft.operators.Graph.triangleCount(e).collect().head
      val hub = rows / 10
      println(f"[scale] oriented triangles over ${r.getLong(1)}%d edges " +
        f"(hub degree ~$hub%d): ${r.getLong(2)}%d wedges / ${r.getLong(3)}%d " +
        f"triangles in ${(System.nanoTime() - t0) / 1e9}%.1fs — naive wedges on " +
        f"the hub alone would be ~${hub * (hub - 1) / 2}%d")
    }
    // Categorical TVD drift (x26/r12) + CDC feed (cdc01/r12): both are
    // single-pass / single-join shapes — verdict cost rides the scan.
    locally {
      val t0 = System.nanoTime()
      val periods = spark.range(rows).select(
        pmod(col("id"), lit(20)).as("g"),
        pmod(xxhash64(col("id")), lit(10)).cast("string").as("cat"))
      val nV = graft.operators.Drift.categoricalDrift(
        periods.filter(col("g") === 0), periods, "cat", "g").count()
      println(f"[scale] categorical TVD over $rows%d rows / $nV%d period verdicts: " +
        f"${(System.nanoTime() - t0) / 1e9}%.1fs")
      val t1 = System.nanoTime()
      val v1 = spark.range(rows).select(col("id"), (col("id") * 2).as("p"))
      val v2 = spark.range(rows).select(col("id"),
        when(pmod(col("id"), lit(100)) === 0, col("id") * 2 + 1)
          .otherwise(col("id") * 2).as("p"))
      val nC = graft.operators.Snapshot.changeFeed(v1, v2, "id", Seq("p")).count()
      println(f"[scale] change feed over $rows%d-row snapshots: $nC%d change rows " +
        f"in ${(System.nanoTime() - t1) / 1e9}%.1fs")
    }
    // Wave-9/10 (r12): chunk dedup is linear in total chunks (three
    // key-bounded shuffles, no pairwise anything); training order is ONE
    // exchange + in-partition sort with hash-uniform shard fill; BPE
    // rounds run on the |vocab| table (the corpus is scanned once);
    // gap-fill cost is per-key span, never event volume.
    locally {
      val t0 = System.nanoTime()
      val nD = Dedup.crossDocChunkDedup(docs, chunkWords = 8).count()
      println(f"[scale] cross-doc chunk dedup over $rows%d docs: $nD%d docs " +
        f"rebuilt in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      val t1 = System.nanoTime()
      val ord = graft.operators.Curation.trainingOrder(
        spark.range(rows * 10).select(col("id").as("doc_id")), nShards = 64)
      val fill = ord.groupBy("shard").count()
        .agg(min("count"), max("count")).head()
      println(f"[scale] training order over ${rows * 10}%d docs / 64 shards: " +
        f"fill ${fill.getLong(0)}%d..${fill.getLong(1)}%d " +
        f"in ${(System.nanoTime() - t1) / 1e9}%.1fs")
      val t2 = System.nanoTime()
      val (vocab, merges) = graft.operators.Bpe.learn(docs, rounds = 4)
      val nV = vocab.count(); vocab.unpersist()
      println(f"[scale] BPE 4 rounds over $rows%d docs (vocab $nV%d): " +
        f"${merges.size}%d merges in ${(System.nanoTime() - t2) / 1e9}%.1fs " +
        f"(corpus scanned once; rounds are vocab-scale)")
      val t3 = System.nanoTime()
      val ev = spark.range(rows).select(
        pmod(col("id"), lit(50000)).as("k"),
        timestamp_micros(col("id") * 7919000000L % (86400L * 30 * 1000000L)).as("ts"),
        col("id").as("eid"), (col("id") % 97).cast("double").as("v"))
      val nG = graft.operators.Resample.gapFillLocf(
        ev, "k", "ts", "eid", "v", 3600L * 1000000L).count()
      println(f"[scale] gap-fill/LOCF over $rows%d events / 50k keys: $nG%d grid " +
        f"rows in ${(System.nanoTime() - t3) / 1e9}%.1fs")
      // Exact similarity join at a dedup-grade threshold: the prefix
      // filter's candidate volume is the honest number to watch — on a
      // similar-content corpus it is the price of exactness.
      val quarter = rows / 4
      val qdocs = docs.limit(quarter.toInt)
      val t4 = System.nanoTime()
      val nP = Dedup.ppjoinPairs(qdocs, shingleK = 3,
        thresholdPpm = 800000L).count()
      println(f"[scale] exact ppjoin (t=0.8) over $quarter%d docs: $nP%d pairs " +
        f"in ${(System.nanoTime() - t4) / 1e9}%.1fs")
    }
    // DSIR selection (ds01/r12): both models vocabulary-bounded, fit on
    // fixed slices; weighting `rows` docs is one bigram explode with TWO
    // broadcast left joins resolved in the same pass + a top-k heap —
    // linear in target bigrams, like the one-model gate above.
    locally {
      val split = graft.expressions.PolyHash(
        concat(lit("dsir|"), col("doc_id").cast("string"))) % 100
      val tLm = graft.operators.Lm.fitBigram(
        docs.filter(split < 2).select(col("text")))
      val rLm = graft.operators.Lm.fitBigram(
        docs.filter(split >= 2 && split < 4).select(col("text")))
      time(s"DSIR two-model weighting over $rows docs (top-100 checksum)")(
        graft.operators.Dsir.selectTopK(
            graft.operators.Dsir.importanceWeights(
              docs.filter(split >= 4), tLm, rLm), 100)
          .agg(sum(col("weight_ppm"))).head().getLong(0))
    }
    // r13 session-2: skyline + exact edit-distance join. The 2-D/3-D
    // fronts run on 20x the doc count (pure point data — the operator
    // never touches text), edit distance on the doc titles themselves;
    // the numbers to watch are the survivor count (skyline: grid-prune
    // effectiveness) and wall-clock (editdist: Pass-Join candidate
    // volume on a low-diversity corpus).
    locally {
      // 32-bit mixing primes: id*const stays far below Long.Max at any
      // plausible row count (ANSI mode makes a 64-bit constant here an
      // ARITHMETIC_OVERFLOW crash, not a wrap)
      val pts = spark.range(rows * 20).select(col("id"),
        pmod(col("id") * 2654435761L + 11L, lit(1000003L)).as("x"),
        pmod(col("id") * 2246822519L + 7L, lit(999983L)).as("y"),
        pmod(col("id") * 3266489917L + 3L, lit(999979L)).as("z"))
      val t0 = System.nanoTime()
      val n2 = graft.operators.Skyline.pareto2d(pts, "x", "y").count()
      println(f"[scale] 2-D skyline over ${rows * 20}%d points: $n2%d on the " +
        f"front in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      val t1 = System.nanoTime()
      val n3 = graft.operators.Skyline.pareto3d(pts, "x", "y", "z").count()
      println(f"[scale] 3-D skyline over ${rows * 20}%d points: $n3%d on the " +
        f"front in ${(System.nanoTime() - t1) / 1e9}%.1fs")
      // r14: the ANTI-CORRELATED adversary — x and y rise together, so
      // the true front IS the whole set, the grid prune keeps everything
      // and the broadcast exact pass would OOM; the chunked fallback
      // must complete (bounded memory, Ω(n²/cluster) comparisons — the
      // honest cost of refuting quadratically many dominance pairs).
      // maxBroadcastFront forces several chunks at this size.
      val advN = rows.toLong
      val adv = spark.range(advN).select(col("id"), col("id").as("x"),
        col("id").as("y"),
        pmod(col("id") * 2654435761L + 3L, lit(999979L)).as("z"))
      val t1b = System.nanoTime()
      val nAdv = graft.operators.Skyline.pareto3d(adv, "x", "y", "z",
        maxBroadcastFront = advN / 6 + 1).count()
      require(nAdv == advN,
        s"anti-correlated front must be the whole set: $nAdv != $advN")
      println(f"[scale] 3-D skyline ADVERSARY ($advN%d points, front = corpus," +
        f" 6-chunk fallback): ${(System.nanoTime() - t1b) / 1e9}%.1fs")
      // quarter corpus, the ppjoin discipline: exact pair joins pay for
      // their true pair count, and this generator is pathologically
      // dense — measured once at the full 200k titles: 19,215 real
      // pairs in 420 s, completing where the earlier broadcast-verify
      // design OOM'd the driver. The honest number to watch here is
      // pairs-per-second against the corpus's true density.
      val quarter2 = rows / 4
      val titles = docs.limit(quarter2.toInt).select(col("doc_id"),
        array_join(slice(split(col("text"), " "), 1, 5), " ").as("title"))
      val t2 = System.nanoTime()
      val nE = graft.operators.EditDistance.editDistancePairs(
        titles, "doc_id", "title", maxDist = 2).count()
      println(f"[scale] exact editdist(<=2) join over $quarter2%d titles: $nE%d " +
        f"pairs in ${(System.nanoTime() - t2) / 1e9}%.1fs")
    }
    spark.stop()
  }
}
