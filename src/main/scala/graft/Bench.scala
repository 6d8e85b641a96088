package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. Prints ONE JSON line the driver parses from the tail of
  * the sbt output. The driver's tail window is ~2000 chars and sbt appends a
  * "[success] Total time" line after us, so the line must stay well under
  * that: per-query keys use each query's unique short code (the part before
  * the first '_': q01, q18b, d09, ...) and 3-decimal medians. The full-name
  * per-query detail (median/min/max of n runs) goes to BENCH_QUERIES.json.
  *
  * == Self-calibration (r15) ==
  *
  * This box is co-tenant: identical code has measured 2.5x apart across
  * same-day sweeps (r14 ran three full sweeps, all degraded). Raw wall
  * seconds therefore cannot be compared across rounds without knowing how
  * contended each run was. Two instruments make the run self-describing:
  *
  *   - `/proc/loadavg` (1-min) is sampled at the start and end of every
  *     query's runs — per-query load rides in BENCH_QUERIES.json, the
  *     sweep-level start/end pair in the one-line JSON.
  *   - a CALIBRATION SENTINEL — q57, a pinned mid-cost relational query
  *     untouched since r10 — runs n=5 at sweep start, middle, and end
  *     (and once more after the floors). Its medians measure the BOX,
  *     not the code: cross-round comparison of any floor is the ratio
  *     floor / nearest-sentinel, which cancels the contention term.
  *     The one-line JSON carries the readings under "calibration";
  *     floors get "floor_sent" (the post-floors sentinel median) as
  *     their normalization denominator.
  */
object Bench {
  private def med(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
  }
  private def r3(x: Double): String = f"$x%.3f"
  private def r2(x: Double): String = f"$x%.2f"

  /** 1-minute load average; -1 when /proc/loadavg is unreadable (the
    * bench must never die for want of an instrument). */
  private def load1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cores
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = Session(cpus)
    // Warm up the one-time costs (codegen, file-source init, shuffle env)
    // so per-query timings measure the queries, not session bring-up.
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()
    // SPARK_GRAFT_BENCH_ONLY=d07,d09 restricts the run to the named
    // queries (full name or short code) — the attribution tool for "which
    // commit moved this query", without paying a 150-query sweep per probe.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = only.fold(SparkEntry.queries.toSeq.sortBy(_._1))(SparkEntry.select)

    /** One timed pass over a query fn: n runs, cache/GC reset between runs
      * (leaked cache entries and deferred ContextCleaner work were the
      * main source of multi-second jitter across ~300 timed executions),
      * plus the 1-min loadavg at entry and exit. */
    def timeRuns(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        n: Int): (Seq[(Double, Boolean)], Double, Double) = {
      val l0 = load1()
      val times = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        System.gc()
        (dt, ok)
      }
      (times, l0, load1())
    }

    // Calibration sentinel: q57 (pinned since r10; mid-cost relational).
    // Readings are (label, median, min, load_before, load_after).
    val sentinelName = "q57_local_supplier_revenue"
    val sentRuns = sys.env.getOrElse("SPARK_GRAFT_SENTINEL_RUNS", "5").toInt
    val sentFn = SparkEntry.queries.get(sentinelName)
    val calib = scala.collection.mutable.ListBuffer
      .empty[(String, Double, Double, Double, Double)]
    def sentinel(label: String): Unit = sentFn.foreach { fn =>
      if (sentRuns > 0) {
        val (ts, l0, l1) = timeRuns(fn, sentRuns)
        val ok = ts.collect { case (dt, true) => dt }
        if (ok.nonEmpty) calib += ((label, med(ok), ok.min, l0, l1))
      }
    }

    // Queries whose FIRST run writes a memoized stored artifact (e14's
    // IVFADC index, pp01/pp02's partitioned layouts, c01's text dumps) get
    // one untimed warm run: the recorded number is the steady-state
    // read/search cost — the one that matters for the stored-artifact
    // story — not the one-time build mixed into a median of 3. Build cost
    // is a write-time fact, recorded once in PLANS.md.
    val prebuild = Set("e14_ann_index_search", "pp01_partition_prune",
      "pp02_dpp_join", "c01_text_formats", "u01_merge_upsert",
      "u02_merge_delete", "c02_compact_layout", "sv01_schema_evolution",
      "mv01_incremental_rollup", "u03_time_travel", "z02_manifest_skip",
      "z03_manifest_count", "z04_bloom_lookup", "pr01_provenance",
      "c03_zorder_compact", "z05_merge_manifest_fresh", "x23_perplexity_gate",
      "u04_mor_delete", "mv02_ivm_join_rollup", "cdc01_change_feed",
      "pp04_partition_evolution", "u05_scd2", "fs01_pit_join",
      "bp01_bpe_merges", "bp02_bpe_tokenize",
      // r16: g10/d58 read the memoized full-corpus ClosureStore — their
      // first run pays the once-per-corpus build; the recorded number is
      // the steady-state stored-postings / stored-closure composition
      "g10_contamination_cost", "d58_corpus_release")
    selected.filter(q => prebuild(q._1)).foreach { case (_, fn) =>
      try { fn(spark, sfDir).count(); spark.catalog.clearCache() }
      catch { case _: Throwable => () }
    }

    // BENCH_ONLY probes get ONE sentinel reading (their contention
    // denominator for attribution) instead of the full start/mid/end
    // bracket — 15 extra timed q57 runs would dominate a one-query probe
    sentinel("start")
    val half = selected.size / 2
    val results = selected.zipWithIndex.map { case ((name, fn), i) =>
      if (i == half && half > 0 && only.isEmpty) sentinel("mid")
      // failed runs keep their wall time here (the sweep median has always
      // absorbed them — a crash shows up in CORRECTNESS, not the bench);
      // only the comparison-grade floors and sentinel exclude them
      val (times, l0, l1) = timeRuns(fn, runs)
      val dts = times.map(_._1)
      (name, med(dts), dts, l0, l1)
    }
    if (only.isEmpty) sentinel("end")

    // DEDICATED FLOORS for the top-10 medians (r12 verdict #6): the close
    // sweep is demonstrably contention-hostage (same-day same-code sweeps
    // diverged 163.8 vs 218.5 s at load 12.7 with 0 users), so the
    // cross-round comparison-grade number for the expensive queries is a
    // dedicated n=5 minimum taken AFTER the sweep, not the sweep median.
    // Skipped on BENCH_ONLY runs (those ARE floor probes already);
    // SPARK_GRAFT_FLOOR_RUNS=0 disables.
    val floorRuns = sys.env.getOrElse("SPARK_GRAFT_FLOOR_RUNS", "5").toInt
    val floors: Seq[(String, Double)] =
      if (only.nonEmpty || floorRuns <= 0) Nil
      else {
        val top = results.sortBy { case (k, v, _, _, _) => (-v, k) }.take(10)
        val fns = SparkEntry.queries
        top.map { case (name, _, _, _, _) =>
          // failed runs are EXCLUDED, never published: min(time-to-
          // exception) would publish a crash as a speedup — the floors
          // exist for cross-round comparison, so a query with zero
          // successful runs records the -1 failure marker instead
          val (ts, _, _) = timeRuns(fns(name), floorRuns)
          val ok = ts.collect { case (dt, true) => dt }
          name -> (if (ok.isEmpty) -1.0 else ok.min)
        }
      }
    // the floors' own contention denominator: the sentinel taken right
    // beside them (floor / floor_sent is the cross-round number)
    if (floors.nonEmpty) sentinel("floors")

    // Unique short key per query (prefix before first '_'); falls back to
    // the full name on the (currently impossible) collision.
    val shortKeys = {
      val pref = results.map { case (n, _, _, _, _) => n -> n.takeWhile(_ != '_') }
      val counts = pref.groupBy(_._2).map { case (k, v) => k -> v.size }
      pref.map { case (n, p) => n -> (if (counts(p) == 1) p else n) }.toMap
    }
    // The one-line JSON must survive the driver's ~2000-char tail window
    // (and sbt's trailing "[success]" line). At 176+ queries a full
    // 3-decimal map is ~2200 chars — a truncated line fails the driver's
    // json parse and zeroes the round's bench. Budget the FINAL ASSEMBLED
    // line (envelope + rollup entries included, not just the per-query
    // map): most-expensive queries first (the ones a reader acts on),
    // remainder rolled up into other_n/other_sec; the COMPLETE per-query
    // detail is always in BENCH_QUERIES.json, committed alongside.
    val total = results.map(_._2).sum
    val totalMin = results.map(_._3.min).sum
    // per-tier subtotals (sum of medians): relational vs EXT — scoping
    // for close-sweep comparisons and cheap A/B probes (r11 verdict #8)
    val relNames = SparkEntry.relationalNames
    val tierRel = results.filter(r => relNames(r._1)).map(_._2).sum
    val tierExt = total - tierRel
    val tiers = s""""tier_rel":${r3(tierRel)},"tier_ext":${r3(tierExt)}"""
    val floorSent = calib.find(_._1 == "floors").map(_._2)
    // sentinel-normalized floors (floor ÷ floor_sent): THE cross-round
    // comparison numbers — raw wall seconds on this co-tenant box are
    // contention-hostage (observed 2.5x same-code divergence), so close
    // writeups compare these q57-unit ratios, never raw floors (r15
    // verdict #7: stop doing the division by hand)
    val floorsNorm: Seq[(String, Double)] = floorSent match {
      case Some(s) if s > 0 =>
        floors.collect { case (n, v) if v > 0 => n -> v / s }
      case _ => Nil
    }
    val calibJson = {
      val mins = if (calib.isEmpty) "-1" else r3(calib.map(_._3).min)
      val fields = Seq(s""""q":"q57"""", s""""n":$sentRuns""") ++
        calib.map { case (lbl, m, _, _, _) => "\"" + lbl + "\":" + r3(m) } ++
        Seq(s""""min":$mins""")
      fields.mkString("{", ",", "}")
    }
    val floorsJson = floors
      .map { case (n, v) => "\"" + n.takeWhile(_ != '_') + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val floorsNormJson = floorsNorm
      .map { case (n, v) => "\"" + n.takeWhile(_ != '_') + "\":" + r2(v) }
      .mkString("{", ",", "}")
    val loadJson = s""""load":[${r2(results.headOption.map(_._4)
      .getOrElse(-1.0))},${r2(results.lastOption.map(_._5).getOrElse(-1.0))}]"""
    val lineBudget = 1800 // chars for the WHOLE printed line
    val envelope = (s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""n":$runs,"total_min":${r3(totalMin)},$tiers,$loadJson,""" +
      s""""calibration":$calibJson,""" +
      s""""floor_sent":${floorSent.map(r3).getOrElse("-1")},""" +
      s""""floors":$floorsJson,"floors_norm":$floorsNormJson,""" +
      s""""queries":{},"sf":"$sfDir"}""").length
    val rollupMax = s""","other_n":9999,"other_sec":99999.999""".length
    val mapBudget = lineBudget - envelope - rollupMax
    val byCost = results.sortBy { case (k, v, _, _, _) => (-v, k) }
    val entries = byCost.map { case (k, v, _, _, _) =>
      "\"" + shortKeys(k) + "\":" + r3(v) }
    val cum = entries.scanLeft(0)(_ + _.length + 1) // cum(j) = chars for first j
    val nKeep = entries.indices.takeWhile(i => cum(i + 1) <= mapBudget).size
    val kept = entries.take(nKeep)
    val rest = byCost.drop(kept.length)
    val qs = (kept ++ (if (rest.isEmpty) Nil
      else Seq("\"other_n\":" + rest.length,
        "\"other_sec\":" + r3(rest.map(_._2).sum)))).mkString("{", ",", "}")
    // Full-fidelity per-query dump (full names, median/min/max, n runs,
    // loadavg at the query's entry/exit); best-effort — the one-line
    // contract must survive any IO failure.
    try if (only.isEmpty) {
      val detail = results.map { case (k, v, ts, l0, l1) =>
        s"""  "$k": {"median":${r3(v)},"min":${r3(ts.min)},"max":${r3(ts.max)},"load":[${r2(l0)},${r2(l1)}]}"""
      }.mkString("{\n", ",\n", "\n}")
      val floorDetail = floors.map { case (k, v) =>
        s"""  "$k": ${r3(v)}"""
      }.mkString("{\n", ",\n", "\n}")
      val floorNormDetail = floorsNorm.map { case (k, v) =>
        s"""  "$k": ${r2(v)}"""
      }.mkString("{\n", ",\n", "\n}")
      val calibDetail = calib.map { case (lbl, m, mn, l0, l1) =>
        s"""  "$lbl": {"median":${r3(m)},"min":${r3(mn)},"load":[${r2(l0)},${r2(l1)}]}"""
      }.mkString("{\n", ",\n", "\n}")
      val body =
        s"""{"n":$runs,"cpus":$cpus,"sf":"$sfDir","total_of_medians":${r3(total)},
           |"tier_rel":${r3(tierRel)},"tier_ext":${r3(tierExt)},
           |"sentinel":"$sentinelName","sentinel_runs":$sentRuns,
           |"calibration":$calibDetail,
           |"floor_runs":$floorRuns,"floor_sent":${floorSent.map(r3).getOrElse("-1")},
           |"floors":$floorDetail,
           |"floors_norm":$floorNormDetail,
           |"queries":$detail}""".stripMargin
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_QUERIES.json"),
        body.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    // total_min = sum of per-query minima: the contention-free floor this
    // box can produce — when "value" (sum of medians) drifts 1.5-2× across
    // runs with an empty diff, total_min moving is what distinguishes a
    // real regression from co-tenant noise (full per-query min/median/max
    // is in BENCH_QUERIES.json, committed alongside).
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","n":$runs,"total_min":${r3(totalMin)},$tiers,$loadJson,"calibration":$calibJson,"floor_sent":${floorSent.map(r3).getOrElse("-1")},"floors":$floorsJson,"floors_norm":$floorsNormJson,"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
