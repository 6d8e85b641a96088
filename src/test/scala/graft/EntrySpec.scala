package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the driver contract itself: t1 smoke (entry rows > 0), registry
  * consistency (every oracle key has a query; names are unique). */
class EntrySpec extends SparkSpec {

  test("entry flagship query returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query; names unique") {
    val qnames = SparkEntry.queries.keySet
    val onames = SparkEntry.oracleSql.keySet
    assert(onames.subsetOf(qnames), s"orphan oracles: ${onames -- qnames}")
    assert(SparkEntry.queries.size >= 80) // registry didn't silently shrink
    assert(SparkEntry.oracleSql.size >= 75)
  }

  test("r09 query plans keep their scale shapes") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sf())
        .queryExecution.executedPlan.toString
    // d40: top-N vocab via per-partition heaps — never a global sort of
    // the vocabulary (the Window that follows sees only N rows)
    val zipf = plan("d40_zipf_budget")
    assert(zipf.contains("TakeOrderedAndProject"))
    // d41: split decision is agg + join + scan-local hash — no window,
    // no sort anywhere
    val split = plan("d41_leakage_safe_split")
    assert(!split.contains("Window"))
    // x16: keyword extraction is the bounded-heap aggregate, not a
    // per-doc rank window
    val kw = plan("x16_tfidf_keywords")
    assert(kw.contains("ObjectHashAggregate") && !kw.contains("Window"))
    // d38: the gate is one scan-shaped pass — no exchange at all
    val gate = plan("d38_curation_gate")
    assert(!gate.contains("Exchange") && !gate.contains("Join"))
  }

  test("r09 subquery-suite plans keep their scale shapes") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sf())
        .queryExecution.executedPlan.toString
    def scans(p: String): Int = "FileScan parquet".r.findAllIn(p).length
    // q48: the correlated scalar min() was DECORRELATED — a per-partkey
    // aggregate joined back, never a per-row subquery re-execution
    val q48 = plan("q48_min_cost_supplier")
    assert(q48.contains("partial_min"), "q48 lost the decorrelated min agg")
    // Spark prints these nodes hyphenated ("scalar-subquery#id") — the
    // un-hyphenated spelling would never match and the guard would be
    // vacuous.
    assert(!q48.toLowerCase.contains("scalar-subquery"),
      "q48 executes the subquery per row")
    // q49: EXISTS/NOT EXISTS collapsed to distinct-count windows — the
    // plan must carry the two windows and NO semi/anti self-join passes
    val q49 = plan("q49_lone_late_supplier")
    assert(q49.contains("collect_set"), "q49 lost the window rewrite")
    assert(!q49.contains("LeftSemi") && !q49.contains("LeftAnti"),
      "q49 fell back to correlated semi/anti joins")
    // q50: the NOT EXISTS is exactly one anti join
    assert(plan("q50_sales_opportunity").contains("LeftAnti"))
    // q51/q52: the scalar total/max comes from a window over the
    // aggregated rows — the fact tables are scanned exactly once each
    // (the crossJoin(agg) form plans the whole fact aggregate twice)
    assert(scans(plan("q51_important_brands")) == 2,
      "q51 rescans lineitem/part for the total")
    assert(scans(plan("q52_top_supplier")) == 2,
      "q52 rescans lineitem for the max")
    // r10 additions — Q17/Q18/Q20 shapes: the correlated aggregate rides a
    // window (q53), the HAVING-sum filter aggregates once (q54), and the
    // dominance semi-join derives from one year-filtered aggregate (q55).
    // Fact table scanned exactly once each: total scans = fact + dims.
    assert(scans(plan("q53_small_qty_revenue")) == 2,
      "q53 rescans lineitem for the per-part average")
    assert(scans(plan("q54_large_orders")) == 3,
      "q54 rescans lineitem for the qualifying-order sums")
    assert(scans(plan("q55_dominant_supplier")) == 2,
      "q55 rescans lineitem for the part totals")
  }

  test("TPC-H completion shapes (q56-q63) keep their plan patterns") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sf())
        .queryExecution.executedPlan.toString
    // q56: the EXISTS is ONE semi join — never inner-join + distinct
    val q56 = plan("q56_priority_check")
    assert(q56.contains("LeftSemi"), "q56 lost the semi join")
    assert(!q56.contains("HashAggregate(keys=[o_orderkey"),
      "q56 re-deduplicates orders after an inner join")
    // q58: the pure scan-aggregate — no join may ever appear, and the
    // shipdate bounds must reach the parquet scan
    val q58 = plan("q58_forecast_revenue")
    assert(!q58.contains("Join"), "q58 grew a join")
    assert(q58.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "q58 shipdate filter not pushed to the scan")
    // q61: the priority filter must stay INSIDE the outer join — the
    // LeftOuter surviving proves it wasn't pushed into a WHERE
    assert(plan("q61_cust_distribution").contains("LeftOuter"),
      "q61 outer join collapsed to inner")
    // q63: the NOT IN over the null-free complaint set is one broadcast
    // anti join
    val q63 = plan("q63_supplier_cnt")
    assert(q63.contains("LeftAnti") && q63.contains("BroadcastHashJoin"),
      "q63 NOT IN stopped planning as a broadcast anti join")
  }

  test("r10 profiling/sketch plans keep their scale shapes") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sf())
        .queryExecution.executedPlan.toString
    def scans(p: String): Int = "FileScan parquet".r.findAllIn(p).length
    // x18: ALL profile metrics ride ONE lineitem scan; the exact
    // countDistincts go through a single Expand (the documented oracle-
    // payload price), never per-column rescans
    val x18 = plan("x18_column_profile")
    assert(scans(x18) == 1, "x18 rescans lineitem per column")
    assert(x18.contains("Expand"), "x18 lost the multi-distinct Expand plan")
    // x20: one map-side-combined aggregate — partial agg below the single
    // exchange, one scan, no join
    val x20 = plan("x20_benford_digits")
    assert(scans(x20) == 1 && !x20.contains("Join"))
    assert(x20.contains("partial_count"), "x20 lost map-side combine")
    // x17: the period quantiles come from the DAILY SKETCH ROWS —
    // qsketch_merge_agg must appear, and the events scan count stays at
    // the designed 3 (daily sketch pass + the two oracle-scaffolding
    // exact passes), guarding against an accidental per-quantile rescan
    val x17 = plan("x17_quantile_rollup")
    assert(x17.contains("qsketch_merge_agg"), "x17 lost the sketch union")
    assert(scans(x17) <= 3, "x17 rescans events beyond the designed passes")
  }

  test("r04/w05 temporal plans keep the one-Exchange shape") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sf())
        .queryExecution.executedPlan.toString
    // both: windows + aggregates all ride ONE hashpartitioning(user_id) —
    // a second Exchange would mean the groupBy stopped reusing the
    // window's partitioning
    for (q <- Seq("r04_interval_coverage", "w05_time_weighted_avg",
        "r06_interval_gaps")) {
      val p = plan(q)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges == 1, s"$q plans $exchanges exchanges, expected 1")
    }
    // d42: the Gopher repetition suite is a pure scan-local fold — like
    // d38, no exchange and no join may ever appear
    val rep = plan("d42_gopher_repetition")
    assert(!rep.contains("Exchange") && !rep.contains("Join"),
      "d42 stopped being scan-local")
  }

  test("pp01/pp02 scans prune partitions: static PartitionFilters and DPP subquery") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sf())
        .queryExecution.executedPlan.toString
    // pp01: the year predicate must be a PARTITION filter (resolved
    // against the directory listing — other years never opened), not a
    // data filter evaluated per row after a full scan
    val pp01 = plan("pp01_partition_prune")
    assert(pp01.contains("PartitionFilters: [isnotnull(o_year"),
      "pp01 lost the static partition filter")
    assert(pp01.contains("= 1995)"), "pp01 year predicate not in PartitionFilters")
    // pp02: no static predicate exists on c_nationkey — the partition
    // filter must be the DynamicPruningExpression injected from the
    // broadcast dim join's build side
    val pp02 = plan("pp02_dpp_join")
    assert(pp02.contains("dynamicpruningexpression(c_nationkey"),
      "pp02 lost dynamic partition pruning on the customer scan")
    assert(pp02.contains("BroadcastHashJoin"),
      "pp02 dims stopped broadcasting — DPP reuse requires the broadcast")
  }

  test("r12 plans: pp04 prunes the evolved generation; z05 prunes through the manifest") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sf())
        .queryExecution.executedPlan.toString
    // pp04: generation 2's month predicate must resolve as a PARTITION
    // filter (the finer spec paying off), while generation 1 keeps the
    // equivalent row filter — per-generation predicate translation
    val pp04 = plan("pp04_partition_evolution")
    assert(pp04.contains("PartitionFilters: [isnotnull(o_month"),
      "pp04 lost partition pruning on the evolved generation")
    assert(pp04.contains("month(cast(o_orderdate"),
      "pp04 lost the row-filter translation on the legacy generation")
    // z05: the post-merge pruned read must still push the range filter
    // down to the scan of the manifest-selected files
    val z05 = plan("z05_merge_manifest_fresh")
    assert(z05.contains("PushedFilters: [IsNotNull(o_custkey"),
      "z05 stopped pushing the range predicate into the pruned scan")
  }

  test("r11 second-wave plans keep their scale shapes (agg pushdown, winnow pairs)") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sf())
        .queryExecution.executedPlan.toString
    // pp03: MIN/MAX/COUNT must be answered from parquet footer stats —
    // the scan node carries PushedAggregation, no row-level aggregation
    // over materialized rows
    val pp03 = plan("pp03_agg_pushdown")
    assert(pp03.contains("PushedAggregation: [COUNT(*)"),
      s"pp03 lost parquet aggregate pushdown:\n$pp03")
    // d44: the pair join must stay an equi-join on the fingerprint value
    // (hash/SMJ), never a nested-loop/cartesian fallback
    val d44 = plan("d44_winnow_pairs")
    assert(!d44.contains("BroadcastNestedLoopJoin") &&
      !d44.contains("CartesianProduct"),
      "d44 pair join fell out of the equi-join shape")
    spark.catalog.clearCache() // d44's posting table rides the cache contract
  }

  test("r12 wave-9/10/11 plans keep their scale shapes") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sf())
        .queryExecution.executedPlan.toString
    // bs01: the point estimate rides the replica pass as a virtual
    // replica — both output branches must read the persisted replica-sum
    // table (one corpus scan builds it; a second FileScan branch would
    // mean the point estimate re-scans the corpus)
    val bs01 = plan("bs01_bootstrap_ci")
    assert("InMemoryTableScan".r.findAllIn(bs01).length == 2,
      s"bs01 stopped reusing the single-pass replica table:\n$bs01")
    spark.catalog.clearCache()
    // d46: per-source thresholds broadcast onto a scan-local filter —
    // the corpus side must never sort-merge or go cartesian
    val d46 = plan("d46_temperature_mix")
    assert(d46.contains("BroadcastHashJoin"),
      "d46 stats join stopped broadcasting")
    assert(!d46.contains("CartesianProduct") &&
      !d46.contains("BroadcastNestedLoopJoin"))
    // bp02: token lengths come from the broadcast stored vocab — a
    // sort-merge join here would shuffle the exploded corpus by word
    val bp02 = plan("bp02_bpe_tokenize")
    assert(bp02.contains("BroadcastHashJoin"),
      "bp02 vocab join stopped broadcasting")
    // ln01: the keeper lookup must be a JOIN (AQE can skew-split it),
    // never a Window over the chunk text
    val ln01 = plan("ln01_chunk_dedup")
    assert(ln01.contains("Join"), "ln01 lost the keeper join")
    assert(!ln01.contains("Window"),
      "ln01 keeper selection fell back to a window — unsplittable on hot chunks")
    // sh01: per-shard ranks only — a global row_number would plan a
    // SinglePartition exchange
    val sh01 = plan("sh01_training_order")
    assert(!sh01.contains("SinglePartition"),
      "sh01 planned a global single-partition stage")
  }

  test("r12 wave-14/15 plans keep their scale shapes") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sf())
        .queryExecution.executedPlan.toString
    // d49: global bottom-k must be TakeOrderedAndProject's per-partition
    // heaps, never a global sort
    val d49 = plan("d49_pps_sample")
    assert(d49.contains("TakeOrderedAndProject"),
      s"d49 lost the bounded-heap top-k:\n$d49")
    // mc01: report and ECE branches both read the persisted <=bins-row
    // bin table — a second FileScan would mean the ECE re-scans the corpus
    val mc01 = plan("mc01_confidence_calibration")
    assert("InMemoryTableScan".r.findAllIn(mc01).length == 2,
      s"mc01 stopped reusing the single-pass bin table:\n$mc01")
    spark.catalog.clearCache()
    // bs02: same single-pass contract as bs01, grouped — both output
    // branches read the persisted grouped replica table
    val bs02 = plan("bs02_slice_ci")
    assert("InMemoryTableScan".r.findAllIn(bs02).length == 2,
      s"bs02 stopped reusing the single-pass grouped replica table:\n$bs02")
    spark.catalog.clearCache()
    // g05: lineage truncated after the fixed rounds — the returned plan
    // reads the checkpoint, not a 4-round join tower (g02's contract)
    val g05 = plan("g05_communities")
    assert(g05.contains("Scan ExistingRDD"),
      s"g05 lost its lineage truncation:\n$g05")
    // bp03: token lengths come from the broadcast stored vocab — a
    // sort-merge join would shuffle the exploded crawl by word
    val bp03 = plan("bp03_tokenizer_drift")
    assert(bp03.contains("BroadcastHashJoin"),
      "bp03 vocab join stopped broadcasting")
    // ag03: the returned plan must be the materialized fit (driver-side
    // smallItemSet mode -> LocalTableScan; distributed mode's per-round
    // truncation -> Scan ExistingRDD), never a 5-round join tower
    val ag03 = plan("ag03_bt_ranking")
    assert(ag03.contains("LocalTableScan") || ag03.contains("Scan ExistingRDD"),
      s"ag03 lost its materialized-fit shape:\n$ag03")
    assert(!ag03.contains("SortMergeJoin"),
      s"ag03 returned an unmaterialized join tower:\n$ag03")
    // bs03: all output branches read the persisted replica-sum table —
    // a FileScan branch would re-scan the corpus per statistic
    val bs03 = plan("bs03_ab_delta_ci")
    assert("InMemoryTableScan".r.findAllIn(bs03).length >= 3,
      s"bs03 stopped reusing the single-pass replica table:\n$bs03")
    spark.catalog.clearCache()
  }

  test("r13 plans keep their scale shapes") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sf())
        .queryExecution.executedPlan.toString
    // g07: the returned frame is the CHECKPOINTED closure — reading it
    // must not replay any per-round join (the iterative-family lineage
    // contract); BFS rounds are equi-joins, never a cartesian
    val g07 = plan("g07_frontier_reachability")
    assert(g07.contains("Scan ExistingRDD"),
      s"g07 lost its per-round lineage truncation:\n$g07")
    assert(!g07.contains("Join"),
      s"g07 returned an unmaterialized join tower:\n$g07")
    // d53: same closure contract over the chunk-share star graph
    val d53 = plan("d53_contamination_spread")
    assert(d53.contains("Scan ExistingRDD"),
      s"d53 lost its closure materialization:\n$d53")
    assert(!d53.contains("CartesianProduct") &&
      !d53.contains("BroadcastNestedLoopJoin"),
      s"d53 planned a non-equi pair join:\n$d53")
    // s06: the batch-verified form must actually plan the FULL outer
    // interval join (not silently degrade to inner after the key rename)
    val s06 = plan("s06_stream_full_outer_join")
    assert(s06.contains("FullOuter"),
      s"s06 stopped planning a full-outer join:\n$s06")
    // g08: the incremental fold returns the materialized closure too —
    // the stored-artifact contract (reading the result must not replay
    // the delta BFS, let alone history)
    val g08 = plan("g08_incremental_reachable")
    assert(g08.contains("Scan ExistingRDD") && !g08.contains("Join"),
      s"g08 lost its materialized-closure shape:\n$g08")
  }

  test("r14 plans keep their scale shapes") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sf())
        .queryExecution.executedPlan.toString
    // g09: Bellman-Ford returns the truncated distance table — reading
    // it must not replay any relaxation round (the iterative-family
    // lineage contract shared with g02/g07)
    val g09 = plan("g09_shortest_paths")
    assert(g09.contains("Scan ExistingRDD") && !g09.contains("Join"),
      s"g09 lost its materialized-distance shape:\n$g09")
    // d57: the composed dedup chain must stay equi-joined end to end —
    // pairs from Pass-Join segment keys, components from the label
    // table, collapse via the comp-partitioned window; a cartesian or
    // BNLJ anywhere means a stage regressed to all-pairs
    val d57 = plan("d57_editdist_dedup")
    assert(!d57.contains("CartesianProduct") &&
      !d57.contains("BroadcastNestedLoopJoin"),
      s"d57 planned a non-equi pair join:\n$d57")
  }

  test("r15 plans keep their scale shapes") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sf())
        .queryExecution.executedPlan.toString
    // g10: the weighted contamination distance returns the truncated
    // Bellman-Ford table — g09's materialized-result contract (reading
    // it must not replay any relaxation round)
    val g10 = plan("g10_contamination_cost")
    assert(g10.contains("Scan ExistingRDD") && !g10.contains("Join"),
      s"g10 lost its materialized-distance shape:\n$g10")
    // d58: the composed release verdict is semi/anti joins on doc_id
    // keys over a scan-local gate — a cartesian or nested loop anywhere
    // means a stage regressed to all-pairs
    val d58 = plan("d58_corpus_release")
    assert(d58.contains("LeftSemi") && d58.contains("LeftAnti"),
      s"d58 lost a keeper/contamination probe:\n$d58")
    assert(!d58.contains("CartesianProduct")
      && !d58.contains("BroadcastNestedLoopJoin"),
      "d58 planned a release probe as a nested loop")
  }

  test("r03 overlap join plans as an equi-join, never nested-loop") {
    // Spark's native plan for `key = key AND s < e2 AND s2 < e` keeps only
    // the key as the equi-condition; the bucket decomposition must yield a
    // hash-joinable (key, bucket) pair and no BNLJ/cartesian fallback.
    val p = SparkEntry.queries("r03_overlap_join")(spark, sf())
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), "overlap join fell back to BNLJ")
    assert(!p.contains("CartesianProduct"))
  }

  test("TopKPerGroup custom node lowers to window+filter and runs") {
    import spark.implicits._
    val df = Seq(("a", 3), ("a", 1), ("a", 2), ("b", 9), ("b", 8)).toDF("g", "v")
    val out = graft.plans.TopKPerGroup(df, Seq("g"), "v", descending = true, k = 2)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(out == Set(("a", 3), ("a", 2), ("b", 9), ("b", 8)))
    // schema preserved (the helper column is projected away)
    assert(graft.plans.TopKPerGroup(df, Seq("g"), "v", descending = true, k = 1)
      .columns.toSeq == Seq("g", "v"))
  }

  test("BroadcastRangeJoinExec matches the composed range join") {
    import spark.implicits._
    val left = (1 to 200).map(i => (i.toLong, (i % 60).toDouble)).toDF("id", "v")
    val iv = Seq((0.0, 20.0, "a"), (20.0, 40.0, "b"), (35.0, 70.0, "c"))
      .toDF("lo", "hi", "band") // overlapping intervals on purpose
    val custom = graft.plans.RangeJoinPlan.exec(left, iv, "v", "lo", "hi")
      .select("id", "band").collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val builtin = graft.operators.AsOfJoin.rangeJoin(left, iv, "v")
      .select("id", "band").collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(custom.sameElements(builtin))
    // the custom exec is actually in the plan
    val plan = graft.plans.RangeJoinPlan.exec(left, iv, "v", "lo", "hi")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastRangeJoin"))
  }

  test("r11 contract/graph/training plans keep their scale shapes") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sf())
        .queryExecution.executedPlan.toString
    // dq02: each ForeignKey relation is ONE anti join; nothing may plan
    // as a nested-loop or cartesian pass over the fact
    val dq02 = plan("dq02_fk_integrity")
    assert("LeftAnti".r.findAllIn(dq02).length >= 3,
      "dq02 lost an anti-join relation probe")
    assert(!dq02.contains("CartesianProduct")
      && !dq02.contains("BroadcastNestedLoopJoin"),
      "dq02 planned a relation probe as a nested loop")
    // x21: global top-50 is per-partition heaps, never a full vocab sort
    // or a rank window
    val x21 = plan("x21_pmi_collocations")
    assert(x21.contains("TakeOrderedAndProject"), "x21 lost the top-k heaps")
    assert(!x21.contains("Window"), "x21 grew a rank window")
    // ns01: drawing is scan-local hash + broadcast join — no global
    // row-number window, no sort, no cartesian anywhere
    val ns01 = plan("ns01_negative_pairs")
    assert(ns01.contains("BroadcastHashJoin"),
      "ns01 representative join stopped broadcasting")
    assert(!ns01.contains("Window") && !ns01.contains("CartesianProduct"),
      "ns01 fell back to a global-ordering or all-pairs plan")
    // g02: the returned frame reads the TRUNCATED final round — its plan
    // is a checkpoint scan, not six rounds of composed joins (the
    // lineage-flatness contract that keeps iteration count off the
    // planner's critical path)
    val g02 = plan("g02_pagerank")
    assert(g02.contains("ExistingRDD"), "g02 lost per-round lineage truncation")
    assert(!g02.contains("CartesianProduct"))
    // pr01: the lineage audit reads file_path + the measure — the scan
    // must NOT drag the date column the oracle groups by (the answer
    // comes from _metadata alone)
    assert(!plan("pr01_provenance").contains("o_orderdate"),
      "pr01 reads o_orderdate instead of deriving the year from the path")
  }

  test("r13 session-2 plans keep their scale shapes") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sf())
        .queryExecution.executedPlan.toString
    // sk01: the skyline never plans an all-pairs pass — the grid prune
    // and the exact pass are broadcast joins over tiny frames
    val sk01 = plan("sk01_pareto_front")
    assert(sk01.contains("BroadcastHashJoin"),
      "sk01 grid/bounds join stopped broadcasting")
    assert(!sk01.contains("CartesianProduct")
      && !sk01.contains("BroadcastNestedLoopJoin")
      && !sk01.contains("SortMergeJoin"),
      "sk01 planned an all-pairs or corpus-shuffle join")
    // d55: Pass-Join candidates hash-join on segment keys with both
    // strings riding the rows — scoring is scan-local (no join-back: a
    // broadcast-the-candidates verify OOM'd at 200k degenerate titles),
    // and no rank window anywhere
    val d55 = plan("d55_editdist_pairs")
    assert(d55.contains("levenshtein"),
      "d55 lost the scan-local scoring projection")
    assert(!d55.contains("CartesianProduct") && !d55.contains("Window"),
      "d55 fell back to an all-pairs or global-ordering plan")
    // er01: best-match selection is min(struct) aggregates + semi joins,
    // never a window over the scored pair set
    val er01 = plan("er01_entity_match")
    assert("LeftSemi".r.findAllIn(er01).length >= 2,
      "er01 lost a mutual-best semi join")
    assert(!er01.contains("Window") && !er01.contains("CartesianProduct"),
      "er01 ranked pairs with a window or planned all-pairs")
    // cdc02: the retract is a BROADCAST anti join (delta-sized side)
    val cdc02 = plan("cdc02_replica_apply")
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(cdc02).nonEmpty,
      "cdc02 retract stopped broadcasting")
    // fs02: two as-of hops stay window-form — no non-equi range join,
    // no nested loop
    val fs02 = plan("fs02_pit_two_dims")
    assert(!fs02.contains("CartesianProduct")
      && !fs02.contains("BroadcastNestedLoopJoin"),
      "fs02 planned a dim hop as a non-equi join")
    // sk02: the query returns the materialized front (r15 — pareto3d
    // checkpoints so its survivor cache can be released; g02/g08's
    // materialized-result contract), so the RESULT plan is a checkpoint
    // scan; the exact-pass shape is pinned on the staged (lazy) form
    // over the same input below
    val sk02 = plan("sk02_pareto3d")
    assert(sk02.contains("Scan ExistingRDD") && !sk02.contains("Join"),
      s"sk02 lost its materialized-front shape:\n$sk02")
    // the ONLY nested loop allowed is the survivor-set exact pass, which
    // must be the BROADCAST variant (survivors are front-scale); a
    // corpus-side SortMergeJoin would mean the grid prune fell out
    val sk02pts = {
      import org.apache.spark.sql.functions.{array_distinct, col, split,
        size => asize, filter => afilter}
      val ws = afilter(split(col("text"), " "), w => w =!= "")
      graft.Tables.table(spark, sf(), "documents").select(
        col("doc_id"), col("n_chars").as("x"),
        asize(array_distinct(ws)).cast("long").as("y"),
        asize(ws).cast("long").as("z"))
    }
    val (staged, release) =
      graft.operators.Skyline.pareto3dStaged(sk02pts, "x", "y", "z")
    val sk02x = staged.queryExecution.executedPlan.toString
    release()
    assert(sk02x.contains("BroadcastNestedLoopJoin"),
      "sk02 lost the broadcast exact pass")
    assert(!sk02x.contains("CartesianProduct") && !sk02x.contains("SortMergeJoin"),
      "sk02 planned an unbroadcast all-pairs or corpus shuffle join")
    // sk04: the registered query returns the MATERIALIZED per-group front
    // (r17 — the checkpoint is what lets the operator release its
    // point-set persist), so the window form is probed on the staged
    // (pre-checkpoint) plan: per-group fronts are PARTITIONED windows —
    // the degenerate global-order Window.orderBy form would
    // single-partition the corpus
    val sk04 = plan("sk04_pareto_by_source")
    assert(sk04.contains("Scan ExistingRDD") && !sk04.contains("Join"),
      s"sk04 lost its materialized-front shape:\n$sk04")
    assert(!sk04.contains("CartesianProduct"))
    val sk04pts = {
      import org.apache.spark.sql.functions.col
      graft.Tables.table(spark, sf(), "documents").select(
        col("doc_id"), col("source"), col("n_chars").as("x"),
        col("doc_id").cast("long").as("y"))
    }
    val (sk04staged, sk04release) =
      graft.operators.Skyline.pareto2dByStaged(sk04pts, Seq("source"), "x", "y")
    val sk04x = sk04staged.queryExecution.executedPlan.toString
    sk04release()
    assert(sk04x.contains("Window"), "sk04 lost the window form")
    assert(sk04x.contains("PartitionBy") || sk04x.contains("partitionBy") ||
      sk04x.contains("windowspecdefinition(sk_k0"),
      s"sk04 window is not partitioned by the group key:\n$sk04x")
    // d56: incremental probe keeps the scan-local scoring (no join-back)
    val d56 = plan("d56_incremental_editdist")
    assert(d56.contains("levenshtein"),
      "d56 lost the scan-local scoring projection")
    assert(!d56.contains("CartesianProduct") && !d56.contains("Window"),
      "d56 fell back to an all-pairs or global-ordering plan")
  }

  test("GraftExtensions injects function + rule into a fresh session") {
    val base = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s = Session(2)
      assert(s ne base, "Session(2) reused the suite session")
      val d = s.sql("SELECT array_dot(array(1.0d, 2.0d), array(2.0d, 3.0d)) AS d")
        .head().getDouble(0)
      assert(d == 8.0)
      // the engine-wide settings every entry point runs with
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "2")
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }

  test("all queries build a plan against sf0.001 (no analysis errors)") {
    val dir = sf()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, dir).schema // forces analysis, not execution
      catch { case e: Throwable => fail(s"$name failed analysis: ${e.getMessage}") }
    }
  }

  test("no query output carries a top-level array/map column (harness guard)") {
    // The driver's pandas-based comparator cannot hash numpy arrays; the
    // repo convention is to stringify collection outputs (array_join/md5).
    // q45 broke this in r08 and its oracle row went `err` — keep it fixed.
    import org.apache.spark.sql.types.{ArrayType, MapType}
    val dir = sf()
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      fn(spark, dir).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
                  f.dataType.isInstanceOf[MapType] => s"$name.${f.name}"
      }
    }
    assert(offenders.isEmpty,
      s"stringify these columns (array_join/md5): ${offenders.mkString(", ")}")
  }
}
