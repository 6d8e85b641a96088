package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Weighted PageRank over a directed edge list — the link-authority score
  * (Page et al. 1999) a training-data pipeline uses to weight crawl
  * domains or browse-graph items by how much traffic flow concentrates on
  * them. [[Components]] is the engine's reachability iterator; this is
  * its weighted-flow sibling, the second member of the iterative-graph
  * family.
  *
  * == Determinism: integer millionths, no floats ==
  *
  * Textbook PageRank iterates float sums, and float addition order
  * differs across partitionings — the same graph would hash differently
  * at local[8] vs local[32]. Every quantity here is an integer: ranks in
  * millionths (node starts at 1 000 000), per-edge contribution
  * `rank(u)·w(e) DIV wout(u)` (integral division), update
  * `150000 + (850000 · Σcontrib) DIV 1000000` (damping 0.85 in
  * millionths). Integer sums are order-free, so the result is
  * bit-identical on any engine, partitioning, or retry — the same
  * discipline as x14/x21's quantized scores. Quantization loses < 1e-6
  * of rank mass per edge per round; dangling nodes (no out-edges) leak
  * their mass like the standard simplification does — both are
  * ranking-irrelevant and part of the replayable contract.
  *
  * == 100 TB shape ==
  *
  * Per round: one |E| equi-join (ranks onto edges by src), one
  * map-side-combined |E|→|V| aggregate (contributions by dst), one |V|
  * left join back onto the node set — all key-bounded shuffles, no
  * all-pairs anything. The edge list (joined once with its out-weights)
  * persists across rounds; rank lineage is truncated every third round
  * and after the last ([[Fixpoint]]: localCheckpoint by default, durable
  * parquet round-trip via `checkpointDir` under executor churn), without
  * which the plan doubles per iteration and Catalyst analysis, not data,
  * becomes the bottleneck. The rounds in between stay lazy and run as one
  * job at the next truncation (each lazy round deepens the plan by ~3
  * joins; 3 is where the saved jobs still beat the longer analysis).
  * Fixed iteration count, not a
  * convergence test: at 100 TB a convergence check is an extra |V|
  * action per round, and fixed-K is what makes the result replayable.
  */
object Graph {

  /** @param edges directed weighted edges (srcCol, dstCol: integral;
    *              wCol: positive integral multiplicity, e.g. a transition
    *              count). Parallel (src,dst) duplicates are combined.
    * @param smallVertexSet when true, the per-round rank and contribution
    *              tables ship as BROADCASTS instead of shuffling the edge
    *              list: the |E| join becomes a broadcast hash join (edges
    *              never move) and each round costs ONE map-side-combined
    *              |V|-key shuffle. This is the right plan when |V| fits
    *              executor memory while |E| is huge — item/domain/vocab
    *              graphs, where vertices number thousands-to-millions but
    *              transitions number billions; it is the wrong plan for
    *              web-scale |V| (leave false: both sides shuffle on the
    *              join key and AQE handles skew). Results identical
    *              either way — it only moves the data.
    * @return one row per node appearing in `edges`:
    *         (node, rank_millionths). */
  def pageRank(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      wCol: String = "w",
      iterations: Int = 6,
      checkpointDir: Option[String] = None,
      smallVertexSet: Boolean = false
  ): DataFrame = {
    require(iterations >= 1, s"iterations must be positive, got $iterations")
    val e0 = edges.groupBy(
        col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .agg(sum(col(wCol).cast("long")).as("w"))
    val wout = e0.groupBy("src").agg(sum(col("w")).as("wout"))
    val e = e0.join(wout, "src").persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    def maybeBcast(df: DataFrame): DataFrame =
      if (smallVertexSet) broadcast(df) else df
    val init = nodes.select(col("node"), lit(1000000L).as("rank"))
    val fix = Fixpoint.run(init, iterations, checkpointDir, "pr",
        cadence = 3) { (pr, _) =>
      // r17 (guide §2.4): per-edge contributions and the zero-contribution
      // node floor fold in ONE sum aggregation — the old plan aggregated
      // contributions by dst and then left-joined them back onto the node
      // set (an extra join + broadcast build per round). Integer sums are
      // order-free, so adding the nodes' 0-rows changes nothing.
      nodes.select(col("node"), lit(0L).as("s"))
        .unionByName(e
          .join(maybeBcast(pr.withColumnRenamed("node", "src")), "src")
          .select(col("dst").as("node"), expr("(rank * w) DIV wout").as("s")))
        .groupBy("node").agg(sum(col("s")).as("s"))
        .select(col("node"),
          (lit(150000L) + expr("(850000 * s) DIV 1000000")).as("rank"))
    }
    e.unpersist()
    nodes.unpersist()
    fix.state.select(col("node"), col("rank").as("rank_millionths"))
  }

  /** Synchronous weighted LABEL PROPAGATION communities (Raghavan et al.
    * 2007, "Near linear time algorithm to detect community structures") —
    * the clustering member of the iterative-graph family, beside
    * [[Components]]' reachability, [[pageRank]]'s flow authority, and
    * [[triangleCount]]'s density: components answer "connected at all?",
    * LPA answers "densely connected to WHOM?", the browse-graph question
    * behind topic pools and negative-sampling strata.
    *
    * Determinism, the same way as [[pageRank]]: the textbook algorithm
    * breaks vote ties randomly and updates asynchronously — both
    * engine-hostile. Here every node starts labeled with its own id,
    * rounds are SYNCHRONOUS (all nodes update from the previous round's
    * labels), a node adopts the neighbor label with the largest incident
    * edge-weight sum, and ties break to the SMALLEST label — a total
    * order, so K rounds replay bit-for-bit on any engine, partitioning,
    * or retry. Fixed K, not convergence (a convergence test is an extra
    * |V| action per round; synchronous LPA can also 2-cycle on bipartite
    * structures, which fixed-K sidesteps — both stated contracts).
    *
    * Graph semantics: the edge list is symmetrized (both directions
    * vote, weights of parallel edges combine), self-loops are dropped (a
    * node never votes for itself — a self-loop would trivially freeze
    * its label). A node whose only edges are self-loops leaves the node
    * set, stated.
    *
    * 100 TB shape: identical to [[pageRank]] — per round one |E|
    * equi-join (labels onto edges by src), one map-side-combined
    * (dst, label)-key aggregate, one argmax per node (min over a
    * (-weight, label) struct — no window, no sort), one |V| left join;
    * `smallVertexSet` broadcasts the label table so the edges never
    * move; lineage truncates every second round and after the last
    * ([[Fixpoint]]).
    *
    * @return one row per node appearing in the (symmetrized, de-looped)
    *         edge list: (node, label) — nodes sharing a label are one
    *         community. */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      wCol: String = "w",
      iterations: Int = 4,
      checkpointDir: Option[String] = None,
      smallVertexSet: Boolean = false
  ): DataFrame = {
    require(iterations >= 1, s"iterations must be positive, got $iterations")
    val dir0 = edges.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"),
      col(wCol).cast("long").as("w"))
    val e = dir0
      .unionAll(dir0.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(sum(col("w")).as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    def maybeBcast(df: DataFrame): DataFrame =
      if (smallVertexSet) broadcast(df) else df
    val init = nodes.select(col("node"), col("node").as("lbl"))
    val fix = Fixpoint.run(init, iterations, checkpointDir, "lpa",
        cadence = 2) { (lbl, _) =>
      // r17 (guide §2.4): the vote argmax and the keep-old-label fallback
      // fold into the second aggregation — carried labels ride as
      // lowest-priority vote rows (origin 1 behind every real vote's 0),
      // so the old plan's left join back onto the label table (and its
      // per-round broadcast build) disappears. A node with any real vote
      // picks the same (max weight, min label) winner; a node with none
      // keeps its label via its carried row.
      e.join(maybeBcast(lbl.withColumnRenamed("node", "src")), "src")
        .groupBy(col("dst"), col("lbl")).agg(sum(col("w")).as("cw"))
        .select(col("dst").as("node"), lit(0).as("o"), (-col("cw")).as("nc"),
          col("lbl"))
        .unionByName(lbl.select(col("node"), lit(1).as("o"),
          lit(0L).as("nc"), col("lbl")))
        .groupBy(col("node"))
        .agg(min(struct(col("o"), col("nc"), col("lbl").as("l"))).as("m"))
        .select(col("node"), col("m.l").as("lbl"))
    }
    e.unpersist()
    nodes.unpersist()
    fix.state.select(col("node"), col("lbl").as("label"))
  }

  /** Exact triangle count via DEGREE ORIENTATION — the third member of
    * the iterative-graph family (community density beside [[Components]]'
    * reachability and [[pageRank]]'s flow authority), and the canonical
    * "curse of the last reducer" problem (Suri & Vassilvitskii 2011):
    * counting wedges on the raw graph puts deg² work on every hub, so one
    * celebrity vertex stalls the whole job. The fix is an ORIENTATION,
    * not more hardware: direct each undirected edge from its lower
    * (degree, id) endpoint to the higher, and every triangle {x,y,z}
    * (ordered by that total order) appears as exactly one path x→y→z
    * closed by x→z — counted once, no multiplicity corrections — while
    * every vertex's OUT-degree is O(√m) regardless of its true degree
    * (a vertex with out-degree d has d higher-ordered neighbors, each of
    * degree ≥ d, so d² ≤ 2m). The wedge join is therefore Σ outdeg² ≤
    * O(m^1.5) TOTAL and per-key bounded — the hub's work is spread over
    * its low-degree neighbors, which is what survives a power-law graph
    * at 100 TB. Three shuffles total (degree agg, wedge join, closure
    * join); everything integer/exact, so the count replays bit-for-bit
    * on any engine or partitioning.
    *
    * @param edges directed or undirected edge list; both directions and
    *              duplicates collapse to one undirected edge, self-loops
    *              drop. @return one row: (n_vertices, n_edges, n_wedges,
    *              n_triangles) — wedges = oriented 2-paths, the candidate
    *              count the closure join filters (the audit number that
    *              shows the orientation bounding the work). */
  def triangleCount(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"
  ): DataFrame = {
    // canonical undirected edges: (a < b), loops dropped, both input
    // directions collapsed
    val und = edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // orient by the (degree, id) total order: with a < b by id already,
    // a leads unless b's degree is strictly smaller (ties keep id order)
    val o = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(
        when(col("db") < col("da"), col("b")).otherwise(col("a")).as("src_o"),
        when(col("db") < col("da"), col("a")).otherwise(col("b")).as("dst_o"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // wedges u→v→w, closed by the oriented edge u→w
    val wedges = o.select(col("src_o").as("u"), col("dst_o").as("v"))
      .join(o.select(col("src_o").as("v"), col("dst_o").as("w")), "v")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nW = wedges.count()
    val nT = wedges
      .join(o.select(col("src_o").as("u"), col("dst_o").as("w")), Seq("u", "w"))
      .count()
    val nV = deg.count()
    val nE = und.count()
    und.unpersist(); o.unpersist(); wedges.unpersist()
    val spark = edges.sparkSession
    spark.range(1).select(
      lit(nV).as("n_vertices"), lit(nE).as("n_edges"),
      lit(nW).as("n_wedges"), lit(nT).as("n_triangles"))
  }

  /** Deduped-frontier REACHABILITY (level-synchronous BFS) from a source
    * set over a directed edge list — the scale-safe form of the transitive
    * closure g03's recursive CTE can only express depth-bounded: UNION ALL
    * recursion enumerates WALKS (exponential on a dense graph — measured,
    * g03's depth-3 form blows the engine's 1M recursion-row limit at
    * sf0.1, and on any cyclic graph it never terminates without a cap),
    * and per-step-dedup UNION recursion is not in the engine
    * (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE). [[Components]] answers
    * "connected at all?" over UNDIRECTED edges; this answers "which nodes
    * derive from corpus X, and in how many hops?" — the lineage /
    * contamination-spread question a training-data pipeline actually asks.
    *
    * Mechanism: classic frontier BFS with global dedup. Round d joins the
    * CURRENT frontier (nodes first reached at d−1) onto the edge list,
    * dedups the targets, drops everything already visited (one left-anti
    * join against the visited set), and what remains IS the set of nodes
    * whose minimum hop distance is exactly d — level-synchronous
    * expansion makes first-arrival = min-hop by construction, and the
    * dedup makes every round's work proportional to the NEW nodes' edges,
    * never to the walk count. Terminates on any graph (cycles included)
    * in ≤ eccentricity(sources) rounds; per round one key-bounded
    * |frontier⋈E| join + one anti join, lineage truncated every round
    * ([[Fixpoint]], the iterative-family contract).
    *
    * @param sources one-column DataFrame of seed node ids (any integral
    *                type; duplicates collapse). Seeds absent from the
    *                edge list still return at depth 0 — reachability of
    *                an isolated seed is itself.
    * @param maxDepth stop after this many expansion rounds (the capped
    *                form replays g03's SQL contract exactly); default
    *                unbounded — safe, the dedup bounds total work by |V|.
    * @return (node, depth): every node reachable from the source set
    *         within maxDepth hops, with its MINIMUM hop distance. */
  def reachableFrom(
      edges: DataFrame,
      sources: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxDepth: Int = Int.MaxValue,
      checkpointDir: Option[String] = None,
      smallFrontier: Boolean = false
  ): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    val seedCol = sources.columns.head
    val seeds = sources.select(col(seedCol).cast("long").as("node")).distinct()
      .select(col("node"), lit(0).as("depth"), lit(true).as("sk_new"))
    bfs(edges, srcCol, dstCol, seeds, maxDepth, checkpointDir, smallFrontier)
  }

  /** The shared level-synchronous BFS loop: expand the frontier (the
    * `visited0` rows whose `sk_new` is true) over the edge list, never
    * re-entering a visited node. Returns (node, depth) for visited0 ∪
    * everything newly reached, each new node stamped with the round it
    * first arrived in. */
  private def bfs(
      edges: DataFrame,
      srcCol: String, dstCol: String,
      visited0: DataFrame,
      maxDepth: Int,
      checkpointDir: Option[String],
      smallFrontier: Boolean
  ): DataFrame = {
    def maybeBcast(df: DataFrame): DataFrame =
      if (smallFrontier) broadcast(df) else df
    val e = edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      // adjacency only: parallel edges would re-derive the same target
      .distinct()
      // NOT pre-partitioned on the join key: a .repartition(col("s"))
      // before the persist would save the per-round |E| exchange (the
      // cached blocks would carry HashPartitioning(s)), but it pins the
      // partition count and defeats AQE's coalescing — measured 18%
      // SLOWER on the share-graph fold at bench scale, where levels are
      // tiny and fixed per-task overhead dominates. On a cluster where
      // |E| dwarfs executor memory, flip this trade (repartition before
      // persist); recorded here because it is a measured reversal of the
      // "obvious" scale optimization.
      .persist(StorageLevel.MEMORY_AND_DISK)
    // r17: visited0 is not eagerly checkpointed — it is either a stored
    // parquet read (incrementalReachable's closure: zero lineage already)
    // or a seed-set projection; round 1's fused checkpoint materializes
    // it, so the up-front copy of the WHOLE stored closure was one
    // redundant O(|closure|) job per fold. Nor is the frontier counted up
    // front: an empty frontier costs one no-op round, whose checkpoint is
    // the materialized result.
    //
    // (a TWO-levels-per-barrier variant — pageRank's lazy-round cadence —
    // was measured and REVERSED here: the second level's lazy plan
    // references level one three times, and the tripled subtree costs
    // more AQE stage-jobs than the saved barrier, 81 vs 73 jobs per fold)
    //
    // r17: the round's distinct + anti join + union are ONE aggregation
    // (guide §2.4 — operations keyed the same way share one exchange): the
    // old plan shuffled the targets for the dedup, built/shuffled the
    // visited set again for the anti join, then copied visited into the
    // checkpoint — 2-3 exchanges and ~5 AQE stage-jobs per level. Here
    // visited rows (priority 0) union the round's targets (priority 1,
    // depth d) and min(struct(priority, depth)) per node keeps the first
    // writer: an already-visited node keeps its stored depth (the
    // incrementalReachable contract — NOT min(depth), which would let a
    // delta round rewrite history's larger depths), a new node gets depth
    // d, and the priority field marks exactly the round's additions for
    // the fused count and the next frontier. One exchange, ~3 jobs per
    // level; profiled g08 fold 92 → 64 jobs.
    val fix = Fixpoint.run(visited0, maxDepth, checkpointDir, "bfs",
        changed = Some("sk_new")) { (visited, d) =>
      val frontier = visited.filter(col("sk_new")).select("node")
      val targets = e
        .join(maybeBcast(frontier.withColumnRenamed("node", "s")), "s")
        .select(col("d").as("node"), lit(d).as("depth"), lit(1).as("sk"))
      visited
        .select(col("node"), col("depth"), lit(0).as("sk"))
        .unionByName(targets)
        .groupBy("node")
        .agg(min(struct(col("sk"), col("depth"))).as("m"))
        .select(col("node"), col("m.depth").as("depth"),
          (col("m.sk") === 1).as("sk_new"))
    }
    e.unpersist()
    fix.state.drop("sk_new")
  }

  /** INCREMENTAL reachability: fold an edge DELTA into a STORED closure
    * without re-expanding history — [[Components.incremental]]'s
    * stored-artifact ingest contract applied to directed reachability. A
    * daily contamination job holds yesterday's closure (every node
    * reachable from the seed set); today's ingest adds documents and
    * share edges; re-running [[reachableFrom]] from the original seeds
    * re-pays every historical round for a delta-sized change.
    *
    * Mechanism: the stored closure C is CLOSED under the old edge set —
    * the only way out of C is a DELTA edge — so the incremental BFS
    * seeds at exactly the delta edges' escape points (heads of new edges
    * whose tail ∈ C, not already ∈ C) and expands over old ∪ new edges;
    * rounds touch only the newly-reachable region, and the result is
    * SET-identical to a from-scratch run over the union (the invariant
    * the spec and the g08 oracle pin). Nodes already in C keep their
    * stored depth; newly reached nodes are stamped with hops FROM THE
    * DELTA FRONTIER (their global min-hop would require re-running
    * history — the closure SET is the deliverable, stated).
    *
    * Cost: one |E'| semi-join to find the escape seeds + BFS rounds
    * proportional to the new region. An empty or already-covered delta
    * expands nothing. `edges` must be old ∪ new (the share graph is a
    * stored table either way — the point is not re-ITERATING it, not
    * not reading it). */
  def incrementalReachable(
      closure: DataFrame,
      edges: DataFrame,
      newEdges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxDepth: Int = Int.MaxValue,
      checkpointDir: Option[String] = None,
      smallFrontier: Boolean = false
  ): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    val c = closure.select(col(closure.columns.head).cast("long").as("node"),
      (if (closure.columns.contains("depth")) col("depth") else lit(0))
        .cast("int").as("depth"))
    // escape points: heads of delta edges leaving the stored closure
    val seeds = newEdges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("node"))
      .join(c.select(col("node").as("s")), Seq("s"), "left_semi")
      .select("node").distinct()
      .join(c.select("node"), Seq("node"), "left_anti")
    bfs(edges, srcCol, dstCol,
      visited0 = c.withColumn("sk_new", lit(false))
        .unionByName(seeds.select(col("node"), lit(0).as("depth"),
          lit(true).as("sk_new"))),
      maxDepth, checkpointDir, smallFrontier)
  }

  /** Weighted SHORTEST PATHS from a seed set — bounded Bellman-Ford
    * (Bellman 1958), the weighted member of the reachability family:
    * [[reachableFrom]] answers "reachable, and in how many HOPS?"; this
    * answers "at what minimum COST?" — the contamination-lineage
    * question d53's closure cannot grade ("how strongly does this
    * document derive from corpus X"), and the browse-graph question
    * behind traffic-weighted item distance.
    *
    * Deterministic bounded-round form (g02/g03's honesty contract):
    * exactly `rounds` synchronous relaxations — the result is the exact
    * minimum cost over paths of AT MOST `rounds` edges, which equals the
    * true shortest path whenever the relaxation has converged by
    * `rounds` (|V|−1 always suffices on negative-cycle-free graphs; the
    * spec pins rounds vs rounds+1 equality at convergence). Fixed K is
    * what makes the result replayable and the oracle expressible as K
    * unrolled min-folds; all arithmetic is integral, so the distances
    * are bit-identical on any engine, partitioning, or retry.
    *
    * 100 TB shape — [[pageRank]]'s exactly: per round one |E| equi-join
    * (distances onto edges by src), one map-side-combined |E|→|V| MIN
    * aggregate, one |reached| full-outer join folding the improvements
    * in; the distance table only ever holds REACHED nodes (frontier-like
    * growth, never the full vertex set times rounds); `smallVertexSet`
    * broadcasts it so the edge list never moves; lineage truncates every
    * second round and after the last ([[Fixpoint]]).
    *
    * @param edges directed weighted edges; `wCol` is the non-negative
    *              integral COST of traversing the edge (parallel edges
    *              keep the cheapest non-NULL cost). An edge whose cost is
    *              NULL cannot be traversed: it is dropped, so a node only
    *              it reaches is not reached. A multiplicity-style weight
    *              where bigger means closer should be inverted by the
    *              caller (e.g. `1000000 DIV count`).
    * @param sources one-column frame of seed ids; duplicates collapse,
    *              every seed starts at distance 0.
    * @param converge when true, `rounds` becomes an UPPER BOUND and the
    *              loop stops at the first round that improves nothing —
    *              every round is checkpointed and its improvements are
    *              counted inside that checkpoint job ([[Fixpoint]]; kCore's
    *              converge mode is the same loop). At the stop the
    *              relaxation is a fixed point, so the result is the TRUE
    *              shortest-path distance (on non-negative weights) — the
    *              unbounded answer a recursive-SQL engine computes —
    *              whenever the bound was not hit. The fixed-K default
    *              stays the replayable oracle-friendly contract.
    * @return (node, min_cost) for every node reachable from the seeds
    *         within `rounds` edges. */
  def shortestPaths(
      edges: DataFrame,
      sources: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      wCol: String = "w",
      rounds: Int = 6,
      checkpointDir: Option[String] = None,
      smallVertexSet: Boolean = false,
      converge: Boolean = false
  ): DataFrame = {
    require(rounds >= 1, s"rounds must be positive, got $rounds")
    // a NULL cost would relax to a NULL distance, which min(struct(dist,
    // …)) ranks first: dropped once here, never per round
    val e = edges.groupBy(
        col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .agg(min(col(wCol).cast("long")).as("cost"))
      .filter(col("cost").isNotNull)
      .persist(StorageLevel.MEMORY_AND_DISK)
    def maybeBcast(df: DataFrame): DataFrame =
      if (smallVertexSet) broadcast(df) else df
    val init = sources
      .select(col(sources.columns.head).cast("long").as("node")).distinct()
      .withColumn("dist", lit(0L))
    val fix = Fixpoint.run(init, rounds, checkpointDir, "sp", cadence = 2,
        changed = if (converge) Some("sp_chg") else None) { (dist, _) =>
      // r17 (guide §2.4): the per-edge relaxation rows and the carried
      // distances fold in ONE aggregation — min(struct(dist, origin))
      // per node — where the old plan aggregated the relaxations and
      // then full-outer-joined them back onto the distance table (a
      // second exchange of the |reached| set every round). Origin bit:
      // carried rows tag 0, relaxation rows 1, so an exact tie keeps the
      // carried row and sp_chg (origin of the winner = 1) reproduces the
      // strict-improvement convergence signal bit-for-bit.
      val relaxRows = e
        .join(maybeBcast(dist.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node"),
          (col("dist") + col("cost")).as("dist"), lit(1).as("sp_o"))
      val next = dist.select(col("node"), col("dist"), lit(0).as("sp_o"))
        .unionByName(relaxRows)
        .groupBy("node")
        .agg(min(struct(col("dist"), col("sp_o"))).as("m"))
        .select(col("node"), col("m.dist").as("dist"),
          (col("m.sp_o") === 1).as("sp_chg"))
      if (converge) next else next.drop("sp_chg")
    }
    e.unpersist()
    fix.state.select(col("node"), col("dist").as("min_cost"))
  }

  /** k-CORE decomposition by iterative peeling (Seidman 1983; the
    * distributed peel is Montresor et al. 2013's shape) — the cohesion
    * member of the iterative family: d18 asks "connected at all?", g05
    * "clustered with whom?", this "how deeply embedded?" — the k-core is
    * the maximal subgraph where EVERY vertex keeps ≥ k neighbors, the
    * standard dense-nucleus extractor (spam rings, core communities,
    * bot cliques survive; tendrils peel away).
    *
    * Deterministic bounded-round form (g03's honesty contract): exactly
    * `rounds` peel iterations — each drops vertices whose CURRENT degree
    * is < k, which can cascade — then one final degree pass over the
    * surviving subgraph. Equal to the true k-core whenever the peel has
    * converged by `rounds` (the spec asserts rounds vs rounds+1 equality
    * on the test graph). Input edges are symmetrized to distinct
    * undirected (a < b) pairs, self-loops dropped (a loop is not a
    * neighbor).
    *
    * Per round: one map-side-combined degree aggregate + two LEFT SEMI
    * joins of the edge table against the |V|-scale keep set (AQE
    * broadcasts it when small; converge mode uses LEFT joins that flag
    * the removed edges instead) + a released checkpoint ([[Fixpoint]] —
    * without the truncation the plan doubles per round, the
    * iterative-family trap g02 documents; without the release each
    * round's superseded blocks pin executor storage for the session).
    * Never anything wider than the edge table shuffles.
    *
    * @param converge when true, `rounds` becomes an UPPER BOUND and the
    *              peel stops at the first round that removes no edge —
    *              counted inside that round's checkpoint job
    *              (`shortestPaths(converge)`'s loop). A vertex of degree
    *              < k loses at least one edge, so a round that removes
    *              none is exactly the fixed point: the result IS the
    *              true k-core whenever the bound was not hit — the
    *              unbounded answer a recursive-SQL engine computes. The
    *              fixed-K default stays the replayable oracle-friendly
    *              contract (the g06 oracle is fixed-K).
    * @return (item, degree) for every vertex of the surviving subgraph —
    *         its within-core degree (≥ k at convergence). */
  def kCore(
      edges: DataFrame,
      k: Int,
      rounds: Int,
      srcCol: String = "src",
      dstCol: String = "dst",
      converge: Boolean = false
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
    // fixed mode carries the surviving edges; converge mode carries each
    // round's input edges with a flag on those the peel removes, which the
    // round's checkpoint job counts
    def survivors(e: DataFrame): DataFrame =
      if (converge) e.filter(!col("kc_gone")).select("a", "b") else e
    val sym = edges.filter(col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()
    val init = if (converge) sym.withColumn("kc_gone", lit(false)) else sym
    val fix = Fixpoint.run(init, rounds, None, "kcore",
        changed = if (converge) Some("kc_gone") else None,
        materializeInit = true) { (prev, _) =>
      val e = survivors(prev)
      val keep = degrees(e).filter(col("d") >= k).select("v")
      if (converge)
        e.join(keep.select(col("v").as("a"), lit(true).as("ka")), Seq("a"), "left")
          .join(keep.select(col("v").as("b"), lit(true).as("kb")), Seq("b"), "left")
          .select(col("a"), col("b"),
            (col("ka").isNull || col("kb").isNull).as("kc_gone"))
      else
        e.join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
          .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
    }
    degrees(survivors(fix.state))
      .select(col("v").as("item"), col("d").as("degree"))
  }
}
