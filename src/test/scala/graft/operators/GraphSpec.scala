package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("2-cycle is the fixed point: both nodes hold exactly 1.0 forever") {
    val edges = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    val out = ranks(Graph.pageRank(edges, iterations = 6))
    assert(out == Map(1L -> 1000000L, 2L -> 1000000L))
  }

  test("star graph: hand-computed integer recurrence, two rounds") {
    // A(1)->B(2), C(3)->B(2); B dangling.
    val edges = Seq((1L, 2L, 1L), (3L, 2L, 1L)).toDF("src", "dst", "w")
    // round 1: B = 150000 + 850000*(1e6+1e6) DIV 1e6 = 1850000; A=C=150000
    val r1 = ranks(Graph.pageRank(edges, iterations = 1))
    assert(r1 == Map(1L -> 150000L, 2L -> 1850000L, 3L -> 150000L))
    // round 2: B = 150000 + 850000*(150000+150000) DIV 1e6 = 405000
    val r2 = ranks(Graph.pageRank(edges, iterations = 2))
    assert(r2 == Map(1L -> 150000L, 2L -> 405000L, 3L -> 150000L))
  }

  test("weights split contribution by integral division of out-weight") {
    // A->B w=3, A->C w=1: wout=4, contrib B=(1e6*3) DIV 4, C=(1e6*1) DIV 4
    val edges = Seq((1L, 2L, 3L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val r1 = ranks(Graph.pageRank(edges, iterations = 1))
    assert(r1(2L) == 150000L + 850000L * 750000L / 1000000L) // 787500
    assert(r1(3L) == 150000L + 850000L * 250000L / 1000000L) // 362500
    assert(r1(1L) == 150000L)
  }

  test("parallel duplicate edges combine into their weight sum") {
    val dup = Seq((1L, 2L, 1L), (1L, 2L, 2L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val merged = Seq((1L, 2L, 3L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    assert(ranks(Graph.pageRank(dup, iterations = 3)) ==
      ranks(Graph.pageRank(merged, iterations = 3)))
  }

  test("deterministic across partitionings; durable checkpoint mode agrees") {
    val edges = (1L to 300L).map(i => (i % 37, (i * 7) % 37, 1L + i % 3))
      .toDF("src", "dst", "w")
    val a = ranks(Graph.pageRank(edges, iterations = 6))
    val b = ranks(Graph.pageRank(edges.repartition(13), iterations = 6))
    assert(a == b)
    val dir = java.nio.file.Files.createTempDirectory("graft-pr-spec").toString
    val c = ranks(Graph.pageRank(edges, iterations = 6, checkpointDir = Some(dir)))
    assert(a == c)
  }

  test("empty edge list yields an empty ranking") {
    val empty = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    assert(Graph.pageRank(empty, iterations = 3).isEmpty)
  }

  private def tri(edges: Seq[(Long, Long)]): (Long, Long, Long, Long) = {
    val r = Graph.triangleCount(edges.toDF("src", "dst")).collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  test("triangleCount: K4 has 4 triangles; direction/dup/loop edges collapse") {
    // complete graph on {1,2,3,4}: C(4,3) = 4 triangles, 6 edges
    val k4 = for {
      a <- 1L to 4L; b <- 1L to 4L if a != b
    } yield (a, b) // both directions present
    assert(tri(k4 ++ Seq((1L, 1L), (2L, 1L))) == ((4L, 6L, 4L, 4L)))
    // 3-path: the wedge's center is its highest-degree vertex, so the
    // orientation points BOTH edges into it — zero oriented wedges (the
    // hub-protection doing its job even at degree 2)
    assert(tri(Seq((1L, 2L), (2L, 3L))) == ((3L, 2L, 0L, 0L)))
    // 4-path: 1→2→3 survives as an oriented wedge (2→3 by the id
    // tiebreak), but nothing closes it
    val (v, e, w, t) = tri(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    assert(v == 4L && e == 3L && w == 1L && t == 0L)
    // triangle + pendant: exactly one
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)))._4 == 1L)
  }

  test("triangleCount: orientation bounds wedges on a star (no hub blow-up)") {
    // star K1,50: raw wedge counting would give C(50,2)=1225 wedges on
    // the hub; the (degree, id) orientation points every edge AT the hub,
    // so out-degrees are all 1 and ZERO wedges form
    val star = (2L to 51L).map(leaf => (1L, leaf))
    val (v, e, w, t) = tri(star)
    assert(v == 51L && e == 50L && w == 0L && t == 0L)
  }

  test("triangleCount is partitioning-independent and empty-safe") {
    val edges = (1L to 400L).map(i => ((i * 13) % 23, (i * 7) % 23))
      .filter(p => p._1 != p._2).toDF("src", "dst")
    val a = Graph.triangleCount(edges).collect().head.toSeq
    val b = Graph.triangleCount(edges.repartition(17)).collect().head.toSeq
    assert(a == b)
    assert(Graph.triangleCount(
      Seq.empty[(Long, Long)].toDF("src", "dst")).collect().head.toSeq ==
      Seq(0L, 0L, 0L, 0L))
  }

  private def lpa(edges: Seq[(Long, Long, Long)], rounds: Int = 4) =
    Graph.labelPropagation(edges.toDF("src", "dst", "w"), iterations = rounds)
      .as[(Long, Long)].collect().toMap

  test("labelPropagation: two cliques joined by one weak edge settle into two communities") {
    // clique {1,2,3} and clique {10,11,12}, bridge 3-10 with weight 1
    val clique = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L))
      .map { case (a, b) => (a, b, 5L) }
    val out = lpa(clique :+ ((3L, 10L, 1L)))
    assert(out(1L) == out(2L) && out(2L) == out(3L))
    assert(out(10L) == out(11L) && out(11L) == out(12L))
    assert(out(1L) != out(10L))
  }

  test("labelPropagation: weight beats degree, and vote ties break to the smallest label") {
    // node 5's neighbors: 1 (weight 10) vs 2,3 (weight 3 each) — the
    // heavy edge wins round 1
    val heavy = lpa(Seq((1L, 5L, 10L), (2L, 5L, 3L), (3L, 5L, 3L)), rounds = 1)
    assert(heavy(5L) == 1L)
    // equal-weight tie between labels 1 and 2 -> smallest label
    val tie = lpa(Seq((1L, 5L, 3L), (2L, 5L, 3L)), rounds = 1)
    assert(tie(5L) == 1L)
  }

  test("labelPropagation: self-loops drop (a lone self-loop node leaves the node set)") {
    val out = lpa(Seq((7L, 7L, 99L), (1L, 2L, 1L)), rounds = 2)
    assert(!out.contains(7L))
    assert(out.keySet == Set(1L, 2L))
  }

  test("labelPropagation is partitioning-independent; durable checkpoint mode agrees") {
    val edges = (1L to 300L).map(i => ((i * 13) % 37, (i * 7) % 37, 1L + i % 3))
      .filter(p => p._1 != p._2)
    val a = lpa(edges)
    val b = Graph.labelPropagation(
      edges.toDF("src", "dst", "w").repartition(17), iterations = 4)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
    val dir = java.nio.file.Files.createTempDirectory("lpa-ckpt").toString
    val c = Graph.labelPropagation(edges.toDF("src", "dst", "w"),
      iterations = 4, checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toMap
    assert(a == c)
  }

  test("kCore: cascading peel reaches the clique fixpoint; symmetrization collapses noise") {
    import spark.implicits._
    // triangle {1,2,3} + tail 3-4-5: the 2-core is the triangle, but the
    // peel CASCADES — round 1 drops only 5 (degree 1), which exposes 4
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      // direction flips, duplicates and self-loops must not add degree
      (2L, 1L), (3L, 3L)).toDF("src", "dst")
    def run(rounds: Int) = Graph.kCore(edges, k = 2, rounds = rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val one = run(1)
    assert(one.keySet == Set(1L, 2L, 3L, 4L),
      s"round 1 must only drop the leaf: $one") // cascade not yet finished
    val two = run(2)
    assert(two == Map(1L -> 2L, 2L -> 2L, 3L -> 2L),
      s"triangle with within-core degrees: $two")
    assert(run(3) == two, "rounds vs rounds+1: fixpoint reached")
    intercept[IllegalArgumentException] { Graph.kCore(edges, 0, 1) }
    intercept[IllegalArgumentException] { Graph.kCore(edges, 2, 0) }
  }

  test("kCore converge mode reaches the peel fixpoint where fixed-K under-peels") {
    import spark.implicits._
    // a long tail 0-1-…-7 hanging off triangle {100,101,102}: each peel
    // round drops exactly one tail node (degree 1 cascades inward), so
    // the true 2-core — the triangle — needs EIGHT rounds; a g06-style
    // fixed K=3 under-peels, the exact case the converge option exists
    // for (shortestPaths(converge)'s twin)
    val tail = (0L until 7L).map(i => (i, i + 1)) :+ ((7L, 100L))
    val tri = Seq((100L, 101L), (101L, 102L), (102L, 100L))
    val edges = (tail ++ tri).toDF("src", "dst")
    val truth = Map(100L -> 2L, 101L -> 2L, 102L -> 2L)
    val fixed3 = Graph.kCore(edges, k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fixed3.keySet.exists(_ < 100L),
      s"fixed-3 should still carry tail remnants: $fixed3")
    // converge: rounds is an upper bound, the peel stops at the fixed
    // point — the unbounded recursive k-core answer
    val conv = Graph.kCore(edges, k = 2, rounds = 20, converge = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(conv == truth, s"got $conv")
    // a bound hit BEFORE convergence degrades to the fixed-K contract
    assert(Graph.kCore(edges, k = 2, rounds = 3, converge = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == fixed3)
    // partitioning independence composes with converge
    assert(Graph.kCore(edges.repartition(5), k = 2, rounds = 20,
        converge = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == truth)
  }

  test("reachableFrom: min-hop BFS, cycle-safe unbounded, maxDepth caps the wave") {
    import spark.implicits._
    // chain 0→1→2→3 plus a back-edge 2→0 (cycle) and a shortcut 0→2:
    // min-hops are 0,1,1,2 — the shortcut must win over the chain path,
    // and the cycle must not prevent termination without a depth cap
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (2L, 0L), (0L, 2L))
      .toDF("src", "dst")
    val seeds = Seq(0L).toDF("node")
    val got = Graph.reachableFrom(edges, seeds)
      .as[(Long, Int)].collect().toMap
    assert(got == Map(0L -> 0, 1L -> 1, 2L -> 1, 3L -> 2), s"got $got")
    // capped: depth-1 wave stops before node 3
    val capped = Graph.reachableFrom(edges, seeds, maxDepth = 1)
      .as[(Long, Int)].collect().toMap
    assert(capped == Map(0L -> 0, 1L -> 1, 2L -> 1), s"got $capped")
    // maxDepth = 0: the seed set itself
    assert(Graph.reachableFrom(edges, seeds, maxDepth = 0)
      .as[(Long, Int)].collect().toMap == Map(0L -> 0))
  }

  test("reachableFrom: multi-seed min, direction respected, isolated seed kept") {
    import spark.implicits._
    // 10→11→12, 20→12 (12 reachable from both arms at different depths),
    // 30←31 (wrong direction — 31 unreachable from 30), seed 99 isolated
    val edges = Seq((10L, 11L), (11L, 12L), (20L, 12L), (31L, 30L))
      .toDF("src", "dst")
    val seeds = Seq(10L, 20L, 30L, 99L, 99L).toDF("id") // dup seed collapses
    val got = Graph.reachableFrom(edges, seeds, srcCol = "src", dstCol = "dst")
      .as[(Long, Int)].collect().toMap
    assert(got == Map(10L -> 0, 20L -> 0, 30L -> 0, 99L -> 0,
      11L -> 1, 12L -> 1), s"got $got")
  }

  test("reachableFrom terminates in diameter rounds where walk enumeration explodes") {
    import spark.implicits._
    // complete digraph on 12 nodes: walks of length k number 12·11^k —
    // the UNION ALL recursive-CTE form g03 documents (walk enumeration)
    // is past 2.3M rows by depth 5 and NEVER terminates uncapped; the
    // deduped frontier visits all 12 nodes in ONE round and stops
    val n = 12
    val edges = (for { a <- 0 until n; b <- 0 until n if a != b }
      yield (a.toLong, b.toLong)).toDF("src", "dst")
    val got = Graph.reachableFrom(edges, Seq(0L).toDF("node"))
      .as[(Long, Int)].collect().toMap
    assert(got.size == n && got(0L) == 0 &&
      (1 until n).forall(i => got(i.toLong) == 1))
    // the contrast, executed: the walk-enumerating CTE on the SAME graph
    // blows the engine's recursion row limit (the g03-documented failure
    // this operator exists to close) — assert it actually fails
    edges.createOrReplaceTempView("bfs_blowup_e")
    val err = intercept[Exception] {
      spark.sql("""WITH RECURSIVE r(node, hops) AS (
          SELECT CAST(0 AS BIGINT), 0
          UNION ALL
          SELECT e.dst, r.hops + 1 FROM r JOIN bfs_blowup_e e ON e.src = r.node
          WHERE r.hops < 8)
        SELECT node, MIN(hops) FROM r GROUP BY node""").collect()
    }
    assert(err.getMessage.toLowerCase.contains("recursion"),
      s"expected the recursion row/depth limit, got: ${err.getMessage}")
  }

  test("incrementalReachable: delta fold equals from-scratch; covered delta is free") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val all = Seq.fill(500)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .distinct.toDF("src", "dst")
    // "yesterday": arbitrary 60% of the edges; "today" adds the rest
    val old = all.filter((col("src") * 7 + col("dst")) % 5 < 3)
    val delta = all.join(old, Seq("src", "dst"), "left_anti")
    val seeds = Seq(0L, 3L).toDF("node")
    val stored = Graph.reachableFrom(old, seeds)
    val inc = Graph.incrementalReachable(stored, all, delta)
      .select("node").as[Long].collect().toSet
    val scratch = Graph.reachableFrom(all, seeds)
      .select("node").as[Long].collect().toSet
    assert(inc == scratch, s"delta fold diverged from from-scratch: " +
      s"extra=${(inc -- scratch).take(5)} missing=${(scratch -- inc).take(5)}")
    // stored depths survive the fold untouched
    val storedD = stored.as[(Long, Int)].collect().toMap
    val incD = Graph.incrementalReachable(stored, all, delta)
      .as[(Long, Int)].collect().toMap
    assert(storedD.forall { case (n, d) => incD(n) == d },
      "stored closure rows must keep their stored depths")
    // a delta entirely INSIDE the stored closure expands nothing
    val inside = old.limit(3)
    val noop = Graph.incrementalReachable(stored, old, inside)
      .as[(Long, Int)].collect().toMap
    assert(noop == storedD, "covered delta must be a no-op")
    // an empty delta returns the closure as-is
    val empty = Graph.incrementalReachable(stored, old, old.limit(0))
      .as[(Long, Int)].collect().toMap
    assert(empty == storedD)
  }

  test("incrementalReachable: a delta that reaches nothing still returns a materialized closure") {
    import spark.implicits._
    val old = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("src", "dst")
    val stored = Graph.reachableFrom(old, Seq(0L).toDF("node"))
    // 5 -> 6 leaves no node of the closure {0, 1, 2}: zero BFS rounds
    val delta = Seq((5L, 6L)).toDF("src", "dst")
    val folded = Graph.incrementalReachable(stored, old, delta)
    // the zero-round exit must checkpoint too: reading the stored
    // artifact must not replay the seed plan's semi/anti joins
    val plan = folded.queryExecution.executedPlan.toString
    assert(plan.contains("Scan ExistingRDD") && !plan.contains("Join"),
      s"zero-round fold returned an unmaterialized plan:\n$plan")
    assert(folded.as[(Long, Int)].collect().toMap ==
      Map(0L -> 0, 1L -> 1, 2L -> 2))
  }

  test("shortestPaths: cheap long path beats costly short path; parallel edges keep the cheapest") {
    import spark.implicits._
    // 0→3 direct costs 10; 0→1→2→3 costs 1+1+1 = 3 — the case hop-count
    // BFS cannot express. A parallel 0→3 at cost 7 must also lose to the
    // min over parallel edges (7 beats 10, 3 beats 7). Node 4 enters via
    // the cycle edge 3→4 (cycle 4→0 must not prevent termination).
    val edges = Seq(
      (0L, 3L, 10L), (0L, 3L, 7L),
      (0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L),
      (3L, 4L, 2L), (4L, 0L, 1L)).toDF("src", "dst", "w")
    val got = Graph.shortestPaths(edges, Seq(0L).toDF("node"), rounds = 6)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 5L),
      s"got $got")
    // converged: one more round changes nothing (the fixed-K contract's
    // convergence check), and the smallVertexSet plan agrees bit-for-bit
    assert(Graph.shortestPaths(edges, Seq(0L).toDF("node"), rounds = 7)
      .as[(Long, Long)].collect().toMap == got)
    assert(Graph.shortestPaths(edges, Seq(0L).toDF("node"), rounds = 6,
      smallVertexSet = true).as[(Long, Long)].collect().toMap == got)
    // under-provisioned rounds: exact min over ≤ 2 edges — node 3 sees
    // only the direct edges (min 7), node 4 only the 2-edge 0→3→4 path
    // through the cheaper direct edge (7 + 2 = 9)
    val capped = Graph.shortestPaths(edges, Seq(0L).toDF("node"), rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(capped == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 7L, 4L -> 9L),
      s"got $capped")
  }

  test("shortestPaths converge mode reaches the unbounded fixed point where fixed-K under-counts") {
    import spark.implicits._
    // a 9-hop chain with a costly shortcut: the true distance to node 9
    // needs NINE relaxations (9 edges × cost 1 = 9), so the g09-style
    // fixed K=6 under-counts it (shortcut cost 50) — the exact case the
    // converge option exists for
    val chain = (0L until 9L).map(i => (i, i + 1, 1L))
    val edges = (chain :+ ((0L, 9L, 50L))).toDF("src", "dst", "w")
    val seeds = Seq(0L).toDF("node")
    val truth = (0L to 9L).map(i => i -> i).toMap // dist(i) = i
    val fixed6 = Graph.shortestPaths(edges, seeds, rounds = 6)
      .as[(Long, Long)].collect().toMap
    assert(fixed6(9L) == 50L, s"fixed-6 should keep the shortcut: $fixed6")
    // converged: rounds is an upper bound, the loop stops at the fixed
    // point — the unbounded recursive min-dist answer
    val conv = Graph.shortestPaths(edges, seeds, rounds = 20, converge = true)
      .as[(Long, Long)].collect().toMap
    assert(conv == truth, s"got $conv")
    // a bound hit BEFORE convergence degrades to the fixed-K contract
    assert(Graph.shortestPaths(edges, seeds, rounds = 3, converge = true)
      .as[(Long, Long)].collect().toMap ==
      Graph.shortestPaths(edges, seeds, rounds = 3)
        .as[(Long, Long)].collect().toMap)
    // plan/partitioning hatches compose with converge
    assert(Graph.shortestPaths(edges.repartition(5), seeds, rounds = 20,
        converge = true, smallVertexSet = true)
      .as[(Long, Long)].collect().toMap == truth)
  }

  test("shortestPaths: multi-seed min and partitioning independence") {
    import spark.implicits._
    val edges = Seq((0L, 2L, 5L), (1L, 2L, 3L), (2L, 3L, 1L))
      .toDF("src", "dst", "w")
    val seeds = Seq(0L, 1L, 1L).toDF("id") // dup seed collapses
    val got = Graph.shortestPaths(edges, seeds, rounds = 4)
      .as[(Long, Long)].collect().toMap
    // node 2: min(5 from seed 0, 3 from seed 1) = 3
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 3L, 3L -> 4L), s"got $got")
    val repartitioned = Graph.shortestPaths(
        edges.repartition(7), seeds.repartition(3), rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(repartitioned == got)
  }

  test("shortestPaths: a NULL-cost edge cannot be traversed, in fixed and converge mode") {
    // node 1 is reachable over the NULL-cost 0→1 and over 0→2→1 (cost 2);
    // node 4 only over the NULL-cost 0→4. A NULL relaxation must neither
    // win node 1's min nor reach node 4.
    val edges = Seq[(Long, Long, Option[Long])](
      (0L, 1L, None), (0L, 2L, Some(1L)), (2L, 1L, Some(1L)),
      (1L, 3L, Some(1L)), (0L, 4L, None)).toDF("src", "dst", "w")
    val seeds = Seq(0L).toDF("node")
    val truth = Map(0L -> Some(0L), 2L -> Some(1L), 1L -> Some(2L), 3L -> Some(3L))
    def run(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(run(Graph.shortestPaths(edges, seeds, rounds = 4)) == truth)
    assert(run(Graph.shortestPaths(edges, seeds, rounds = 20, converge = true))
      == truth)
  }

  test("reachableFrom: partitioning-independent; durable checkpoint mode agrees") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val edges = Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .toDF("src", "dst")
    val seeds = Seq(0L, 7L).toDF("node")
    val a = Graph.reachableFrom(edges, seeds).as[(Long, Int)].collect().toMap
    val b = Graph.reachableFrom(edges.repartition(17), seeds)
      .as[(Long, Int)].collect().toMap
    assert(a == b)
    val dir = java.nio.file.Files.createTempDirectory("bfs-ckpt").toString
    val c = Graph.reachableFrom(edges, seeds, checkpointDir = Some(dir))
      .as[(Long, Int)].collect().toMap
    assert(a == c)
    // reference BFS in plain Scala over the collected edge list
    val adj = edges.as[(Long, Long)].collect().groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    var vis = Map(0L -> 0, 7L -> 0)
    var fr = Set(0L, 7L); var d = 0
    while (fr.nonEmpty) {
      d += 1
      val nx = fr.flatMap(u => adj.getOrElse(u, Set.empty)) -- vis.keySet
      nx.foreach(u => vis += u -> d)
      fr = nx
    }
    assert(a == vis, "operator must equal the reference BFS")
  }
}
