package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.util.Random

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force union-find ground truth: comp(u) = min id in u's group. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(n => n -> find(n)).toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connected(edges.toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two disjoint chains resolve to their min ids") {
    // 1-2-3-4 and 10-11; a chain is the worst case for plain propagation
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    assert(run(edges) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("random graphs match brute-force union-find") {
    val rnd = new Random(7)
    for (trial <- 1 to 3) {
      val n = 60 + trial * 20
      val edges = Seq.fill(n) {
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)
      }.filter(e => e._1 != e._2)
      assert(run(edges) == unionFind(edges), s"trial $trial")
    }
  }

  test("long path converges via pointer jumping within the round budget") {
    // a 200-node path has diameter 199; without path compression 30 rounds
    // would not converge — with it, rounds scale with log(diameter)
    val edges = (0L until 199L).map(i => (i, i + 1))
    val got = run(edges)
    assert(got.size == 200 && got.values.forall(_ == 0L))
  }

  test("incremental fold equals from-scratch on every delta shape") {
    // history: {1-2-3}, {10-11}, {20-21}
    val e1 = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
    val stored = Components.connected(e1.toDF("a_id", "b_id"))
    // delta exercises every case at once: old↔old across components
    // (3-10 merges {1,2,3} with {10,11}), new↔old (21-30), new↔new
    // (40-41), and a redundant old↔old INSIDE a component (20-21 again)
    val e2 = Seq((3L, 10L), (21L, 30L), (40L, 41L), (20L, 21L))
    val inc = Components.incremental(stored, e2.toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == run(e1 ++ e2), "incremental must equal from-scratch")
    assert(inc == unionFind(e1 ++ e2))
    assert(inc(11L) == 1L && inc(30L) == 20L && inc(41L) == 40L)
  }

  test("incremental: empty delta is identity; random splits equal from-scratch") {
    val e1 = Seq((1L, 2L), (5L, 6L))
    val stored = Components.connected(e1.toDF("a_id", "b_id"))
    val same = Components.incremental(stored,
        Seq.empty[(Long, Long)].toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(same == run(e1))
    val rnd = new Random(13)
    for (_ <- 1 to 3) {
      val all = Seq.fill(60)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(e => e._1 != e._2)
      val (h, d) = all.splitAt(all.size / 2)
      val st = Components.connected(h.toDF("a_id", "b_id"))
      val inc = Components.incremental(st, d.toDF("a_id", "b_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(inc == unionFind(all))
    }
  }

  test("reliable-checkpoint mode produces the same labels as localCheckpoint") {
    // checkpointDir switches lineage truncation to durable checkpoint
    // blocks (the executor-churn-safe cluster mode); the labels — and the
    // d18-style oracle on top of them — must be identical in both modes
    val dir = tmpDir("graft-ccp")
    val rnd = new Random(31)
    val edges = Seq.fill(120) {
      (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong)
    }.filter(e => e._1 != e._2)
    val local = run(edges)
    val reliable = Components.connected(
      edges.toDF("a_id", "b_id"), checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable == local)
    assert(reliable == unionFind(edges))
    // self-cleaning: intermediate rounds are deleted once the next round
    // materializes — only the FINAL round's parquet (which backs the
    // returned DataFrame) survives under the per-call subdirectory
    val runDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("graft-cc-"))
    assert(runDirs.length == 1, s"expected one run dir, got ${runDirs.length}")
    val rounds = runDirs.head.listFiles().filter(_.getName.startsWith("round-"))
    assert(rounds.length == 1,
      s"stale round checkpoints left behind: ${rounds.map(_.getName).mkString(", ")}")
  }

  test("decontaminate flags only training docs sharing a shingle") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // benchmark
      (2L, "alpha beta gamma delta zeta eta"),     // 4-word overlap only
      (3L, "x alpha beta gamma delta epsilon z"),  // contains bench 5-gram
      (4L, "totally unrelated words here only now")
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminate(docs, col("doc_id") === 1, shingleK = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 3 shares "alpha beta gamma delta epsilon"; doc 2's longest common
    // word run with the benchmark is 4 words (< k); doc 4 shares nothing
    assert(out == Map(3L -> 1L))
  }
}
