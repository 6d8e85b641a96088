package graft.operators

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Holds the first row a UDF evaluates until the test says go: the window
  * in which another caller of the same session makes its own checkpoint
  * while an operator's round is materializing. */
object CheckpointGate {
  @volatile var entered = new CountDownLatch(1)
  @volatile var resume = new CountDownLatch(1)
  private val first = new AtomicBoolean(true)
  def reset(): Unit = {
    entered = new CountDownLatch(1)
    resume = new CountDownLatch(1)
    first.set(true)
  }
  def pass(x: Long): Long = {
    if (first.compareAndSet(true, false)) {
      entered.countDown()
      resume.await(60, TimeUnit.SECONDS)
    }
    x
  }
}

/** The contract [[Fixpoint]] gives every iterative graph operator: the
  * returned state is materialized on empty and minimal-round inputs, no
  * superseded checkpoint or internal persist outlives the call, a release
  * never touches another caller's checkpoint, and the durable read-back
  * infers no schema. */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  private def registry: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Run `op`, then check its result reads a checkpoint (a parquet scan
    * when `durable`) with no join above it, and that the only persistent
    * RDDs the call left are the ones backing that result. */
  private def contract(name: String, durable: Boolean = false)(
      op: => DataFrame): Unit = {
    val before = registry
    val out = op
    val plan = out.queryExecution.executedPlan.toString
    val scan = if (durable) "FileScan parquet" else "Scan ExistingRDD"
    assert(plan.contains(scan) && !plan.contains("Join"),
      s"$name: the returned state is not materialized:\n$plan")
    val backing = GraftBridge.logicalPlan(out)
      .collect { case r: LogicalRDD => r.rdd.id }.toSet
    val left = registry -- before
    assert(left.subsetOf(backing),
      s"$name: persistent RDDs left behind ${left -- backing} " +
        s"(result backed by $backing)")
    if (durable) assert(left.isEmpty, s"$name: durable mode left $left")
    out.collect() // the materialized result still reads
  }

  private val noPairs = Seq.empty[(Long, Long)]
  private val noWeighted = Seq.empty[(Long, Long, Long)]

  test("Components.connected: materialized and released on empty and converged inputs") {
    contract("cc empty")(Components.connected(noPairs.toDF("a_id", "b_id")))
    // a star centred on its min id is already labelled by the seed: the
    // loop stops after its first round
    val star = Seq((1L, 2L), (1L, 3L)).toDF("a_id", "b_id")
    contract("cc converged")(Components.connected(star))
    val dir = java.nio.file.Files.createTempDirectory("fixpoint-cc").toString
    contract("cc durable", durable = true)(
      Components.connected(star, checkpointDir = Some(dir)))
  }

  test("pageRank and labelPropagation: materialized and released on empty and one-round inputs") {
    val one = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    val empty = noWeighted.toDF("src", "dst", "w")
    contract("pr empty")(Graph.pageRank(empty))
    contract("pr one round")(Graph.pageRank(one, iterations = 1))
    contract("pr six rounds")(Graph.pageRank(one, iterations = 6))
    contract("lpa empty")(Graph.labelPropagation(empty))
    contract("lpa one round")(Graph.labelPropagation(one, iterations = 1))
    contract("lpa four rounds")(Graph.labelPropagation(one, iterations = 4))
  }

  test("reachableFrom and incrementalReachable: materialized and released on empty and zero-round inputs") {
    val seeds = Seq(1L).toDF("node")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    contract("bfs empty")(Graph.reachableFrom(noPairs.toDF("src", "dst"), seeds))
    contract("bfs zero rounds")(Graph.reachableFrom(edges, seeds, maxDepth = 0))
    assert(Graph.reachableFrom(edges, seeds, maxDepth = 0)
      .as[(Long, Int)].collect().toSeq == Seq((1L, 0)))
    val stored = Graph.reachableFrom(edges, seeds)
    // the delta leaves no node of the closure: nothing to expand
    contract("bfs fold reaching nothing")(Graph.incrementalReachable(
      stored, edges, Seq((7L, 8L)).toDF("src", "dst")))
  }

  test("shortestPaths and kCore: materialized and released on empty and converged inputs") {
    val seeds = Seq(1L).toDF("node")
    val empty = noWeighted.toDF("src", "dst", "w")
    contract("sp empty")(Graph.shortestPaths(empty, seeds))
    contract("sp empty converge")(
      Graph.shortestPaths(empty, seeds, rounds = 20, converge = true))
    // the seed has no out-edge: the first round improves nothing
    val dead = Seq((2L, 1L, 1L)).toDF("src", "dst", "w")
    contract("sp converged")(
      Graph.shortestPaths(dead, seeds, rounds = 20, converge = true))
    contract("kcore empty")(Graph.kCore(noPairs.toDF("src", "dst"), 2, 3))
    // a triangle is its own 2-core: the first peel removes no edge
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    contract("kcore converged")(Graph.kCore(tri, 2, 20, converge = true))
    contract("kcore fixed")(Graph.kCore(tri, 2, 3))
  }

  test("a checkpoint another caller makes while a round materializes survives the round's release") {
    // The seed round of connected() blocks on its first row until another
    // thread of the same session has checkpointed X. A release that diffs
    // the session-wide persistent-RDD registry around the round's
    // checkpoint captures X too and unpersists it one round later, so X's
    // next read fails; releasing through the frame's own plan leaves X be.
    CheckpointGate.reset()
    val gate = udf((x: Long) => CheckpointGate.pass(x))
    // (repartitioned so the optimizer cannot fold the UDF into a local
    // relation on the driver before the round starts)
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b").repartition(2)
      .select(gate(col("a")).as("a_id"), col("b").as("b_id"))
    implicit val ec: ExecutionContext = ExecutionContext.global
    val other = Future {
      try {
        assert(CheckpointGate.entered.await(60, TimeUnit.SECONDS),
          "the seed round never started")
        spark.range(0, 100, 1, 2).localCheckpoint(true)
      } finally CheckpointGate.resume.countDown()
    }
    val labels = Components.connected(edges)
    val x = Await.result(other, 90.seconds)
    assert(labels.count() == 5)
    assert(x.count() == 100)
  }

  test("Fixpoint.run reports its rounds and convergence; connected fails without convergence") {
    // v climbs by one per round up to 3: rows change in rounds 1-3, none in 4
    val init = spark.range(0, 4).select(col("id").as("v"))
    def step(s: DataFrame, i: Int): DataFrame = {
      val next = least(col("v") + 1, lit(3L))
      s.select(next.as("v"), (next =!= col("v")).as("chg"))
    }
    val done = Fixpoint.run(init, 10, None, "t", changed = Some("chg"))(step)
    assert((done.rounds, done.converged) == ((4, true)))
    assert(done.state.select("v").as[Long].collect().toSet == Set(3L))
    val cut = Fixpoint.run(init, 2, None, "t", changed = Some("chg"))(step)
    assert((cut.rounds, cut.converged) == ((2, false)))
    val none = Fixpoint.run(init, 0, None, "t")(step)
    assert((none.rounds, none.converged) == ((0, false)))
    assert(none.state.queryExecution.executedPlan.toString.contains("Scan ExistingRDD"))
    val chain = (1L until 10L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val err = intercept[IllegalArgumentException](Components.connected(chain, maxIter = 1))
    assert(err.getMessage.contains("did not converge in 1 rounds"))
  }

  test("Fixpoint.release refuses a frame that is not the checkpoint itself") {
    val cp = spark.range(10).toDF().localCheckpoint(true)
    intercept[IllegalArgumentException] { Fixpoint.release(cp.select("id")) }
    Fixpoint.release(cp)
  }

  test("the durable round-trip reads each round back without schema inference") {
    val details = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        js.stageInfos.foreach(s => details.add(s.details))
    }
    val dir = java.nio.file.Files.createTempDirectory("fixpoint-infer").toString
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a_id", "b_id")
    spark.sparkContext.addSparkListener(listener)
    try {
      val labels = Components.connected(edges, checkpointDir = Some(dir))
        .as[(Long, Long)].collect().toMap
      assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L))
      GraftBridge.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    // a job's call-site details start with the Spark API method the caller
    // invoked: a footer-inference job starts in DataFrameReader
    val reads = details.toArray.map(_.toString).filter(
      _.linesIterator.take(1).exists(_.contains("DataFrameReader")))
    assert(details.size > 0 && reads.isEmpty,
      s"read-back jobs in a durable run:\n${reads.mkString("\n---\n")}")
  }
}
