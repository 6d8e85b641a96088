package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, REPARTITION_BY_NUM, ShuffleExchangeExec}

/** Both branches of [[Dedup.partitionFloor]]: below its gate the gather
  * exchange of the capped pair finders (and the pair-count exchange of
  * the shingle-Jaccard family) gets an explicit partition count, which
  * AQE does not coalesce; at or above it the plan keeps the map-side
  * partial aggregate under the gather exchange. Either way the rows are
  * the same. The gate is `defaultParallelism × advisory partition size`,
  * so a one-byte advisory size puts every non-empty test corpus above it. */
class PartitionFloorSpec extends SparkSpec {
  import spark.implicits._

  private val advisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  /** `body` with the floor's gate below every non-empty input. */
  private def floorOff[T](body: => T): T = {
    val prev = spark.conf.getOption(advisoryKey)
    spark.conf.set(advisoryKey, "1")
    try body finally prev.fold(spark.conf.unset(advisoryKey))(spark.conf.set(advisoryKey, _))
  }

  /** The physical plan with AQE's exchanges in place, before any stage runs. */
  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** The shuffle exchanges hash-partitioned on exactly the columns `keys`. */
  private def exchangesOn(df: DataFrame, keys: String*): Seq[ShuffleExchangeExec] =
    plan(df).collect {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.collect { case a: Attribute => a.name } == keys
        case _ => false
      }) => e
    }

  private def shufflePartitions: Int = spark.conf.get("spark.sql.shuffle.partitions").toInt

  private def assertFloored(df: DataFrame, keys: String*): Unit = {
    val ex = exchangesOn(df, keys: _*)
    assert(ex.size == 1, s"one exchange on ${keys.mkString(",")}:\n${plan(df)}")
    assert(ex.head.shuffleOrigin == REPARTITION_BY_NUM, plan(df))
    assert(ex.head.outputPartitioning.numPartitions == shufflePartitions, plan(df))
  }

  /** Today's gather: the partial aggregate runs map-side, under an
    * exchange that AQE may coalesce; no exchange has an explicit count. */
  private def assertUnfloored(df: DataFrame, keys: String*): Unit = {
    val ex = exchangesOn(df, keys: _*)
    assert(ex.size == 1, s"one exchange on ${keys.mkString(",")}:\n${plan(df)}")
    assert(ex.head.shuffleOrigin == ENSURE_REQUIREMENTS, plan(df))
    assert(ex.head.child.isInstanceOf[BaseAggregateExec], plan(df))
    assert(plan(df).collect {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
    }.isEmpty, plan(df))
  }

  /** `rows` as a parquet table, read like the corpora the finders serve
    * (a local relation would be pre-shingled by the optimizer). */
  private def table[T <: Product : org.apache.spark.sql.Encoder](rows: Seq[T]): DataFrame = {
    val dir = tmpDir("graft-floor") + "/t"
    rows.toDF("doc_id", "text").write.parquet(dir)
    spark.read.parquet(dir)
  }

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
    "eta", "theta", "iota", "kappa", "lam", "mu", "nu", "xi")

  /** Near-duplicate families plus the edge rows: NULL text, documents
    * shorter than k = 3 words, and one boilerplate phrase in eight
    * documents, above the `maxDocFreq = 4` the finders run with below. */
  private val corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(7)
    val bases = (0 until 6).map(_ =>
      Vector.fill(12 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))))
    val near = (0 until 24).map { i =>
      val ws = bases(i % bases.size).toArray
      ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(vocab.size))
      val text = ws.mkString(" ")
      (i.toLong + 1, if (i < 8) "boiler plate phrase " + text else text)
    }
    near ++ Seq((100L, null), (101L, "two words"), (102L, "one"), (103L, ""))
  }

  private def finders(maxDocFreq: Int): Seq[(String, DataFrame => DataFrame)] = Seq(
    "jaccardPairs" -> (d => Dedup.jaccardPairs(d, threshold = 0.3, maxDocFreq = maxDocFreq)),
    "containmentPairs" -> (d => Dedup.containmentPairs(d, threshold = 0.5,
      maxDocFreq = maxDocFreq)),
    "fuzzyPairs" -> (d => Dedup.fuzzyPairs(d, maxDist = 30, maxDocFreq = maxDocFreq)),
    "simhashPairs" -> (d => Dedup.simhashPairs(d, maxHamming = 12, maxDocFreq = maxDocFreq)),
    "overlapPairs" -> (d => Winnowing.overlapPairs(d, minShared = 1,
      maxDocFreq = maxDocFreq)),
    "minhashPairs" -> (d => Dedup.minhashPairs(d, numHashes = 8, bands = 4,
      threshold = 0.3)))

  test("below the gate the gather and pair-count exchanges keep an explicit partition count") {
    val docs = table(corpus)
    val jac = Dedup.jaccardPairs(docs, maxDocFreq = 4)
    assertFloored(jac, "sh")
    assertFloored(jac, "a", "b")
    assertFloored(Dedup.simhashPairs(docs, maxDocFreq = 4), "chunk", "key")
    assertFloored(Winnowing.overlapPairs(docs, maxDocFreq = 4), "fp")
  }

  test("at or above the gate the plan is unchanged: the partial aggregate stays map-side") {
    val docs = table(corpus)
    floorOff {
      val jac = Dedup.jaccardPairs(docs, maxDocFreq = 4)
      assertUnfloored(jac, "sh")
      assertUnfloored(jac, "a", "b", "pa", "pb")
      assertUnfloored(Dedup.simhashPairs(docs, maxDocFreq = 4), "chunk", "key")
      assertUnfloored(Winnowing.overlapPairs(docs, maxDocFreq = 4), "fp")
    }
  }

  test("both sides of the gate return the same rows") {
    val inputs = Seq(
      "corpus" -> table(corpus),
      "INT ids" -> table(corpus.map { case (i, t) => (i.toInt, t) }),
      "empty" -> table(Seq.empty[(Long, String)]))
    for ((input, docs) <- inputs; (fn, run) <- finders(maxDocFreq = 4)) {
      val on = run(docs).collect().toSet
      val off = floorOff(run(docs).collect().toSet)
      assert(on == off, s"$fn on $input")
      if (input != "empty") assert(on.nonEmpty, s"$fn on $input found no pairs")
    }
  }
}
