package graft

import graft.expressions.{ArrayDot, OrderedPairsGen, PolyHash, PortableMinHash, PortableSimHash, WordShingles}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions entry point: makes the engine's native
  * expressions available to SQL. [[graft.Session]] installs it on every
  * engine session:
  * {{{
  * val spark = graft.Session()
  * // outside the engine: .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
    e.injectResolutionRule(_ => graft.plans.ResolveTopKPerGroup)
    e.injectPlannerStrategy(_ => graft.plans.RangeJoinStrategy)
  }
}

object GraftExtensions {
  /** Accept any foldable integral expression (2+2, CAST(4 AS INT), 4L, a
    * constant-foldable CASE...), not just a bare Int literal — Catalyst
    * hands us the unfolded tree at registration time, so fold it here. */
  private def intArg(e: Expression, fn: String): Int = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn: expected a constant integer expression, got non-foldable $e")
    e.eval() match {
      case v: Int => v
      case v: Long if v.isValidInt => v.toInt
      case v: Short => v.toInt
      case v: Byte => v.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: expected a constant integer expression, got $other")
    }
  }

  /** Like [[intArg]] but Long-ranged (bloom item counts exceed Int). */
  private def longArg(e: Expression, fn: String): Long = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn: expected a constant integer expression, got non-foldable $e")
    e.eval() match {
      case v: Long => v
      case v: Int => v.toLong
      case v: Short => v.toLong
      case v: Byte => v.toLong
      case other => throw new IllegalArgumentException(
        s"$fn: expected a constant integer expression, got $other")
    }
  }

  /** The engine's native expressions, SQL-registered: the whole codegen'd
    * function surface is reachable from `spark.sql(...)`, not just the
    * Column DSL. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDot].getName, "array_dot"),
      (exprs: Seq[Expression]) => ArrayDot(exprs(0), exprs(1))),
    (FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "poly_hash"),
      (exprs: Seq[Expression]) => PolyHash(exprs(0))),
    (FunctionIdentifier("portable_minhash"),
      new ExpressionInfo(classOf[PortableMinHash].getName, "portable_minhash"),
      (exprs: Seq[Expression]) =>
        PortableMinHash(exprs(0), intArg(exprs(1), "portable_minhash"))),
    (FunctionIdentifier("portable_simhash"),
      new ExpressionInfo(classOf[PortableSimHash].getName, "portable_simhash"),
      (exprs: Seq[Expression]) =>
        PortableSimHash(exprs(0),
          if (exprs.length > 1) intArg(exprs(1), "portable_simhash") else 60)),
    (FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (exprs: Seq[Expression]) =>
        WordShingles(exprs(0), intArg(exprs(1), "word_shingles"))),
    (FunctionIdentifier("ordered_pairs_gen"),
      new ExpressionInfo(classOf[OrderedPairsGen].getName, "ordered_pairs_gen"),
      (exprs: Seq[Expression]) => OrderedPairsGen(exprs(0))),
    // Bloom semi-join pruning in SQL: build with `(SELECT graft_bloom_agg(
    // xxhash64(k), items[, bits]) FROM build)` as a scalar subquery, probe
    // with graft_might_contain(bloom, xxhash64(k)) — the same internal
    // expressions RuntimeFilter.bloomPrune plants from the Column DSL.
    // The 2-arg form derives bits from items at the 1% FP rate
    // (RuntimeFilter.optimalNumBits), mirroring bloomPrune's auto-sizing —
    // a hand-guessed bits argument the data outgrows silently blows the FP
    // budget, so deriving is the safer default.
    (FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (exprs: Seq[Expression]) => {
        if (exprs.length < 2 || exprs.length > 3)
          throw new IllegalArgumentException(
            "graft_bloom_agg expects (key, expectedItems[, numBits]), got " +
              s"${exprs.length} argument(s)")
        val bits =
          if (exprs.length == 3) exprs(2)
          else Literal(graft.operators.RuntimeFilter.optimalNumBits(
            longArg(exprs(1), "graft_bloom_agg"), 0.01))
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          exprs(0), exprs(1), bits, 0, 0).toAggregateExpression()
      }),
    (FunctionIdentifier("topk_by"),
      new ExpressionInfo(classOf[graft.expressions.TopKBy].getName, "topk_by"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 3)
          throw new IllegalArgumentException(
            s"topk_by expects (ord, payload, k), got ${exprs.length} argument(s)")
        graft.expressions.TopKBy(exprs(0), exprs(1), exprs(2)).toAggregateExpression()
      }),
    // Mergeable quantile sketches as stored data (x17's rollup pattern):
    // build per-partition with qsketch_agg(v[, eps]), union stored sketch
    // rows with qsketch_merge_agg(sk), read quantiles with
    // qsketch_query(sk, p). eps defaults to 0.01 (accuracy 100), the x06
    // operating point.
    (FunctionIdentifier("qsketch_agg"),
      new ExpressionInfo(classOf[graft.expressions.QSketchAgg].getName, "qsketch_agg"),
      (exprs: Seq[Expression]) => {
        if (exprs.isEmpty || exprs.length > 2)
          throw new IllegalArgumentException(
            s"qsketch_agg expects (value[, eps]), got ${exprs.length} argument(s)")
        val eps = if (exprs.length == 2) exprs(1) else Literal(0.01d)
        graft.expressions.QSketchAgg(exprs(0), eps).toAggregateExpression()
      }),
    (FunctionIdentifier("qsketch_merge_agg"),
      new ExpressionInfo(
        classOf[graft.expressions.QSketchMergeAgg].getName, "qsketch_merge_agg"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 1)
          throw new IllegalArgumentException(
            s"qsketch_merge_agg expects (sketch), got ${exprs.length} argument(s)")
        graft.expressions.QSketchMergeAgg(exprs(0)).toAggregateExpression()
      }),
    (FunctionIdentifier("qsketch_query"),
      new ExpressionInfo(
        classOf[graft.expressions.QSketchQuery].getName, "qsketch_query"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 2)
          throw new IllegalArgumentException(
            s"qsketch_query expects (sketch, p), got ${exprs.length} argument(s)")
        graft.expressions.QSketchQuery(exprs(0), exprs(1))
      }),
    (FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 2)
          throw new IllegalArgumentException(
            s"graft_might_contain expects (bloom, key), got ${exprs.length} argument(s)")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          exprs(0), exprs(1))
      }))
}

/** Runtime registration for sessions built without extensions. */
object GraftFunctions {
  def register(spark: SparkSession): Unit =
    GraftExtensions.functions.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        id.funcName, builder, "scala_udf")
    }
}
