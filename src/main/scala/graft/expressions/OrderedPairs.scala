package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** All ordered pairs (ds[i], ds[j]) with i < j from a sorted ARRAY<BIGINT>,
  * yielded LAZILY one row at a time — the candidate-pair fan-out of groups
  * whose postings are not distinct per key (`Multimodal.keyframeDedup`),
  * and `ordered_pairs_gen` in SQL. A group holding 10⁵ ids fans out to
  * ~5·10⁹ pairs, which must stream through the downstream aggregation,
  * never sit in one array. One compiled O(n²) loop over primitive longs.
  *
  * Null elements are rejected at runtime (a silent unsafe-array read would
  * emit 0-valued pairs); the caller sorts (so a < b holds pairwise when the
  * input is ascending).
  */
case class OrderedPairsGen(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with CodegenFallback {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"ordered_pairs_gen requires ARRAY<BIGINT>, got $other")
    }

  override def elementSchema: StructType = StructType(Seq(
    StructField("a", LongType, nullable = false),
    StructField("b", LongType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val data = child.eval(input)
    if (data == null) Iterator.empty
    else {
      val ds = data.asInstanceOf[ArrayData]
      val n = ds.numElements()
      OrderedPairsGen.requireNoNulls(ds, n)
      new Iterator[InternalRow] {
        private var i = 0
        private var j = 1
        override def hasNext: Boolean = i < n - 1
        override def next(): InternalRow = {
          val r = InternalRow(ds.getLong(i), ds.getLong(j))
          j += 1
          if (j >= n) { i += 1; j = i + 1 }
          r
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): OrderedPairsGen =
    copy(child = newChild)
}

object OrderedPairsGen {
  def apply(ds: Column): Column =
    GraftBridge.column(OrderedPairsGen(GraftBridge.expression(ds)))

  /** GenericArrayData NPEs on getLong(null) while unsafe arrays silently
    * read 0 — both are wrong for a SQL-registered function, so null
    * elements fail loudly up front (one O(n) scan). */
  private def requireNoNulls(ds: ArrayData, n: Int): Unit = {
    var i = 0
    while (i < n) {
      if (ds.isNullAt(i)) throw new IllegalArgumentException(
        s"ordered_pairs_gen: null element at position $i — ids must be non-null BIGINTs")
      i += 1
    }
  }
}
