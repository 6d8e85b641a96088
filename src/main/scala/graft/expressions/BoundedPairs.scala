package graft.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Doc-frequency-capped posting collect: `capped_collect(id, payload, cap)`
  * gathers a group's (id, payload) BIGINT pairs — sorted by (id, payload)
  * ascending — and returns NULL when the group holds MORE than `cap`
  * elements.
  *
  * This is the fused form of the pair finders' "count df per key, keep keys
  * with df ≤ cap, then gather the survivors" sequence: one aggregate does
  * the cap test and the gather in the SAME shuffle, where the split
  * formulation pays a second aggregate pass plus a key join
  * (guide §2.3/2.4 — aggregate before you shuffle; share one exchange).
  *
  * The buffer is BOUNDED at cap+1 elements by construction: the moment a
  * group exceeds the cap it can only ever evaluate to NULL, so further
  * elements are dropped on the floor (update and merge both stop
  * accumulating at cap+1). That preserves the hot-key contract the split
  * formulation had — a boilerplate fingerprint shared by 10⁸ documents
  * costs cap+1 buffer slots on whichever tasks see it, never its full
  * posting list in one place (the documented reason these operators never
  * used a bare collect_list or a count-window).
  *
  * Determinism: collection order is partition-dependent, but eval sorts, so
  * the returned array is a pure function of the group's row set.
  */
case class CappedIdPayloadCollect(
    id: Expression,
    payload: Expression,
    capExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CappedIdPayloadCollect.Buffer]
  with TernaryLike[Expression] {

  lazy val cap: Int = capExpr.eval() match {
    case i: Int => i
    case l: Long if l.isValidInt => l.toInt
    case s: Short => s.toInt
    case b: Byte => b.toInt
    case other => throw new IllegalArgumentException(
      s"capped_collect: cap must be a constant positive integer, got $other")
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (id.dataType != LongType || payload.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"capped_collect requires (BIGINT, BIGINT, INT), got " +
          s"(${id.dataType.catalogString}, ${payload.dataType.catalogString})")
    else if (!capExpr.foldable)
      TypeCheckResult.TypeCheckFailure("capped_collect: cap must be a constant")
    else if (cap < 1 || cap > (1 << 28))
      TypeCheckResult.TypeCheckFailure(
        s"capped_collect: cap must be in [1, 2^28], got $cap")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("payload", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true

  override def first: Expression = id
  override def second: Expression = payload
  override def third: Expression = capExpr
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): CappedIdPayloadCollect =
    copy(id = newFirst, payload = newSecond, capExpr = newThird)

  override def withNewMutableAggBufferOffset(n: Int): CappedIdPayloadCollect =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): CappedIdPayloadCollect =
    copy(inputAggBufferOffset = n)

  override def createAggregationBuffer(): CappedIdPayloadCollect.Buffer =
    new CappedIdPayloadCollect.Buffer(cap)

  override def update(buffer: CappedIdPayloadCollect.Buffer,
      input: InternalRow): CappedIdPayloadCollect.Buffer = {
    val i = id.eval(input)
    val p = payload.eval(input)
    if (i != null && p != null)
      buffer.offer(i.asInstanceOf[Long], p.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: CappedIdPayloadCollect.Buffer,
      other: CappedIdPayloadCollect.Buffer): CappedIdPayloadCollect.Buffer = {
    other.foreach(buffer.offer)
    buffer
  }

  override def eval(buffer: CappedIdPayloadCollect.Buffer): Any =
    if (buffer.size > cap) null
    else {
      val arr = buffer.sortedPairs
      new GenericArrayData(arr.map { case (i, p) => InternalRow(i, p): Any })
    }

  override def serialize(buffer: CappedIdPayloadCollect.Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.size)
    buffer.foreach { (i, p) => out.writeLong(i); out.writeLong(p) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): CappedIdPayloadCollect.Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.offer(in.readLong(), in.readLong()); i += 1 }
    buf
  }

  override def prettyName: String = "capped_collect"
}

object CappedIdPayloadCollect {
  /** Append-until-cap+1 pair buffer: once over the cap the group's fate
    * (NULL) is sealed, so no further element is retained. */
  final class Buffer(cap: Int) {
    private var ids = new Array[Long](8)
    private var pls = new Array[Long](8)
    private var n = 0
    def size: Int = n
    def offer(i: Long, p: Long): Unit = {
      if (n <= cap) { // keep at most cap+1: the overflow marker
        if (n == ids.length) {
          val grow = math.min(math.max(ids.length * 2, 8), cap + 1)
          ids = java.util.Arrays.copyOf(ids, grow)
          pls = java.util.Arrays.copyOf(pls, grow)
        }
        ids(n) = i; pls(n) = p; n += 1
      }
    }
    def foreach(f: (Long, Long) => Unit): Unit = {
      var i = 0
      while (i < n) { f(ids(i), pls(i)); i += 1 }
    }
    def sortedPairs: Array[(Long, Long)] = {
      val out = new Array[(Long, Long)](n)
      var i = 0
      while (i < n) { out(i) = (ids(i), pls(i)); i += 1 }
      java.util.Arrays.sort(out, new java.util.Comparator[(Long, Long)] {
        def compare(a: (Long, Long), b: (Long, Long)): Int = {
          val c = java.lang.Long.compare(a._1, b._1)
          if (c != 0) c else java.lang.Long.compare(a._2, b._2)
        }
      })
      out
    }
  }

  def apply(id: Column, payload: Column, cap: Int): Column =
    GraftBridge.column(CappedIdPayloadCollect(
      GraftBridge.expression(id), GraftBridge.expression(payload),
      org.apache.spark.sql.catalyst.expressions.Literal(cap))
      .toAggregateExpression())
}

/** Generator form of the ordered-pair fan-out CARRYING PAYLOADS: from one
  * group's ARRAY<STRUCT<id BIGINT, payload BIGINT>> (sorted ascending by
  * id — [[CappedIdPayloadCollect]]'s output), yields (a_id, a_payload,
  * b_id, b_payload) for every i < j pair, lazily. [[OrderedPairsGen]] with
  * a rider column: the payload (a fingerprint count, a side tag) travels
  * WITH the pair, so the pair-level aggregate downstream needs no
  * join-back against a per-id table — the join the guide's §2.4 "remove
  * shuffles outright" pass exists to delete. */
case class PayloadPairsGen(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StructType(fields), _)
          if fields.length == 2 && fields.forall(_.dataType == LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"payload_pairs_gen requires ARRAY<STRUCT<BIGINT, BIGINT>>, got $other")
    }

  override def elementSchema: StructType = StructType(Seq(
    StructField("a", LongType, nullable = false),
    StructField("pa", LongType, nullable = false),
    StructField("b", LongType, nullable = false),
    StructField("pb", LongType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val data = child.eval(input)
    if (data == null) Iterator.empty
    else {
      val (ids, pls) = PayloadPairsGen.unpack(
        data.asInstanceOf[ArrayData], "payload_pairs_gen")
      val n = ids.length
      new Iterator[InternalRow] {
        private var i = 0
        private var j = 1
        override def hasNext: Boolean = i < n - 1
        override def next(): InternalRow = {
          val r = InternalRow(ids(i), pls(i), ids(j), pls(j))
          j += 1
          if (j >= n) { i += 1; j = i + 1 }
          r
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): PayloadPairsGen =
    copy(child = newChild)
}

object PayloadPairsGen {
  def apply(ds: Column): Column =
    GraftBridge.column(PayloadPairsGen(GraftBridge.expression(ds)))

  /** One gathered group as parallel id / payload arrays — the unpack both
    * pair loops ([[PayloadPairsGen]], [[HammingPairsGen]]) run before
    * fanning out. A NULL element or field fails loudly: an unsafe array
    * reads a NULL long as 0, which would surface as a phantom id 0. */
  private[expressions] def unpack(
      arr: ArrayData, fn: String): (Array[Long], Array[Long]) = {
    val n = arr.numElements()
    val ids = new Array[Long](n)
    val pls = new Array[Long](n)
    var idx = 0
    while (idx < n) {
      val st = if (arr.isNullAt(idx)) null else arr.getStruct(idx, 2)
      if (st == null || st.isNullAt(0) || st.isNullAt(1))
        throw new IllegalArgumentException(
          s"$fn: null element at position $idx")
      ids(idx) = st.getLong(0)
      pls(idx) = st.getLong(1)
      idx += 1
    }
    (ids, pls)
  }
}

/** Hamming-verified ordered pairs from ONE bucket's (id, sig) list:
  * candidate EMISSION and VERIFICATION fused at the bucket, so only pairs
  * that already pass `bitCount(sig_a ^ sig_b) <= maxHamming` ever reach a
  * shuffle. The plain [[OrderedPairsGen]] + join-signatures-back plan
  * shuffles the full candidate multiset (on a near-dup-dense corpus that
  * is orders of magnitude more rows than true pairs) and pays two joins;
  * here the O(bucket²) probe loop — already bounded by the caller's
  * `maxDocFreq` cap — runs over two primitive-long arrays in one compiled
  * pass and emits survivors lazily. Input is [[CappedIdPayloadCollect]]'s
  * (id, sig) output, sorted ascending by id, so a < b holds pairwise. */
case class HammingPairsGen(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StructType(fields), _), IntegerType)
          if fields.length == 2 && fields.forall(_.dataType == LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"hamming_pairs_gen requires (ARRAY<STRUCT<BIGINT, BIGINT>>, INT), got $other")
    }

  override def elementSchema: StructType = StructType(Seq(
    StructField("a", LongType, nullable = false),
    StructField("b", LongType, nullable = false),
    StructField("hamming", IntegerType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val data = left.eval(input)
    val maxH = right.eval(input)
    if (data == null || maxH == null) Iterator.empty
    else {
      val (ids, sigs) = PayloadPairsGen.unpack(
        data.asInstanceOf[ArrayData], "hamming_pairs_gen")
      val n = ids.length
      val mh = maxH.asInstanceOf[Int]
      new Iterator[InternalRow] {
        private var i = 0
        private var j = 1
        private var pending: InternalRow = advance()
        private def advance(): InternalRow = {
          while (i < n - 1) {
            val h = java.lang.Long.bitCount(sigs(i) ^ sigs(j))
            val r =
              if (h <= mh) InternalRow(ids(i), ids(j), h) else null
            j += 1
            if (j >= n) { i += 1; j = i + 1 }
            if (r != null) return r
          }
          null
        }
        override def hasNext: Boolean = pending != null
        override def next(): InternalRow = {
          val r = pending; pending = advance(); r
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingPairsGen =
    copy(left = newLeft, right = newRight)
}

object HammingPairsGen {
  def apply(ds: Column, maxHamming: Column): Column =
    GraftBridge.column(HammingPairsGen(
      GraftBridge.expression(ds), GraftBridge.expression(maxHamming)))
}
