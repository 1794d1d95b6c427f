package graft.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** All ascending (a < b positionally) pair combinations of a group's k
  * smallest BIGINT values, each packed into ONE long `(a << 32) | b` — the
  * fused form of q134's posting stage (round 17; `Q134_DECOMP.json` put
  * 0.32 s of the 0.61 s wall in the posting aggregate + pair-emission
  * stages over ~10⁵ tiny rows, the same per-stage machinery the q102
  * packed-long fold eliminated for an identical exchange+fold shape):
  *
  *   graft_smallest_k(doc_id, k)  →  filter(size ≥ 2)  →
  *   explode(flatten(transform(…, transform(slice(…)))))  →  struct(a, b)
  *
  * becomes `explode(graft_posting_pairs(doc_id, k))` — the bounded heap,
  * the singleton filter (empty array for groups of < 2), the nested HOF
  * combination transforms, and the struct construction all happen inside
  * one aggregate eval, and the downstream pair-count exchange keys on ONE
  * primitive long (8 B UnsafeRow key) instead of a two-long struct.
  *
  * Pair semantics are EXACTLY the HOF form's: values sorted ascending
  * (duplicates kept), every positional i < j combination emitted — a
  * saturated group contributes at most C(k,2) pairs (the flood guard is
  * unchanged). Null inputs are dropped (collect_list-style, same contract
  * as [[CollectSmallestK]], whose k-bounded max-heap this reuses).
  *
  * Packing bounds, enforced loudly at update: `0 <= v < 2^31` — both pair
  * members must fit the 32-bit halves (a << 32 never touches the sign
  * bit because a < 2^31). Corpora with wider ids must densify first or
  * compose the unpacked [[CollectSmallestK]] form; q134's planted-dup
  * rekey (+1e9 < 2^31) is guarded by its own footer-stats max assert.
  * Unpack: `a = p >> 32`, `b = p & 4294967295`.
  */
case class PostingPairs(child: Expression, kExpr: Expression,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CollectSmallestK.Heap] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType =>
      if (!(kExpr.foldable && kExpr.dataType == IntegerType))
        TypeCheckResult.TypeCheckFailure(s"$prettyName: k must be a literal int")
      else kExpr.eval() match {
        // a null or sub-2 k would silently emit empty arrays for every
        // group (pairs need at least 2 values) — fail at analysis instead,
        // matching the loud-failure philosophy of the packing-range check
        case null => TypeCheckResult.TypeCheckFailure(
          s"$prettyName: k must not be null")
        case i: Int if i < 2 => TypeCheckResult.TypeCheckFailure(
          s"$prettyName: k must be >= 2 (pairs need at least 2 values), got $i")
        case _ => TypeCheckResult.TypeCheckSuccess
      }
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a BIGINT column, got ${dt.simpleString}")
  }

  @transient private lazy val k = kExpr.eval().asInstanceOf[Int]

  @transient private lazy val boundOrdinal: Int = child match {
    case b: BoundReference if b.dataType == LongType => b.ordinal
    case _ => -1
  }

  private def checked(v: Long): Long = {
    require(v >= 0L && v < (1L << 31),
      s"$prettyName: value out of packing range [0, 2^31): $v")
    v
  }

  override def createAggregationBuffer(): CollectSmallestK.Heap =
    new CollectSmallestK.Heap(k)

  override def update(buf: CollectSmallestK.Heap, input: InternalRow): CollectSmallestK.Heap = {
    val o = boundOrdinal
    if (o >= 0) {
      if (!input.isNullAt(o)) buf.offer(checked(input.getLong(o)))
    } else {
      val v = child.eval(input)
      if (v != null) buf.offer(checked(v.asInstanceOf[Long]))
    }
    buf
  }

  override def merge(buf: CollectSmallestK.Heap, other: CollectSmallestK.Heap): CollectSmallestK.Heap = {
    other.foreach(buf.offer)
    buf
  }

  override def eval(buf: CollectSmallestK.Heap): Any = {
    val a = buf.sortedAscending()
    val n = a.length
    // groups of < 2 are the overwhelming majority (~10^6 singleton fp
    // cells at sf1): share one immutable empty result instead of
    // allocating a wrapper per group
    if (n < 2) return PostingPairs.Empty
    val out = new Array[Long](n * (n - 1) / 2)
    var w = 0
    var i = 0
    while (i < n) {
      val hi = a(i) << 32
      var j = i + 1
      while (j < n) {
        out(w) = hi | a(j)
        w += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: CollectSmallestK.Heap): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach(out.writeLong)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): CollectSmallestK.Heap = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new CollectSmallestK.Heap(k)
    var i = 0
    while (i < n) { buf.offer(in.readLong()); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = PostingPairs.name
  override def children: Seq[Expression] = Seq(child, kExpr)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): PostingPairs =
    copy(child = c(0), kExpr = c(1))
  override def withNewMutableAggBufferOffset(offset: Int): PostingPairs =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): PostingPairs =
    copy(inputAggBufferOffset = offset)
}

object PostingPairs {
  val name = "graft_posting_pairs"

  /** Shared empty eval result — GenericArrayData is read-only downstream. */
  private val Empty = new GenericArrayData(Array.emptyLongArray)

  private[expressions] val builder: Seq[Expression] => Expression = { c =>
    require(c.size == 2, s"$name expects (bigint, k)")
    PostingPairs(c.head, c(1))
  }
}
