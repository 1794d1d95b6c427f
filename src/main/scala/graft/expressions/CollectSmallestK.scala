package graft.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** The k smallest BIGINT values of a group, ascending — a SIZE-BOUNDED
  * replacement for `slice(sort_array(collect_list(x)), 1, k)` (identical
  * semantics, duplicates kept), built for capped posting lists (q134's
  * per-fingerprint bucket aggregate, ADVICE r14: the collect_list buffer of
  * a single saturated bucket held the FULL posting list in memory with no
  * spill — under heavy bucket skew at corpus scale that is an executor OOM
  * the cap never bounded, because the slice applied only after the collect).
  *
  * Here the buffer is a k-bounded binary max-heap (head = largest kept;
  * a new value displaces it only when smaller), so per-group memory is
  * O(k) at every stage AND the map-side partial ships at most k values per
  * group through the shuffle — collect_list's partials carried the whole
  * per-partition posting list. The [[TopKByScore]] lesson applies to the
  * update path too: TypedImperativeAggregate updates run outside
  * whole-stage codegen, so a bound long column is read straight off the
  * input row instead of through `child.eval` boxing.
  *
  * NULL SEMANTICS (r15 ADVICE): null inputs are dropped, exactly like
  * `collect_list` — which is why the slice-of-sort_array equivalence above
  * is exact (collect_list drops nulls too). A rank-window formulation
  * would instead sort nulls first; reuse on nullable inputs should know
  * the difference. Same contract as [[SmallestKPairs]].
  */
case class CollectSmallestK(child: Expression, kExpr: Expression,
                            mutableAggBufferOffset: Int = 0,
                            inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CollectSmallestK.Heap] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType =>
      if (kExpr.foldable && kExpr.dataType == IntegerType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName: k must be a literal int")
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a BIGINT column, got ${dt.simpleString}")
  }

  @transient private lazy val k = kExpr.eval().asInstanceOf[Int]

  @transient private lazy val boundOrdinal: Int = child match {
    case b: BoundReference if b.dataType == LongType => b.ordinal
    case _ => -1
  }

  override def createAggregationBuffer(): CollectSmallestK.Heap =
    new CollectSmallestK.Heap(k)

  override def update(buf: CollectSmallestK.Heap, input: InternalRow): CollectSmallestK.Heap = {
    val o = boundOrdinal
    if (o >= 0) {
      if (!input.isNullAt(o)) buf.offer(input.getLong(o))
    } else {
      val v = child.eval(input)
      if (v != null) buf.offer(v.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: CollectSmallestK.Heap, other: CollectSmallestK.Heap): CollectSmallestK.Heap = {
    other.foreach(buf.offer)
    buf
  }

  override def eval(buf: CollectSmallestK.Heap): Any =
    new GenericArrayData(buf.sortedAscending())

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
  override def prettyName: String = CollectSmallestK.name
  override def children: Seq[Expression] = Seq(child, kExpr)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CollectSmallestK =
    copy(child = c(0), kExpr = c(1))
  override def withNewMutableAggBufferOffset(offset: Int): CollectSmallestK =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): CollectSmallestK =
    copy(inputAggBufferOffset = offset)
}

object CollectSmallestK {
  val name = "graft_smallest_k"

  /** k-bounded binary MAX-heap of longs: head is the largest kept value, so
    * a new candidate displaces it only when strictly smaller — after any
    * input stream the heap holds the k smallest values (duplicates kept).
    */
  final class Heap(k: Int) {
    private var a = new Array[Long](math.min(math.max(k, 1), 16))
    private var n = 0

    def size: Int = n

    def offer(v: Long): Unit = {
      if (n < k) {
        if (n == a.length) a = java.util.Arrays.copyOf(a, math.min(k, a.length * 2))
        a(n) = v; n += 1
        var i = n - 1
        while (i > 0) {
          val p = (i - 1) >> 1
          if (a(i) > a(p)) { val t = a(i); a(i) = a(p); a(p) = t; i = p }
          else i = 0
        }
      } else if (k > 0 && v < a(0)) {
        a(0) = v
        var i = 0
        while (true) {
          val l = 2 * i + 1
          val r = l + 1
          var w = i
          if (l < n && a(l) > a(w)) w = l
          if (r < n && a(r) > a(w)) w = r
          if (w == i) return
          val t = a(i); a(i) = a(w); a(w) = t; i = w
        }
      }
    }

    def foreach(f: Long => Unit): Unit = {
      var i = 0
      while (i < n) { f(a(i)); i += 1 }
    }

    def sortedAscending(): Array[Long] = {
      val out = java.util.Arrays.copyOf(a, n)
      java.util.Arrays.sort(out)
      out
    }
  }

  private[expressions] val builder: Seq[Expression] => Expression = { c =>
    require(c.size == 2, s"$name expects (bigint, k)")
    CollectSmallestK(c.head, c(1))
  }
}
