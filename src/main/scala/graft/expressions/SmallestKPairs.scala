package graft.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The k smallest `(v BIGINT, s STRING)` pairs of a group under
  * lexicographic (v, then binary-UTF8 s) order, ascending — the bounded
  * replacement for a per-group `ROW_NUMBER() OVER (ORDER BY v, s) <= k`
  * rank window (q115's per-document k-rarest-shingle stage). Identical
  * rows; the window shuffled AND per-partition-sorted the full pair
  * stream to keep k per group, where this buffer holds k entries and the
  * map-side partial ships at most k pairs per group. The binary
  * UTF8String comparison is exactly Spark's string ordering, so the
  * certification collation is unchanged.
  *
  * NULL SEMANTICS (r15 ADVICE): rows where EITHER input is null are
  * dropped — collect_list-style aggregate-input semantics, NOT the rank
  * window's (which sorts nulls first ascending and would rank them into
  * the k). The equivalence claim above therefore holds only on non-null
  * inputs; every current call site (q115/q134 postings over count()/
  * shingle columns) is non-null by construction. Same contract as
  * [[CollectSmallestK]].
  */
case class SmallestKPairs(first: Expression, second: Expression, kExpr: Expression,
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[SmallestKPairs.Heap] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects a BIGINT first arg")
    else if (second.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects a STRING second arg")
    else if (!(kExpr.foldable && kExpr.dataType == IntegerType))
      TypeCheckResult.TypeCheckFailure(s"$prettyName: k must be a literal int")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val k = kExpr.eval().asInstanceOf[Int]

  @transient private lazy val ords: Array[Int] = (first, second) match {
    case (a: BoundReference, b: BoundReference) => Array(a.ordinal, b.ordinal)
    case _ => null
  }

  override def createAggregationBuffer(): SmallestKPairs.Heap =
    new SmallestKPairs.Heap(k)

  override def update(buf: SmallestKPairs.Heap, input: InternalRow): SmallestKPairs.Heap = {
    val o = ords
    if (o != null) {
      if (!input.isNullAt(o(0)) && !input.isNullAt(o(1)))
        buf.offer(input.getLong(o(0)), input.getUTF8String(o(1)))
    } else {
      val v = first.eval(input)
      val s = second.eval(input)
      if (v != null && s != null)
        buf.offer(v.asInstanceOf[Long], s.asInstanceOf[UTF8String])
    }
    buf
  }

  override def merge(buf: SmallestKPairs.Heap, other: SmallestKPairs.Heap): SmallestKPairs.Heap = {
    other.foreach((v, s) => buf.offer(v, s))
    buf
  }

  override def eval(buf: SmallestKPairs.Heap): Any =
    new GenericArrayData(buf.sortedAscending().map { case (v, s) =>
      InternalRow(v, s): Any
    })

  override def serialize(buf: SmallestKPairs.Heap): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { (v, s) =>
      out.writeLong(v)
      val b = s.getBytes
      out.writeInt(b.length)
      out.write(b)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): SmallestKPairs.Heap = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new SmallestKPairs.Heap(k)
    var i = 0
    while (i < n) {
      val v = in.readLong()
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      buf.offer(v, UTF8String.fromBytes(b))
      i += 1
    }
    buf
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("v", LongType), StructField("s", StringType))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = SmallestKPairs.name
  override def children: Seq[Expression] = Seq(first, second, kExpr)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SmallestKPairs =
    copy(first = c(0), second = c(1), kExpr = c(2))
  override def withNewMutableAggBufferOffset(offset: Int): SmallestKPairs =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SmallestKPairs =
    copy(inputAggBufferOffset = offset)
}

object SmallestKPairs {
  val name = "graft_smallest_k_pairs"

  /** k-bounded MAX-heap under (v, binary s) lexicographic order: head is
    * the largest kept pair; a candidate displaces it only when strictly
    * smaller. Kept UTF8Strings are CLONED on retention — the input row's
    * string points into a reused scan buffer (the ArgMaxText lesson).
    */
  final class Heap(k: Int) {
    private var vs = new Array[Long](math.min(math.max(k, 1), 16))
    private var ss = new Array[UTF8String](math.min(math.max(k, 1), 16))
    private var n = 0

    def size: Int = n

    @inline private def gt(v1: Long, s1: UTF8String, v2: Long, s2: UTF8String): Boolean =
      v1 > v2 || (v1 == v2 && s1.compareTo(s2) > 0)

    def offer(v: Long, s: UTF8String): Unit = {
      if (n < k) {
        if (n == vs.length) {
          vs = java.util.Arrays.copyOf(vs, math.min(k, vs.length * 2))
          ss = java.util.Arrays.copyOf(ss, math.min(k, ss.length * 2))
        }
        vs(n) = v; ss(n) = s.clone(); n += 1
        var i = n - 1
        while (i > 0) {
          val p = (i - 1) >> 1
          if (gt(vs(i), ss(i), vs(p), ss(p))) { swap(i, p); i = p }
          else i = 0
        }
      } else if (k > 0 && gt(vs(0), ss(0), v, s)) {
        vs(0) = v; ss(0) = s.clone()
        var i = 0
        while (true) {
          val l = 2 * i + 1
          val r = l + 1
          var w = i
          if (l < n && gt(vs(l), ss(l), vs(w), ss(w))) w = l
          if (r < n && gt(vs(r), ss(r), vs(w), ss(w))) w = r
          if (w == i) return
          swap(i, w); i = w
        }
      }
    }

    @inline private def swap(i: Int, j: Int): Unit = {
      val tv = vs(i); vs(i) = vs(j); vs(j) = tv
      val ts = ss(i); ss(i) = ss(j); ss(j) = ts
    }

    def foreach(f: (Long, UTF8String) => Unit): Unit = {
      var i = 0
      while (i < n) { f(vs(i), ss(i)); i += 1 }
    }

    def sortedAscending(): Array[(Long, UTF8String)] = {
      val arr = Array.tabulate(n)(i => (vs(i), ss(i)))
      scala.util.Sorting.stableSort(arr,
        (a: (Long, UTF8String), b: (Long, UTF8String)) =>
          a._1 < b._1 || (a._1 == b._1 && a._2.compareTo(b._2) < 0))
      arr
    }
  }

  private[expressions] val builder: Seq[Expression] => Expression = { c =>
    require(c.size == 3, s"$name expects (bigint, string, k)")
    SmallestKPairs(c.head, c(1), c(2))
  }
}
