package graft.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String

/** Argmax with a TEXT payload: the single best `(score, token)` per group —
  * higher score wins, ties break to the binary-smaller string (identical to
  * `ROW_NUMBER() OVER (ORDER BY score DESC, token) = 1`, and to
  * `min_by(struct(token, score), struct(-score, token))`).
  *
  * The point of the dedicated aggregate is PHYSICAL: a struct-buffer
  * `min_by` forces a SortAggregate (map-local sort of every scored row on
  * the grouping key, twice: partial and final); this two-field imperative
  * buffer runs in ObjectHashAggregate — hash probes, no sorts — and ships
  * one `(score, token)` pair per group per partition, the [[TopKByScore]]
  * shape with a text payload. At 100 TB this is the per-document argmax of
  * the TF-IDF family; null AND NaN scores are skipped (NaN is "no score" —
  * the two declarative formulations this mirrors disagree with each other
  * on NaN rank, and either choice would make results depend on arrival
  * order); null tokens are skipped; empty groups yield null.
  */
case class ArgMaxText(child: Expression,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ArgMaxText.Best] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StructType(Array(a, b))
        if a.dataType == DoubleType && b.dataType == StringType =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects struct<score:double,token:string>, got ${dt.simpleString}")
  }

  override def createAggregationBuffer(): ArgMaxText.Best = new ArgMaxText.Best

  // Same zero-allocation update shape as TopKByScore (see the measurement
  // note there): after binding, the common child is named_struct over two
  // bound columns — read the primitives/UTF8String straight off the input
  // row instead of paying a GenericInternalRow + boxes per input row in
  // the non-codegen aggregate path. {-1,-1} marks "generic fallback".
  @transient private lazy val fastOrds: Array[Int] = child match {
    case s: org.apache.spark.sql.catalyst.expressions.CreateNamedStruct =>
      s.valExprs match {
        case Seq(
            se: org.apache.spark.sql.catalyst.expressions.BoundReference,
            te: org.apache.spark.sql.catalyst.expressions.BoundReference)
            if se.dataType == DoubleType && te.dataType == StringType =>
          Array(se.ordinal, te.ordinal)
        case _ => null
      }
    case _ => null
  }

  override def update(buf: ArgMaxText.Best, input: InternalRow): ArgMaxText.Best = {
    val fo = fastOrds
    if (fo != null) {
      val so = fo(0); val to = fo(1)
      if (!input.isNullAt(so) && !input.isNullAt(to)) {
        val s = input.getDouble(so)
        if (!s.isNaN) buf.offer(s, input.getUTF8String(to))
      }
    } else {
      val v = child.eval(input)
      if (v != null) {
        val row = v.asInstanceOf[InternalRow]
        if (!row.isNullAt(0) && !row.isNullAt(1) && !row.getDouble(0).isNaN)
          buf.offer(row.getDouble(0), row.getUTF8String(1))
      }
    }
    buf
  }

  override def merge(buf: ArgMaxText.Best, other: ArgMaxText.Best): ArgMaxText.Best = {
    if (other.nonEmpty) buf.offer(other.score, other.token)
    buf
  }

  override def eval(buf: ArgMaxText.Best): Any =
    if (buf.nonEmpty) InternalRow(buf.token, buf.score) else null

  override def serialize(buf: ArgMaxText.Best): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    if (buf.nonEmpty) {
      out.writeBoolean(true)
      out.writeDouble(buf.score)
      val bytes = buf.token.getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
    } else out.writeBoolean(false)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): ArgMaxText.Best = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new ArgMaxText.Best
    if (in.readBoolean()) {
      val s = in.readDouble()
      val arr = new Array[Byte](in.readInt())
      in.readFully(arr)
      buf.offer(s, UTF8String.fromBytes(arr))
    }
    buf
  }

  override def dataType: DataType = StructType(Seq(
    StructField("token", StringType), StructField("score", DoubleType)))
  override def nullable: Boolean = true
  override def prettyName: String = ArgMaxText.name
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ArgMaxText =
    copy(child = c(0))
  override def withNewMutableAggBufferOffset(offset: Int): ArgMaxText =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ArgMaxText =
    copy(inputAggBufferOffset = offset)
}

object ArgMaxText {
  val name = "graft_argmax_text"

  /** Two-field "best so far" buffer. `token` is cloned on keep: the input
    * UTF8String may point into a reused row buffer.
    */
  final class Best {
    var score: Double = 0.0
    var token: UTF8String = _

    def nonEmpty: Boolean = token != null

    def offer(s: Double, t: UTF8String): Unit = {
      val better = token == null || s > score ||
        (s == score && t.compareTo(token) < 0)
      if (better) { score = s; token = t.clone() }
    }
  }

  private[expressions] val builder: Seq[Expression] => Expression = { c =>
    require(c.size == 1, s"$name expects (struct(score, token))")
    ArgMaxText(c.head)
  }

  def argMaxTextCol(spark: SparkSession)(scoreAndToken: Column): Column = {
    GraftFunctions.registerAll(spark); call_function(name, scoreAndToken)
  }
}
