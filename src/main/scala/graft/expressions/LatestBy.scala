package graft.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function

/** Latest-row-per-group: keeps the payload of the row with the largest
  * `(ts, seq)` pair — the "latest snapshot" primitive (reference
  * gcpl.py:93-96 semantics; the feature-store staple that q12 and the as-of
  * family generalize).
  *
  * Same physical motivation as [[ArgMaxText]]: `max_by(payload,
  * struct(ts, seq))` carries a struct buffer, which forces SortAggregate —
  * a map-local sort of the whole input in both aggregation phases. This
  * imperative buffer (two longs + one UnsafeRow payload copy) runs in
  * ObjectHashAggregate: hash probes, no sorts, one row per group per
  * partition on the wire, whatever the payload width. Ties break to the
  * larger `seq`, matching `ROW_NUMBER() OVER (ORDER BY ts DESC, seq DESC)
  * = 1`. Null ts/seq rows are skipped; a null payload on the winning row
  * is returned as null (max_by semantics); empty groups yield null.
  */
case class LatestBy(child: Expression,
                    mutableAggBufferOffset: Int = 0,
                    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[LatestBy.Best] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StructType(Array(t, s, p))
        if t.dataType == LongType && s.dataType == LongType &&
          p.dataType.isInstanceOf[StructType] =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects struct<ts:bigint,seq:bigint,payload:struct<...>>, got ${dt.simpleString}")
  }

  private lazy val payloadType: StructType =
    child.dataType.asInstanceOf[StructType].fields(2).dataType.asInstanceOf[StructType]

  @transient private lazy val payloadProj = UnsafeProjection.create(payloadType)

  override def createAggregationBuffer(): LatestBy.Best = new LatestBy.Best

  // Zero-allocation update path (the TopKByScore treatment, see the
  // measurement note there): with ts/seq as bound long columns, the
  // per-row work is two primitive reads and the wouldKeep compare — the
  // payload expression is evaluated ONLY for rows that actually displace
  // the held best (≈ once per group amortized), where the generic path
  // built the full three-field struct for every input row.
  @transient private lazy val fastOrds: Array[Int] = child match {
    case s: org.apache.spark.sql.catalyst.expressions.CreateNamedStruct =>
      s.valExprs match {
        case Seq(
            t: org.apache.spark.sql.catalyst.expressions.BoundReference,
            q: org.apache.spark.sql.catalyst.expressions.BoundReference, _)
            if t.dataType == LongType && q.dataType == LongType =>
          Array(t.ordinal, q.ordinal)
        case _ => null
      }
    case _ => null
  }
  @transient private lazy val payloadExpr: Expression =
    child.asInstanceOf[org.apache.spark.sql.catalyst.expressions.CreateNamedStruct]
      .valExprs(2)

  override def update(buf: LatestBy.Best, input: InternalRow): LatestBy.Best = {
    val fo = fastOrds
    if (fo != null) {
      if (!input.isNullAt(fo(0)) && !input.isNullAt(fo(1))) {
        val ts = input.getLong(fo(0))
        val seq = input.getLong(fo(1))
        if (buf.wouldKeep(ts, seq)) {
          val pv = payloadExpr.eval(input)
          // a null payload on the winning row is kept as null (the latest
          // row IS the null-payload row — max_by semantics), and properly
          // shadows older rows with real payloads
          if (pv == null) buf.keep(ts, seq, null)
          else buf.keep(ts, seq,
            payloadProj(pv.asInstanceOf[InternalRow]).copy())
        }
      }
    } else {
      val v = child.eval(input)
      if (v != null) {
        val row = v.asInstanceOf[InternalRow]
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          val ts = row.getLong(0)
          val seq = row.getLong(1)
          if (buf.wouldKeep(ts, seq)) {
            if (row.isNullAt(2)) buf.keep(ts, seq, null)
            else buf.keep(ts, seq,
              payloadProj(row.getStruct(2, payloadType.length)).copy())
          }
        }
      }
    }
    buf
  }

  override def merge(buf: LatestBy.Best, other: LatestBy.Best): LatestBy.Best = {
    if (other.nonEmpty && buf.wouldKeep(other.ts, other.seq))
      buf.keep(other.ts, other.seq, other.payload)
    buf
  }

  override def eval(buf: LatestBy.Best): Any =
    if (buf.nonEmpty) buf.payload else null

  override def serialize(buf: LatestBy.Best): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    if (buf.nonEmpty) {
      out.writeBoolean(true)
      out.writeLong(buf.ts); out.writeLong(buf.seq)
      if (buf.payload == null) out.writeInt(-1)
      else {
        val bytes = buf.payload.getBytes
        out.writeInt(bytes.length)
        out.write(bytes)
      }
    } else out.writeBoolean(false)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): LatestBy.Best = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new LatestBy.Best
    if (in.readBoolean()) {
      val ts = in.readLong(); val seq = in.readLong()
      val len = in.readInt()
      if (len < 0) buf.keep(ts, seq, null)
      else {
        val arr = new Array[Byte](len)
        in.readFully(arr)
        val row = new UnsafeRow(payloadType.length)
        row.pointTo(arr, arr.length)
        buf.keep(ts, seq, row)
      }
    }
    buf
  }

  override def dataType: DataType = payloadType
  override def nullable: Boolean = true
  override def prettyName: String = LatestBy.name
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): LatestBy =
    copy(child = c(0))
  override def withNewMutableAggBufferOffset(offset: Int): LatestBy =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): LatestBy =
    copy(inputAggBufferOffset = offset)
}

object LatestBy {
  val name = "graft_latest_by"

  /** "Best so far": (ts, seq) max with a pinned UnsafeRow payload copy.
    * `payload` may be null while set (the winning row carried a null
    * payload struct), so emptiness is tracked separately.
    */
  final class Best {
    var ts: Long = 0L
    var seq: Long = 0L
    var payload: UnsafeRow = _
    private var isSet = false

    def nonEmpty: Boolean = isSet

    def wouldKeep(t: Long, s: Long): Boolean =
      !isSet || t > ts || (t == ts && s > seq)

    def keep(t: Long, s: Long, p: UnsafeRow): Unit = {
      ts = t; seq = s; payload = p; isSet = true
    }
  }

  private[expressions] val builder: Seq[Expression] => Expression = { c =>
    require(c.size == 1, s"$name expects (struct(ts, seq, payload))")
    LatestBy(c.head)
  }

  def latestByCol(spark: SparkSession)(tsSeqPayload: Column): Column = {
    GraftFunctions.registerAll(spark); call_function(name, tsSeqPayload)
  }
}
