package graft.functions

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions

/** Typed UDAF surface (SURVEY B36): weighted average over (value, weight).
  *
  * The buffer keeps exact integer sums (value in cents × weight, and weight),
  * so partial aggregation + merge is associative and order-independent — the
  * property that makes the result reproducible across any partitioning, and
  * equal to the arithmetic SQL oracle
  * `(SUM(ROUND(value*100)*w) / 100.0) / SUM(w)`.
  * The finish step performs the two double divisions in a fixed order.
  */
object WeightedAverage {
  case class In(value: Double, weight: Long)
  case class Buf(vwCents: Long, w: Long)

  object Agg extends Aggregator[In, Buf, Double] {
    override def zero: Buf = Buf(0L, 0L)
    override def reduce(b: Buf, a: In): Buf =
      Buf(b.vwCents + math.round(a.value * 100) * a.weight, b.w + a.weight)
    override def merge(b1: Buf, b2: Buf): Buf =
      Buf(b1.vwCents + b2.vwCents, b1.w + b2.w)
    override def finish(r: Buf): Double =
      if (r.w == 0) Double.NaN else (r.vwCents / 100.0) / r.w
    override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Registers `weighted_avg(value DOUBLE, weight BIGINT)` for SQL use. */
  def register(spark: SparkSession): Unit =
    if (!spark.sessionState.functionRegistry.functionExists(FunctionIdentifier("weighted_avg")))
      spark.udf.register("weighted_avg", functions.udaf(Agg, Encoders.product[In]))
}
