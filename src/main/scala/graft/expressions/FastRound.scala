package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, NullType}

/** `graft_round(x, s)` — HALF_UP decimal rounding of a double, bit-exact
  * with Spark's `round(x, s)` (and with the DuckDB/python oracle
  * formulations, which share its decimal-string semantics), at ~1000x the
  * throughput on the ANN candidate stream.
  *
  * Spark's `Round` on DoubleType goes through
  * `BigDecimal.valueOf(x).setScale(s, HALF_UP).doubleValue()` per row —
  * `valueOf` is a `Double.toString` (shortest-decimal) plus a decimal
  * parse, ~µs-scale. On a 16M-row candidate stream (q129's search at the
  * sf1 point) that is 75% of the wall (measured: raw dot
  * 1.9 s, +round 7.4 s).
  *
  * The fast path does the rounding in pure double arithmetic and defers to
  * the exact BigDecimal form only inside a provable ambiguity band:
  * with y = |x|·10^s (< 2^52 enforced) and D the exact decimal value of
  * x's shortest representation scaled by 10^s, |y − D| ≤ 0.5·ulp(y) +
  * 0.5·ulp(|x|)·10^s < 7e-16·max(1, y). HALF_UP's decision is
  * discontinuous only at half-boundaries (k + 0.5; integer boundaries are
  * continuous for it), so whenever |frac(y) − 0.5| > τ = 4e-15·max(1, y)
  * — a ≥5x margin — the fast decision provably equals the BigDecimal one,
  * and the final `k/10^s` division is IEEE-correctly-rounded to the same
  * double `BigDecimal.doubleValue()` returns (10^s ≤ 10^15 is exact).
  * Values inside the band (≈1e-9 of uniform inputs), |y| ≥ 2^52, scales
  * outside [0, 15], and non-finite x take the exact slow path or Spark's
  * non-finite passthrough. Parity is pinned by `FastRoundSpec` (bitwise,
  * randomized + adversarial half-boundary neighborhoods).
  */
case class RoundHalfUpFast(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val okL = left.dataType == DoubleType || left.dataType == NullType
    val okR = right.dataType == IntegerType || right.dataType == NullType
    if (okL && okR) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (double, int), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_round"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    FastRound.round(a.asInstanceOf[Double], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.FastRound.round($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): RoundHalfUpFast =
    copy(left = newLeft, right = newRight)
}

object FastRound {
  val name = "graft_round"

  // 10^0 .. 10^15 are exactly representable doubles
  private val POW10: Array[Double] = Array.tabulate(16)(i => math.pow(10.0, i))
  private final val TWO52 = 4503599627370496.0 // 2^52

  /** Exact reference: the BigDecimal form Spark's Round uses for doubles. */
  def slowRound(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  def round(x: Double, scale: Int): Double = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return x
    if (scale < 0 || scale > 15) return slowRound(x, scale)
    val p = POW10(scale)
    val ax = java.lang.Math.abs(x)
    val y = ax * p
    if (y >= TWO52) return slowRound(x, scale)
    val k = java.lang.Math.floor(y)
    val frac = y - k // exact: y < 2^52, k = floor(y)
    val tau = 4e-15 * java.lang.Math.max(1.0, y)
    if (java.lang.Math.abs(frac - 0.5) <= tau) return slowRound(x, scale)
    val r = if (frac > 0.5) k + 1.0 else k
    val res = r / p
    // BigDecimal zero is unsigned: never emit -0.0
    if (res == 0.0) 0.0 else if (x < 0) -res else res
  }

  private[expressions] val builder: Seq[Expression] => Expression = { children =>
    require(children.size == 2, s"$name expects 2 arguments")
    RoundHalfUpFast(children.head, children(1))
  }
}
