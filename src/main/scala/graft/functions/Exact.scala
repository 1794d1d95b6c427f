package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Order-independent exact aggregation over money-like (2-decimal) doubles.
  *
  * Floating SUM/AVG accumulate in shuffle/partition order, so two engines (or
  * two runs at different parallelism) legitimately disagree in the last ULPs —
  * at 100 TB the error of a double sum over billions of rows is far above any
  * rounding you could "fix" afterwards. The engine therefore sums 2-decimal
  * measures EXACTLY and converts only the final result to double. The
  * identical formulation runs on any SQL engine (the oracle casts to DECIMAL
  * and sums), which is what makes cross-engine result hashing meaningful.
  *
  * Representation (round 11): exact LONG CENTS, not DECIMAL accumulation.
  * `sum(decimal(18,2))` widens to decimal(28,2), which exceeds Spark's
  * compact-long decimal range and accumulates through java.math.BigDecimal —
  * measured 3.6× slower than the long-cents path at sf1 (6M rows:
  * 0.92 s vs 0.25 s grouped), with long-cents at
  * the plain-double-sum floor. Per row the conversion is pure double
  * arithmetic (`x·100 ± 0.5`, truncate) — codegen-friendly, no BigDecimal.
  *
  * Exactness contract: the conversion yields the true cent count for every
  * double that REPRESENTS a 2-decimal value with |x| ≤ 10¹¹ dollars
  * (10¹³ cents) per VALUE — within that range the representation error of
  * x plus the x·100 multiply rounding stay well under the ±0.5 budget, so
  * the result agrees bit-for-bit with the oracle's
  * `CAST(x AS DECIMAL(…,2))` (both engines round to the same cent).
  * `CentsPropertySpec` probes the cliff: divergence onsets near
  * ~3.5×10¹⁵ cents (double spacing at x·100 reaches 0.5) — 300× past the
  * contract bound and eight orders past any real money value. The fixture
  * precondition (every money column 2-decimal-representable, wide margin)
  * is asserted by `CentsMarginSpec`; a corpus with genuinely ≥3-decimal
  * values would round HALF-AWAY here vs string-repr HALF_UP in Spark's
  * decimal cast and must not use this path. Overflow bound: 2⁶³ cents ≈
  * $9.2×10¹⁶ per aggregation GROUP (per-value magnitude is bounded by the
  * contract above); the final long→double cast is exact below 2⁵³ cents
  * and correctly rounded above (the same hugeint→double→divide shape
  * DuckDB uses for its decimal casts).
  */
object Exact {
  /** double → exact cents (long): pure-double half-away-from-zero. Exposed
    * package-private for the other exact-long accumulations built on the
    * same conversion contract (q127's co-moments in [[graft.operators.Profile]]).
    */
  private[graft] def cents(c: Column): Column =
    (c * 100 + when(c < 0, -0.5).otherwise(0.5)).cast(LongType)

  /** Exact, order-independent sum of a 2-decimal double column → double. */
  def dsum(c: Column): Column = sum(cents(c)).cast(DoubleType) / 100.0

  /** Exact mean: cents sum ÷ count, both sides evaluated identically. */
  def davg(c: Column): Column = dsum(c) / count(lit(1))

  /** Windowed variants (frame-bound moving aggregates). */
  def dsumOver(c: Column, w: WindowSpec): Column =
    sum(cents(c)).over(w).cast(DoubleType) / 100.0
  def davgOver(c: Column, w: WindowSpec): Column =
    dsumOver(c, w) / count(lit(1)).over(w)

  /** Exact revenue sum Σ price·(1 − discount) → double: cents × basis
    * points accumulate as scale-4 longs, one division at the end.
    */
  def drevenueSum(price: Column, discount: Column): Column =
    sum(cents(price) * (lit(100L) - cents(discount))).cast(DoubleType) / 1e4
}
