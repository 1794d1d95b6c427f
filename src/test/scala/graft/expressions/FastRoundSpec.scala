package graft.expressions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bitwise parity of `graft_round` with Spark's `round` on doubles — the
  * contract that lets the ANN hot paths swap the per-row BigDecimal
  * round-trip for the fast native expression without moving a single
  * oracle-checked value.
  */
class FastRoundSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def bits(d: Double) = java.lang.Double.doubleToLongBits(d)

  test("scalar fast path == BigDecimal reference on randoms + adversarial halves") {
    val rnd = new scala.util.Random(42)
    val adversarial = Seq(0.0, -0.0, 1e-7, -1e-7, 5e-7, -5e-7, 0.1234565,
      -0.1234565, 0.9999995, -0.9999995, 1.0000005, 12345.6789555,
      Double.MinPositiveValue, -Double.MinPositiveValue, 4.5e15, 4.6e15,
      -4.6e15, 1e100, -1e100, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity)
    val halfNbrs = (0 to 2000).flatMap { k =>
      val h = (k + 0.5) / 1e6
      Seq(h, -h, Math.nextUp(h), Math.nextDown(h), -Math.nextUp(h), -Math.nextDown(h))
    }
    val randoms = Seq.fill(200000) {
      rnd.nextInt(4) match {
        case 0 => rnd.nextDouble() * 2 - 1                       // cosine range
        case 1 => (rnd.nextDouble() * 2 - 1) * 1e6               // mid magnitude
        case 2 => java.lang.Double.longBitsToDouble(rnd.nextLong()) // raw bit soup
        case _ => (rnd.nextDouble() * 2 - 1) * 1e-6              // tiny
      }
    }
    for (x <- adversarial ++ halfNbrs ++ randoms; s <- Seq(0, 2, 4, 6, 9, 15)) {
      val fast = FastRound.round(x, s)
      val ref =
        if (x.isNaN || x.isInfinite) x
        else FastRound.slowRound(x, s)
      assert(bits(fast) == bits(ref), s"x=$x (bits ${bits(x)}) scale=$s: fast=$fast ref=$ref")
    }
  }

  test("expression parity with functions.round inside a plan") {
    GraftFunctions.registerAll(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val xs = Seq.fill(20000)(rnd.nextDouble() * 2 - 1) ++
      Seq(0.0, -0.0, 5e-7, -5e-7, 0.1234565) ++
      (0 to 500).map(k => (k + 0.5) / 1e6)
    val df = xs.toDF("x")
      .select(col("x"), round(col("x"), 6).as("spark_r"),
        call_function(FastRound.name, col("x"), lit(6)).as("graft_r"))
    val rows = df.collect()
    rows.foreach { r =>
      assert(bits(r.getDouble(1)) == bits(r.getDouble(2)),
        s"x=${r.getDouble(0)}: spark=${r.getDouble(1)} graft=${r.getDouble(2)}")
    }
    // null and scale-edge behavior matches Round's null propagation
    val n = spark.sql("SELECT graft_round(CAST(NULL AS DOUBLE), 6)").head()
    assert(n.isNullAt(0))
  }
}
