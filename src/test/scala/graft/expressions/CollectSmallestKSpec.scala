package graft.expressions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins graft_smallest_k ≡ slice(sort_array(collect_list(x)), 1, k) — the
  * exact formulation it replaced in q134's posting aggregate (ADVICE r14:
  * the replacement exists to bound per-bucket memory and map-side shuffle
  * payload at O(k); semantics must not move).
  */
class CollectSmallestKSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private def parity(rows: Seq[(Long, Long)], k: Int): Unit = {
    GraftFunctions.registerAll(spark)
    val df = rows.toDF("g", "v")
    val got = df.groupBy("g").agg(expr(s"graft_smallest_k(v, $k)").as("ds"))
      .orderBy("g").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val want = df.groupBy("g")
      .agg(slice(sort_array(collect_list(col("v"))), 1, k).as("ds"))
      .orderBy("g").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(got.toSeq == want.toSeq)
  }

  test("parity with slice(sort_array(collect_list)) incl. duplicates and negatives") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(5000) { i =>
      ((i % 7).toLong, rnd.nextLong() % 1000)
    }
    parity(rows, 16)
  }

  test("cap binds: flooded group keeps exactly the k smallest") {
    GraftFunctions.registerAll(spark)
    val df = (1L to 10000L).map(v => (1L, 10001L - v)).toDF("g", "v")
    val ds = df.groupBy("g").agg(expr("graft_smallest_k(v, 5)").as("ds"))
      .collect()(0).getSeq[Long](1)
    assert(ds == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("under-full group returns all values ascending; nulls skipped") {
    GraftFunctions.registerAll(spark)
    val df = Seq[(Long, java.lang.Long)]((1L, 5L), (1L, null), (1L, 2L))
      .toDF("g", "v")
    val ds = df.groupBy("g").agg(expr("graft_smallest_k(v, 100)").as("ds"))
      .collect()(0).getSeq[Long](1)
    assert(ds == Seq(2L, 5L))
  }

  test("sql registration via extensions resolves (deployment path)") {
    // TestSpark installs GraftExtensions; a fresh no-register session must
    // resolve the function from pure SQL
    val s2 = spark.newSession()
    import s2.implicits._
    val out = Seq((1L, 3L), (1L, 1L), (1L, 2L)).toDF("g", "v")
      .groupBy("g").agg(expr("graft_smallest_k(v, 2)").as("ds"))
      .collect()(0).getSeq[Long](1)
    assert(out == Seq(1L, 2L))
  }
}
