package graft.expressions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TopKByScoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def topk(df: org.apache.spark.sql.DataFrame, k: Int) = {
    GraftFunctions.registerAll(spark)
    df.groupBy("g")
      .agg(call_function(TopKByScore.name,
        struct(col("s").cast("double"), col("id").cast("long")), lit(k)).as("t"))
  }

  test("keeps the k best per group with score-desc id-asc tie order, across partitions") {
    val s = spark
    import s.implicits._
    // group 1: distinct scores; group 2: all-tied scores (order must be by id)
    val rows = (1 to 100).map(i => (1L, i.toDouble, i.toLong)) ++
      (1 to 50).map(i => (2L, 7.0, i.toLong))
    // repartition(13) forces partial heaps + merges across many partitions
    val df = rows.toDF("g", "s", "id").repartition(13)
    val out = topk(df, 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(t => (t.getDouble(0), t.getLong(1)))).toMap
    assert(out(1L) == Seq((100.0, 100L), (99.0, 99L), (98.0, 98L)))
    assert(out(2L) == Seq((7.0, 1L), (7.0, 2L), (7.0, 3L)))
  }

  test("groups smaller than k return all rows, sorted; null scores are skipped") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Some(2.0), 10L), (1L, None, 11L), (1L, Some(5.0), 12L))
      .toDF("g", "s", "id")
    val out = topk(df, 10).collect()
      .map(r => r.getSeq[org.apache.spark.sql.Row](1).map(t => (t.getDouble(0), t.getLong(1))))
    assert(out.head == Seq((5.0, 12L), (2.0, 10L)))
  }

  test("NaN scores never enter the heap, in any arrival order") {
    val s = spark
    import s.implicits._
    Seq(
      Seq((1L, Double.NaN, 9L), (1L, 2.0, 1L), (1L, 1.0, 2L)),
      Seq((1L, 2.0, 1L), (1L, 1.0, 2L), (1L, Double.NaN, 9L)),
    ).foreach { rows =>
      val ids = topk(rows.toDF("g", "s", "id").coalesce(1), 2)
        .select(explode(col("t")).as("t")).select(col("t.id"))
        .collect().map(_.getLong(0)).toSeq
      assert(ids == Seq(1L, 2L), s"order $rows gave $ids")
    }
  }

  test("every update path agrees: primitive fast paths (double/long/int/float score, int id) and the generic-eval fallback") {
    val s = spark
    import s.implicits._
    GraftFunctions.registerAll(spark)
    val rows = (0 until 200).map(i => ((i % 5).toLong, i * 7 % 113, i))
    val expected = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(r => (r._2.toDouble, r._3.toLong))
        .sortBy { case (sc, id) => (-sc, id) }.take(3)
    }
    val base = rows.toDF("g", "s", "id").repartition(7)
    // each variant TYPES the score/id columns so the bound agg child is a
    // direct column (or one widening cast) of that type — a different
    // fastOrds tag per variant; the arithmetic score expression is not a
    // bound column, so it must take the generic-eval path. All five must
    // produce identical results.
    val variants: Seq[org.apache.spark.sql.DataFrame] = Seq(
      base.select(col("g"), col("s").cast("double").as("s"), col("id").cast("long").as("id")),
      base.select(col("g"), col("s").cast("long").as("s"), col("id").cast("long").as("id")),
      base.select(col("g"), col("s"), col("id")), // int score, int id
      base.select(col("g"), col("s").cast("float").as("s"), col("id").cast("long").as("id")),
    )
    def run(df: org.apache.spark.sql.DataFrame, scoreCol: org.apache.spark.sql.Column) =
      df.groupBy("g")
        .agg(call_function(TopKByScore.name,
          struct(scoreCol.cast("double"), col("id").cast("long")), lit(3)).as("t"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(t => (t.getDouble(0), t.getLong(1))).toSeq).toMap
    variants.zipWithIndex.foreach { case (df, i) =>
      assert(run(df, col("s")) == expected, s"typed variant $i diverged")
    }
    assert(run(variants.head, col("s") + lit(0.0)) == expected, "generic path diverged")
  }

  test("agrees with the rank-window formulation on a random-ish fixture") {
    val s = spark
    import s.implicits._
    val rows = (0 until 500).map { i =>
      ((i % 7).toLong, math.sin(i * 2.39996).toDouble, i.toLong)
    }
    val df = rows.toDF("g", "s", "id").repartition(9)
    val agg = topk(df, 5).select(col("g"), posexplode(col("t")).as(Seq("p", "t")))
      .select(col("g"), (col("p") + 1).cast("long").as("rnk"), col("t.score"), col("t.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("s").desc, col("id"))
    val win = df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
      .select(col("g"), col("rnk").cast("long"), col("s"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(agg == win)
  }
}
