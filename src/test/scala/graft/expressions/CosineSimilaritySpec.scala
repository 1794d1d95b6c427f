package graft.expressions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.functions.VectorFunctions

class CosineSimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("native expression is bit-identical to the declarative HOF formulation") {
    val emb = Tables(spark, TestSpark.Sf0001).embeddings
    val a = emb.select(col("vec_id").as("a"), col("embedding").as("va")).filter(col("a") <= 30)
    val b = emb.select(col("vec_id").as("b"), col("embedding").as("vb")).filter(col("b") <= 30)
    val cos = VectorFunctions.cosineNative(spark) _
    val both = a.join(b, col("a") < col("b"))
      .select(
        cos(col("va"), col("vb")).as("native"),
        VectorFunctions.cosine(col("va"), col("vb")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("SQL registration: usable from spark.sql text") {
    GraftFunctions.registerAll(spark)
    val out = spark.sql(
      "SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c")
      .collect().head.getDouble(0)
    assert(out == 1.0)
  }

  test("null in, null out") {
    GraftFunctions.registerAll(spark)
    val r = spark.sql("SELECT graft_cosine(NULL, array(CAST(1.0 AS FLOAT))) AS c").collect().head
    assert(r.isNullAt(0))
  }
}
