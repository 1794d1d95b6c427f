package graft.expressions

import org.scalatest.funsuite.AnyFunSuite

/** The SparkSessionExtensions hook must expose every native function to a
  * pure-SQL session — the deployment path is `spark.sql.extensions=
  * graft.expressions.GraftExtensions` with no Scala helpers in sight
  * (TestSpark builds the shared suite session exactly that way).
  */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  test("every native function resolves and evaluates from pure SQL") {
    val row = spark.sql(
      """SELECT
         graft_fingerprint('ab') AS fp,
         graft_text_stats('a b, 12') AS st,
         graft_marker_hits('the cat and dog ') AS mh,
         graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS cos,
         graft_simhash(array('a', 'b')) AS sh,
         graft_minhash_bands('abcdefghij', 5) AS mb,
         graft_shingle_jaccard('abcd', 'abcd', 3) AS sj
      """).collect().head
    assert(row.getAs[Long]("fp") == 97L * 31 + 98)
    // "a b, 12": 7 chars, ws tokens [a, b,, 12]=3, bpeish [a,b,',',12]=4,
    // alpha [a,b]=2, punct [,]=1
    assert(row.getSeq[Long](1).toSeq == Seq(7L, 3L, 4L, 2L, 1L))
    assert(row.getSeq[Long](2).head == 2L) // "the " + "and "
    assert(row.getAs[Double]("cos") == 1.0)
    assert(row.getSeq[Long](5).size == 8)
    assert(row.getAs[Double]("sj") == 1.0)
  }

  test("every function in the one table resolves on the suite session and on a posture clone") {
    val names = GraftFunctions.all.map(_._1)
    assert(names.distinct.size == names.size,
      s"duplicate names: ${names.diff(names.distinct).mkString(", ")}")
    val clone = graft.PostureSessions(spark, Map("spark.sql.shuffle.partitions" -> "3"))
    for (s <- Seq(spark, clone); n <- names)
      assert(s.catalog.functionExists(n), s"$n does not resolve")
  }

  test("registerAll installs every function in the table on a session that lacks them") {
    val s2 = spark.newSession()
    val registry = s2.sessionState.functionRegistry
    val ids = GraftFunctions.all.map(f => org.apache.spark.sql.catalyst.FunctionIdentifier(f._1))
    ids.foreach(registry.dropFunction)
    assert(ids.forall(!registry.functionExists(_)))
    GraftFunctions.registerAll(s2)
    for (id <- ids) assert(s2.catalog.functionExists(id.funcName), s"${id.funcName} does not resolve")
  }
}
