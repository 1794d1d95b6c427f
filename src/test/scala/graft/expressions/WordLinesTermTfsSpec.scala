package graft.expressions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parity pins for the two r15 native text expressions against the EXACT
  * composed formulations they replaced (the engine's oracle SQL mirrors the
  * compositions, so equality here is what keeps the DuckDB certification
  * valid):
  *  - graft_word_lines(text, n) ≡ transform(sequence(0, greatest(ceil(
  *    (size(_t)-n)/double(n)), 0)), i -> array_join(slice(_t, i*n+1, n),' '))
  *    over _t = split(trim(text), ' +')   (q117/q119 boilerplate lines)
  *  - graft_term_tfs(text, terms) ≡ (wsTokenCount(text), per-term counts of
  *    explode(split(trim(text), ' +')) restricted to terms) (q111 BM25)
  */
class WordLinesTermTfsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    "the quick brown fox jumps over the lazy dog",
    "one two three four",          // exactly one window at n=4
    "one two three four five",     // 4+1 → short tail line
    "single",                      // fewer tokens than n → one short line
    "",                            // blank: split("") = [""] — degenerate
    "   ",                         // whitespace-only: same degenerate
    "a  b   c",                    // multi-space runs
    "dup dup dup one dup"          // repeated terms
  )

  test("graft_word_lines ≡ the transform/sequence/slice/array_join composition") {
    GraftFunctions.registerAll(spark)
    for (n <- Seq(1, 2, 4, 7)) {
      val df = docs.toDF("text")
        .withColumn("_t", split(trim(col("text")), " +"))
      val composed = df.selectExpr(
        s"""transform(
              sequence(0, greatest(CAST(ceil((size(_t) - $n) / CAST($n AS DOUBLE)) AS INT), 0)),
              i -> array_join(slice(_t, i * $n + 1, $n), ' ')) AS lines""")
        .collect().map(_.getSeq[String](0))
      val native = df.selectExpr(s"graft_word_lines(text, $n) AS lines")
        .collect().map(_.getSeq[String](0))
      assert(native.toSeq == composed.toSeq, s"n=$n")
    }
  }

  test("graft_word_bigrams ≡ the transform/sequence pair composition under the >=2-token guard") {
    GraftFunctions.registerAll(spark)
    val df = docs.toDF("text")
      .filter(graft.operators.TextAnalysis.wsTokenCount(col("text")) >= 2)
      .withColumn("_t", split(trim(col("text")), " +"))
    val composed = df.selectExpr(
      """transform(sequence(0, size(_t) - 2),
           i -> struct(_t[i] AS w1, _t[i + 1] AS w2)) AS pairs""")
      .selectExpr("explode(pairs) AS p").selectExpr("p.w1", "p.w2")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val native = df.selectExpr("explode(graft_word_bigrams(text)) AS p")
      .selectExpr("p.w1", "p.w2")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(native.toSeq == composed.toSeq)
    // short/blank docs: the native emits NO pairs (the composed form only
    // ever ran behind the guard, where the distinction is invisible)
    val shorts = Seq("", "   ", "single").toDF("text")
      .selectExpr("graft_word_bigrams(text) AS p")
      .collect().map(_.getSeq[Any](0).size)
    assert(shorts.toSeq == Seq(0, 0, 0))
  }

  test("graft_word_chunks ≡ the strided composition + per-chunk re-split count") {
    GraftFunctions.registerAll(spark)
    for ((c, n) <- Seq((4, 2), (4, 4), (3, 1), (7, 3))) {
      val df = docs.filter(_.trim.nonEmpty).toDF("text")
        .withColumn("_t", split(trim(col("text")), " +"))
      val composed = df.select(posexplode(expr(
          s"""transform(
                sequence(0, greatest(CAST(ceil((size(_t) - $c) / CAST($n AS DOUBLE)) AS INT), 0)),
                i -> array_join(slice(_t, i * $n + 1, $c), ' '))"""))
          .as(Seq("chunk_id", "chunk_text")))
        .withColumn("n_tokens", size(split(col("chunk_text"), " +")))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
      val native = df.select(posexplode(
          expr(s"graft_word_chunks(text, $c, $n)")).as(Seq("chunk_id", "_ch")))
        .select(col("chunk_id"), col("_ch.t"), col("_ch.n"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
      assert(native.toSeq == composed.toSeq, s"chunk=$c stride=$n")
    }
  }

  test("graft_term_tfs ≡ wsTokenCount + explode/isin/count per term") {
    GraftFunctions.registerAll(spark)
    val terms = Seq("dup", "the", "four", "b")
    val df = docs.zipWithIndex.map(_.swap).toDF("id", "text")
    val native = df.selectExpr(
      s"id", s"graft_term_tfs(text, array(${terms.map("'" + _ + "'").mkString(",")})) AS tt")
      .select(col("id"), col("tt.dl").as("dl"),
        posexplode(col("tt.tfs")).as(Seq("_i", "tf")))
      .filter(col("tf") > 0)
      .select(col("id"), col("dl"),
        element_at(array(terms.map(lit): _*), col("_i") + 1).as("tok"), col("tf"))
      .orderBy("id", "tok")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getInt(3).toLong))
    val composed = df.select(col("id"),
        split(trim(col("text")), " +").as("_t"),
        graft.operators.TextAnalysis.wsTokenCount(col("text")).as("dl"))
      .select(col("id"), col("dl"), explode(col("_t")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy("id", "dl", "tok").agg(count(lit(1)).as("tf"))
      .orderBy("id", "tok")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(native.toSeq == composed.toSeq)
  }

  test("graft_term_tfs dl matches wsTokenCount on every fixture doc incl. blanks") {
    GraftFunctions.registerAll(spark)
    val df = docs.toDF("text")
    val got = df.selectExpr("graft_term_tfs(text, array('zzz')).dl AS dl")
      .collect().map(_.getLong(0)).toSeq
    val want = df.select(graft.operators.TextAnalysis.wsTokenCount(col("text")))
      .collect().map(_.getLong(0)).toSeq
    assert(got == want)
  }
}
