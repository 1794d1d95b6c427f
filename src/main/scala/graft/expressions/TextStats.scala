package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass text statistics for the text-analysis family
  * (SURVEY §2.C) — the per-document feature math of q47–q50.
  *
  * The composed-builtin formulations (5× `regexp_extract_all`, 2×
  * `regexp_replace`, `aggregate(transform(split(text,'')))`) are semantically
  * right but pay a Java-regex or per-character-array pass per feature; at
  * 100 TB (and measurably at sf0.1) that is the scan bottleneck. Each
  * expression here is one fused loop over the string reached from
  * whole-stage codegen via a static call — same tier-(b) ladder rung as
  * [[TextSignatures]] / [[CosineSimilarity]].
  *
  * Semantics are pinned to the oracle-validated originals:
  *  - counts are per Unicode CODE POINT (what DuckDB's rune-based regex and
  *    Spark's `length` both count);
  *  - marker scans are leftmost-first with ordered alternatives and
  *    non-overlapping advance — Java-regex `Matcher.find` behavior for the
  *    word-alternation patterns;
  *  - the fingerprint is the same base-31 mod 1e9+7 fold over code points.
  */
object TextStats {

  // indices into the stats array
  val NChars = 0; val WsTokens = 1; val BpeishTokens = 2; val Alpha = 3; val Punct = 4

  /** [n_chars, ws_tokens, bpeish_tokens, alpha, punct] in ONE pass.
    *
    *  - n_chars: code-point count (= Spark `length`).
    *  - ws_tokens: maximal runs of non-space (0x20) characters —
    *    `size(split(trim(text), " +"))` with the empty-text → 0 guard.
    *  - bpeish_tokens: runs of [a-zA-Z], runs of [0-9], else one token per
    *    single non-space symbol — `regexp_extract_all(text,
    *    "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]")` count.
    *  - alpha: [a-zA-Z] character count; punct: [.,;:!?] count.
    */
  def stats(text: UTF8String): ArrayData = {
    val s = text.toString
    val n = s.length
    var nChars = 0L; var ws = 0L; var bpe = 0L; var alpha = 0L; var punct = 0L
    var inWsRun = false
    var i = 0
    var bpeState = 0 // 0 = none, 1 = in letter run, 2 = in digit run
    while (i < n) {
      val cp = s.codePointAt(i)
      nChars += 1
      val isLetter = (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z')
      val isDigit = cp >= '0' && cp <= '9'
      if (cp != ' ') { if (!inWsRun) { ws += 1; inWsRun = true } }
      else inWsRun = false
      if (isLetter) { if (bpeState != 1) { bpe += 1; bpeState = 1 }; alpha += 1 }
      else if (isDigit) { if (bpeState != 2) { bpe += 1; bpeState = 2 } }
      else { bpeState = 0; if (cp != ' ') bpe += 1 }
      if (cp == '.' || cp == ',' || cp == ';' || cp == ':' || cp == '!' || cp == '?') punct += 1
      i += Character.charCount(cp)
    }
    UnsafeArrayData.fromPrimitiveArray(Array(nChars, ws, bpe, alpha, punct))
  }

  /** The language-id marker inventory (fixed order; see TextAnalysis.langId). */
  val langs: Seq[String] = Seq("en", "de", "fr", "es", "nl")
  private val markerWords: Array[Array[String]] = Array(
    Array("the", "and", "of", "with"),
    Array("der", "die", "das", "und"),
    Array("le", "la", "les", "et"),
    Array("el", "los", "las", "y"),
    Array("de", "het", "een", "en"),
  )

  /** Per-language marker-hit counts in one call: for each language,
    * a leftmost-first non-overlapping scan counting `word + ' '` matches
    * with alternatives tried in declaration order — exactly
    * `size(regexp_extract_all(text, "(w1|w2|…) "))`.
    */
  def markerHits(text: UTF8String): ArrayData = {
    val s = text.toString
    val n = s.length
    val out = new Array[Long](markerWords.length)
    var li = 0
    while (li < markerWords.length) {
      val words = markerWords(li)
      var count = 0L
      var pos = 0
      while (pos < n) {
        var matched = -1
        var w = 0
        while (matched < 0 && w < words.length) {
          val word = words(w)
          val end = pos + word.length
          if (end < n && s.charAt(end) == ' ' && s.startsWith(word, pos)) matched = word.length + 1
          w += 1
        }
        if (matched > 0) { count += 1; pos += matched } else pos += 1
      }
      out(li) = count
      li += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  // indices into the repetition-stats array
  val NBigrams = 0; val DistinctBigrams = 1; val C4Total = 2; val C4Distinct = 3

  /** [n_bigrams, distinct_bigrams, char4_total, char4_distinct] in one
    * pass — the repetition-gate counts of `Curation.repetitionRatios`,
    * replacing two materialized gram ARRAYS per document (a ~400-element
    * `transform` + `array_distinct` each) with two hash sets.
    *
    * Semantics pinned to the composed/oracle formulation exactly:
    *  - tokens = `split(trim(text), ' +')` (a blank text has ONE empty
    *    token); bigram count = max(tokens − 1, 1); a one-token doc's single
    *    "bigram" is that token itself (`slice` semantics);
    *  - char grams: `substring(text, i, 4)` for i in 1..max(len − 3, 1)
    *    over code points — a <4-char text yields one short gram.
    */
  def repStats(text: UTF8String): ArrayData = {
    val s = text.toString
    // ---- whitespace tokens of trim(s)
    val toks = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = s.length
    while (i < n) {
      if (s.charAt(i) != ' ') {
        val start = i
        while (i < n && s.charAt(i) != ' ') i += 1
        toks += s.substring(start, i)
      } else i += 1
    }
    if (toks.isEmpty) toks += "" // split(trim(""), " +") == [""]
    val nTok = toks.length
    val nBi = math.max(nTok - 1, 1).toLong
    val biSet = new java.util.HashSet[String]()
    if (nTok == 1) biSet.add(toks(0))
    else {
      var t = 0
      while (t < nTok - 1) { biSet.add(toks(t) + " " + toks(t + 1)); t += 1 }
    }
    // ---- char 4-grams over code points of the raw text
    val cpCount = s.codePointCount(0, n)
    val total4 = math.max(cpCount - 3, 1).toLong
    val c4 = new java.util.HashSet[String]()
    if (cpCount < 4) c4.add(s)
    else {
      var start = 0
      var end = s.offsetByCodePoints(0, 4)
      var k = 0L
      while (k < total4) {
        c4.add(s.substring(start, end))
        start = s.offsetByCodePoints(start, 1)
        if (end < n) end = s.offsetByCodePoints(end, 1)
        k += 1L
      }
    }
    UnsafeArrayData.fromPrimitiveArray(
      Array(nBi, biSet.size.toLong, total4, c4.size.toLong))
  }

  /** Polynomial rolling hash (base 31, mod 1e9+7) over code points — the
    * fused form of `aggregate(transform(split(text,''), ascii), …)`.
    *
    * r16: folds the raw UTF-8 bytes directly while they are ASCII (code
    * point == byte value — no per-row String allocation or char decode;
    * a same-window A/B measured the byte path ~12% faster than the
    * code-point loop over the sf1 corpus, values asserted equal per row).
    * The first non-ASCII byte restarts the row through the code-point
    * loop, so the value is bit-identical on any input (parity-spec pinned
    * on mixed ASCII/multibyte strings).
    */
  def fingerprint(text: UTF8String): Long = {
    val nb = text.numBytes
    var acc = 0L
    var i = 0
    while (i < nb) {
      val b = text.getByte(i)
      if (b < 0) return fingerprintCodePoints(text) // non-ASCII: full decode
      acc = (acc * 31 + b) % 1000000007L
      i += 1
    }
    acc
  }

  private def fingerprintCodePoints(text: UTF8String): Long = {
    val s = text.toString
    val n = s.length
    var acc = 0L
    var i = 0
    while (i < n) {
      val cp = s.codePointAt(i)
      acc = (acc * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }

  // ------------------------------------------------------------ registration

  private[expressions] val fns: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_text_stats", classOf[TextStatsExpr], (c: Seq[Expression]) => TextStatsExpr(c.head)),
    ("graft_marker_hits", classOf[MarkerHitsExpr], (c: Seq[Expression]) => MarkerHitsExpr(c.head)),
    ("graft_fingerprint", classOf[FingerprintExpr], (c: Seq[Expression]) => FingerprintExpr(c.head)),
    ("graft_rep_stats", classOf[RepStatsExpr], (c: Seq[Expression]) => RepStatsExpr(c.head)),
  )

  def statsCol(spark: SparkSession)(text: Column): Column = {
    GraftFunctions.registerAll(spark); call_function("graft_text_stats", text)
  }
  def markerHitsCol(spark: SparkSession)(text: Column): Column = {
    GraftFunctions.registerAll(spark); call_function("graft_marker_hits", text)
  }
  def fingerprintCol(spark: SparkSession)(text: Column): Column = {
    GraftFunctions.registerAll(spark); call_function("graft_fingerprint", text)
  }
  def repStatsCol(spark: SparkSession)(text: Column): Column = {
    GraftFunctions.registerAll(spark); call_function("graft_rep_stats", text)
  }

  private[expressions] def requireString(e: Expression, name: String): TypeCheckResult =
    if (e.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$name expects a STRING, got ${e.dataType.simpleString}")
}

/** `graft_text_stats(text)` → ARRAY<BIGINT> [n_chars, ws, bpeish, alpha, punct]. */
case class TextStatsExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TextStats.requireString(child, prettyName)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_text_stats"
  override protected def nullSafeEval(t: Any): Any =
    TextStats.stats(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.expressions.TextStats.stats($t)")
  override protected def withNewChildInternal(c: Expression): TextStatsExpr = copy(child = c)
}

/** `graft_marker_hits(text)` → ARRAY<BIGINT>, one count per language. */
case class MarkerHitsExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TextStats.requireString(child, prettyName)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_marker_hits"
  override protected def nullSafeEval(t: Any): Any =
    TextStats.markerHits(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.expressions.TextStats.markerHits($t)")
  override protected def withNewChildInternal(c: Expression): MarkerHitsExpr = copy(child = c)
}

/** `graft_rep_stats(text)` → ARRAY<BIGINT> [n_bigrams, distinct_bigrams,
  * char4_total, char4_distinct].
  */
case class RepStatsExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TextStats.requireString(child, prettyName)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_rep_stats"
  override protected def nullSafeEval(t: Any): Any =
    TextStats.repStats(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.expressions.TextStats.repStats($t)")
  override protected def withNewChildInternal(c: Expression): RepStatsExpr = copy(child = c)
}

/** `graft_fingerprint(text)` → BIGINT rolling-hash content id. */
case class FingerprintExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TextStats.requireString(child, prettyName)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_fingerprint"
  override protected def nullSafeEval(t: Any): Any =
    TextStats.fingerprint(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.expressions.TextStats.fingerprint($t)")
  override protected def withNewChildInternal(c: Expression): FingerprintExpr = copy(child = c)
}
