package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused single-fold PII detect-and-redact (round 16).
  *
  * `Cleaning.piiScrub` composed SIX full-text Java-regex passes per row
  * (three `regexp_count`s on the original text + a three-deep
  * `regexp_replace` chain) — measured as q116's whole wall beyond the
  * scheduling floor. This kernel reproduces the EXACT same semantics with
  * hand-rolled linear scanners (the q111/q91 native-kernel pattern):
  * counts are measured on the ORIGINAL text per pattern, the redaction
  * chain applies email → IPv4 → phone with each stage scanning the
  * previous stage's output (chain order is observable: a placeholder
  * boundary can expose an IPv4 `\b` that the original text hid, and the
  * counts must NOT see such uncovered matches — pinned by PiiScrubSpec's
  * uncovered-IP case).
  *
  * Scanner equivalence with `java.util.regex` (the engine behind Spark's
  * `regexp_*`), argued per pattern and pinned by a property spec against
  * the regex composition itself:
  *  - email `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}`: '@' is in
  *    neither char class, so a viable match start is exactly the start of
  *    the maximal local-class run immediately left of an '@' (leftmost-
  *    first ordering = '@'s left to right; candidate starts are strictly
  *    increasing because local runs cannot span '@'); the greedy domain
  *    run backtracks to the LAST dot followed by >=2 letters, with at
  *    least one domain char before it.
  *  - IPv4 `\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b`: a greedy `\d{1,3}`
  *    followed by a required literal can only succeed when the WHOLE
  *    digit run is 1-3 long (every shorter prefix is followed by a digit,
  *    which is neither '.' nor a word boundary), so each quad checks its
  *    full run length; `\b` is Java's default word boundary, which is
  *    UNICODE-aware (letterOrDigit or '_' over code points) even while
  *    `\w` stays ASCII — see isBoundWordBefore/At below (r17 fix).
  *  - phone `\+\d{2}-\d{2}-\d{7}`: fixed-width, anchored at '+'.
  * All matches are non-overlapping and the scan resumes at each match
  * end, exactly like `Matcher.find()`/`replaceAll`.
  */
object GraftPii {
  val EmailPlaceholder = "<EMAIL>"
  val IpPlaceholder = "<IP>"
  val PhonePlaceholder = "<PHONE>"

  @inline private def isWordC(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'
  // Java-regex `\b` word-char semantics (JDK Pattern.Bound WITHOUT
  // UNICODE_CHARACTER_CLASS): `ch == '_' || Character.isLetterOrDigit(ch)`
  // over CODE POINTS — \b is Unicode-aware even while \w stays ASCII, so
  // 'é'/CJK neighbors suppress an IP boundary that the ASCII isWordC
  // missed (the r16 ADVICE multibyte parity gap — found by the added
  // PiiScrubSpec cases, fixed here). codePointBefore/At pair surrogates,
  // so a 4-byte emoji is judged once as its (non-word) code point.
  @inline private def isBoundWordBefore(s: String, i: Int): Boolean = {
    val cp = s.codePointBefore(i)
    cp == '_'.toInt || Character.isLetterOrDigit(cp)
  }
  @inline private def isBoundWordAt(s: String, i: Int): Boolean = {
    val cp = s.codePointAt(i)
    cp == '_'.toInt || Character.isLetterOrDigit(cp)
  }
  @inline private def isDigitC(c: Char): Boolean = c >= '0' && c <= '9'
  @inline private def isLetterC(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  @inline private def isLocalC(c: Char): Boolean =
    isWordC(c) || c == '.' || c == '%' || c == '+' || c == '-'
  @inline private def isDomainC(c: Char): Boolean =
    isLetterC(c) || isDigitC(c) || c == '.' || c == '-'

  /** Non-overlapping email match spans, `Matcher.find()` order. */
  private[expressions] def emailSpans(s: String): java.util.ArrayList[Long] = {
    val out = new java.util.ArrayList[Long]()
    val n = s.length
    var lastEnd = 0
    var at = s.indexOf('@')
    while (at >= 0) {
      var ok = false
      var end = -1
      // maximal local run left of '@', clamped at the previous match end
      var ls = at
      while (ls > lastEnd && isLocalC(s.charAt(ls - 1))) ls -= 1
      if (ls < at) {
        // greedy domain run
        var e = at + 1
        while (e < n && isDomainC(s.charAt(e))) e += 1
        // backtrack: last '.' with >=2 letters after and >=1 domain char before
        var k = e - 1
        while (k >= at + 2 && !ok) {
          if (s.charAt(k) == '.') {
            var m = k + 1
            while (m < n && isLetterC(s.charAt(m))) m += 1
            if (m - (k + 1) >= 2) { ok = true; end = m }
          }
          k -= 1
        }
      }
      if (ok) {
        out.add((ls.toLong << 32) | end.toLong)
        lastEnd = end
        at = s.indexOf('@', end)
      } else at = s.indexOf('@', at + 1)
    }
    out
  }

  /** Non-overlapping IPv4 match spans. */
  private[expressions] def ipSpans(s: String): java.util.ArrayList[Long] = {
    val out = new java.util.ArrayList[Long]()
    val n = s.length
    var i = 0
    while (i < n) {
      if (isDigitC(s.charAt(i)) && (i == 0 || !isBoundWordBefore(s, i))) {
        // four quads: full digit run 1-3 long; first three followed by '.',
        // the last by a word boundary (non-word char or end)
        var p = i
        var quads = 0
        var fail = false
        while (quads < 4 && !fail) {
          var r = 0
          while (p + r < n && isDigitC(s.charAt(p + r))) r += 1
          if (r < 1 || r > 3) fail = true
          else {
            p += r
            quads += 1
            if (quads < 4) {
              if (p < n && s.charAt(p) == '.') p += 1 else fail = true
            } else if (p < n && isBoundWordAt(s, p)) fail = true
          }
        }
        if (!fail) { out.add((i.toLong << 32) | p.toLong); i = p }
        else i += 1
      } else i += 1
    }
    out
  }

  /** Non-overlapping phone match spans (`+dd-dd-ddddddd`, fixed width 14). */
  private[expressions] def phoneSpans(s: String): java.util.ArrayList[Long] = {
    val out = new java.util.ArrayList[Long]()
    val n = s.length
    var i = s.indexOf('+')
    while (i >= 0) {
      val ok = i + 14 <= n &&
        isDigitC(s.charAt(i + 1)) && isDigitC(s.charAt(i + 2)) &&
        s.charAt(i + 3) == '-' &&
        isDigitC(s.charAt(i + 4)) && isDigitC(s.charAt(i + 5)) &&
        s.charAt(i + 6) == '-' && {
          var j = i + 7
          while (j < i + 14 && isDigitC(s.charAt(j))) j += 1
          j == i + 14
        }
      if (ok) { out.add((i.toLong << 32) | (i + 14).toLong); i = s.indexOf('+', i + 14) }
      else i = s.indexOf('+', i + 1)
    }
    out
  }

  private def splice(s: String, spans: java.util.ArrayList[Long],
                     placeholder: String): String = {
    if (spans.isEmpty) return s
    val b = new java.lang.StringBuilder(s.length)
    var from = 0
    var i = 0
    while (i < spans.size()) {
      val span = spans.get(i)
      val st = (span >>> 32).toInt
      val en = (span & 0xffffffffL).toInt
      b.append(s, from, st).append(placeholder)
      from = en
      i += 1
    }
    b.append(s, from, s.length)
    b.toString
  }

  /** The full fused scrub: counts on the original, chained redaction. */
  def scrub(text: UTF8String): InternalRow = {
    val s = text.toString
    val emails = emailSpans(s)
    val nIps = ipSpans(s).size().toLong
    val nPhones = phoneSpans(s).size().toLong
    val afterEmail = splice(s, emails, EmailPlaceholder)
    val afterIp = splice(afterEmail, ipSpans(afterEmail), IpPlaceholder)
    val clean = splice(afterIp, phoneSpans(afterIp), PhonePlaceholder)
    new GenericInternalRow(Array[Any](
      emails.size().toLong, nIps, nPhones, UTF8String.fromString(clean)))
  }

  val name = "graft_pii_scrub"

  /** Wrong arity raises a clean analysis-time error instead of
    * `children.head` throwing NoSuchElementException on zero args or
    * silently ignoring extras (ADVICE r16).
    */
  private[expressions] val builder: Seq[Expression] => Expression = {
    case Seq(e) => PiiScrub(e)
    case c => throw new IllegalArgumentException(
      s"$name expects exactly 1 argument (text), got ${c.size}")
  }

  def scrubCol(spark: SparkSession)(text: Column): Column = {
    GraftFunctions.registerAll(spark); call_function(name, text)
  }
}

/** `graft_pii_scrub(text)` →
  * STRUCT<n_emails BIGINT, n_ips BIGINT, n_phones BIGINT, clean_text STRING>
  * — see [[GraftPii]].
  */
case class PiiScrub(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a STRING text, got ${other.simpleString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_emails", LongType, nullable = false),
    StructField("n_ips", LongType, nullable = false),
    StructField("n_phones", LongType, nullable = false),
    StructField("clean_text", StringType, nullable = false)))
  override def prettyName: String = "graft_pii_scrub"

  override protected def nullSafeEval(text: Any): Any =
    GraftPii.scrub(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.expressions.GraftPii.scrub($t)")

  override protected def withNewChildInternal(c: Expression): PiiScrub =
    copy(child = c)
}
