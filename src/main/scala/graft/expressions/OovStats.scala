package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_oov_stats(text, vocab)` → STRUCT<n_tokens BIGINT, n_oov BIGINT>
  * — per-document token total and out-of-vocabulary occurrence count for a
  * LITERAL vocabulary array, in one pass over the text (r15): the
  * deployment form of q91's scoring half as a genuinely map-only pass —
  * no token explode, no broadcast join, no doc-major re-aggregate. The
  * vocabulary is bounded by the top-V cut (the same bounded-driver-pin
  * contract as the IVF centroids), baked in as a literal and hashed ONCE:
  * interpreted eval through a lazy set, generated code through a
  * codegen-referenced set object — never per row.
  *
  * Tokenization mirrors [[TextSignatures.tokenCounts]] EXACTLY, including
  * the degenerate contract: empty/blank text counts as the single empty
  * token (n_tokens = 1, OOV iff "" is not in the vocabulary) — q91's
  * explode-join formulation scored blank docs that way, and the native
  * path must not move the boundary.
  */
case class OovStats(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects a STRING text, got ${left.dataType.simpleString}")
    else right.dataType match {
      case ArrayType(StringType, _) if right.foldable => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a literal ARRAY<STRING> vocabulary")
    }

  @transient private lazy val vocabSet: java.util.HashSet[String] = {
    val arr = right.eval().asInstanceOf[ArrayData]
    val set = new java.util.HashSet[String](arr.numElements() * 2)
    var i = 0
    while (i < arr.numElements()) { set.add(arr.getUTF8String(i).toString); i += 1 }
    set
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_oov", LongType, nullable = false)))
  override def prettyName: String = OovStats.name

  override protected def nullSafeEval(text: Any, vocab: Any): Any =
    OovStats.oovStats(text.asInstanceOf[UTF8String], vocabSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the hashed vocabulary rides the generated class as a reference
    // object — built once on the driver, deserialized once per executor,
    // looked up per token; the vocab ARRAY child is deliberately not
    // evaluated in generated code
    val setRef = ctx.addReferenceObj("graftOovVocab", vocabSet,
      "java.util.HashSet<String>")
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = graft.expressions.OovStats.oovStats($t, $setRef);")
  }

  override protected def withNewChildrenInternal(a: Expression, b: Expression): OovStats =
    copy(left = a, right = b)
}

object OovStats {
  val name = "graft_oov_stats"

  def oovStats(text: UTF8String, vocab: java.util.HashSet[String]): InternalRow = {
    val s = text.trim().toString
    var n = 0L
    var oov = 0L
    if (s.isEmpty) {
      n = 1L
      if (!vocab.contains("")) oov = 1L
    } else {
      var i = 0
      val len = s.length
      while (i < len) {
        if (s.charAt(i) == ' ') i += 1
        else {
          var j = i + 1
          while (j < len && s.charAt(j) != ' ') j += 1
          n += 1
          if (!vocab.contains(s.substring(i, j))) oov += 1
          i = j
        }
      }
    }
    InternalRow(n, oov)
  }

  private[expressions] val builder: Seq[Expression] => Expression = { c =>
    require(c.size == 2, s"$name expects (text, vocab array)")
    OovStats(c.head, c(1))
  }
}
