package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: cosine similarity of two float- or
  * double-array columns, computed in double. Mixed widths are fine — e.g. a
  * float embedding against a double k-means centroid.
  *
  * This is the (b) tier of the custom-operator ladder — a codegen'd
  * `Expression` instead of a UDF: no row boxing, no Scala-function call per
  * row, it inlines into whole-stage codegen, and the tight primitive loop
  * reads `ArrayData` elements directly. Semantics are bit-identical to
  * [[graft.functions.VectorFunctions.cosine]] (same fold order, double math),
  * so the DuckDB oracles for q44/q45 pin its correctness.
  *
  * Null handling: null on null input (BinaryExpression default). Arrays of
  * unequal length compare over the common prefix (same as `zip_with`).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isVec(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case NullType => true // null literal → null result
    case _ => false
  }

  // (ExpectsInputTypes is sql-private in Spark 4; inputs must already be
  // numeric arrays — the analyzer surfaces a clear error below otherwise.)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (Seq(left, right).forall(e => isVec(e.dataType)))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<float|double> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  private def isDoubleArr(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val xd = isDoubleArr(left.dataType)
    val yd = isDoubleArr(right.dataType)
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = if (xd) x.getDouble(i) else x.getFloat(i).toDouble
      val yv = if (yd) y.getDouble(i) else y.getFloat(i).toDouble
      dot += xv * yv
      nx += xv * xv
      ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // element getters resolve at CODEGEN time from the static child types —
      // the per-row loop stays branch-free
      def get(arr: String, dt: DataType, i: String): String =
        if (isDoubleArr(dt)) s"$arr.getDouble($i)" else s"(double) $arr.getFloat($i)"
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0, $nx = 0.0, $ny = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $xv = ${get(a, left.dataType, i)};
          double $yv = ${get(b, right.dataType, i)};
          $dot += $xv * $yv;
          $nx += $xv * $xv;
          $ny += $yv * $yv;
        }
        ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
      """
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  val name = "graft_cosine"

  private[expressions] val builder: Seq[Expression] => Expression = { children =>
    require(children.size == 2, s"$name expects 2 arguments")
    CosineSimilarity(children.head, children(1))
  }
}
