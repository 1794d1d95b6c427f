package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Norm-factored cosine primitives: `graft_dot` (plain dot product) and
  * `graft_l2norm` (√Σx², same accumulation order as [[CosineSimilarity]]'s
  * inline norms).
  *
  * Why they exist: `cos(a,b) = dot/(√Σa²·√Σb²)` makes every PAIR pay two
  * norm loops that depend only on the individual vectors. An index (IVF
  * cells, semantic-dedup sides) can compute each vector's norm ONCE and
  * store it; the per-pair hot loop then runs `dot / (na * nb)` — one fused
  * loop instead of three. This is BIT-IDENTICAL to [[CosineSimilarity]]:
  * the norm here accumulates in the same element order and feeds the same
  * `dot / (x * y)` expression shape (IEEE multiply is commutative
  * bit-for-bit), so every round-6 certified score is unchanged —
  * `VecPrimitivesSpec` pins the equality over fixture vectors.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isVec(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case NullType => true
    case _ => false
  }

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
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val xd = isDoubleArr(left.dataType)
    val yd = isDoubleArr(right.dataType)
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      val xv = if (xd) x.getDouble(i) else x.getFloat(i).toDouble
      val yv = if (yd) y.getDouble(i) else y.getFloat(i).toDouble
      dot += xv * yv
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      def get(arr: String, dt: DataType, i: String): String =
        if (isDoubleArr(dt)) s"$arr.getDouble($i)" else s"(double) $arr.getFloat($i)"
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val i = ctx.freshName("i")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $dot += ${get(a, left.dataType, i)} * ${get(b, right.dataType, i)};
        }
        ${ev.value} = $dot;
      """
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** √Σx² with [[CosineSimilarity]]'s accumulation order — the factor an
  * index stores per vector.
  */
case class L2Norm(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) | NullType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects an array<float|double> argument, got ${dt.simpleString}")
    }

  private def isDoubleArr: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2norm"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val xd = isDoubleArr
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (xd) x.getDouble(i) else x.getFloat(i).toDouble
      s += xv * xv
      i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val get =
        if (isDoubleArr) (i: String) => s"$a.getDouble($i)"
        else (i: String) => s"(double) $a.getFloat($i)"
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val xv = ctx.freshName("xv")
      s"""
        int $n = $a.numElements();
        double $s = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $xv = ${get(i)};
          $s += $xv * $xv;
        }
        ${ev.value} = java.lang.Math.sqrt($s);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): L2Norm =
    copy(child = newChild)
}

/** Integer dot product over two `array<bigint>` columns — the q122
  * quantized-code scorer. Replaces the interpreted
  * `aggregate(zip_with(...))` fold with one fused codegen loop; integer
  * addition is associative and exact, so the result is IDENTICAL to the
  * HOF form (and to the oracle's `list_reduce`) by arithmetic, not by
  * rounding contract.
  */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isLongArr(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case NullType => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (Seq(left, right).forall(e => isLongArr(e.dataType)))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<bigint> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot_long"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0L
    var i = 0
    while (i < n) { dot += x.getLong(i) * y.getLong(i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val i = ctx.freshName("i")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        long $dot = 0L;
        for (int $i = 0; $i < $n; $i++) {
          $dot += $a.getLong($i) * $b.getLong($i);
        }
        ${ev.value} = $dot;
      """
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): DotProductLong =
    copy(left = newLeft, right = newRight)
}

object VecPrimitives {
  val dotName = "graft_dot"
  val normName = "graft_l2norm"
  val dotLongName = "graft_dot_long"

  private[expressions] val fns: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    (dotName, classOf[DotProduct], { children: Seq[Expression] =>
      require(children.size == 2, s"$dotName expects 2 arguments")
      DotProduct(children.head, children(1))
    }),
    (normName, classOf[L2Norm], { children: Seq[Expression] =>
      require(children.size == 1, s"$normName expects 1 argument")
      L2Norm(children.head)
    }),
    (dotLongName, classOf[DotProductLong], { children: Seq[Expression] =>
      require(children.size == 2, s"$dotLongName expects 2 arguments")
      DotProductLong(children.head, children(1))
    }))
}
