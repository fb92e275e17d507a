package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd squared Euclidean distance over two `array<double>` columns.
  *
  * Why a custom Catalyst expression (SURVEY.md §4.2 escape hatch, same
  * rationale as [[FixedPointDotProduct]]): the trained-quantizer
  * assignment scores every vector against all K centroids — an n·K row
  * stream whose per-row work was the interpreted HOF fold
  * `aggregate(zip_with(e, c, (x,y) -> (x-y)*(x-y)), 0D, +)`. With the
  * round-13 √n-sized K (up to 256) that interpreted lambda becomes the
  * hot loop of the `kmeans_assign` shared stage; this expression emits
  * the same arithmetic as a tight primitive loop inside whole-stage
  * codegen.
  *
  * NUMERICALLY IDENTICAL to the fold it replaces: both accumulate
  * `acc + (x_i - y_i)^2` left-to-right in IEEE doubles, so every
  * committed golden fixture and recall floor pins the same model.
  * Identical including the MISMATCH case: `zip_with` pads the shorter
  * array with nulls, so the old fold returned NULL on a dimension
  * mismatch — this expression does too (rather than silently truncating
  * to the shorter length, which would turn a dimension bug into a
  * plausible-looking distance). */
case class L2SquaredDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  // null not only when an input is null: a length mismatch yields null
  // even for non-nullable child columns (the zip_with-pad semantics)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def isDoubleArray(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val ok = isDoubleArray(left.dataType) && isDoubleArray(right.dataType)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_l2sq expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2sq"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var acc = 0.0
      var i = 0
      while (i < n) {
        val d = x.getDouble(i) - y.getDouble(i)
        acc += d * d
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2SquaredDistance =
    copy(left = newLeft, right = newRight)
}
