package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Codegen'd integer dot product over two `array<bigint>` columns.
  *
  * Why a custom Catalyst expression (SURVEY.md §4.2 escape hatch): the
  * built-in formulation `aggregate(zip_with(a, b, (x,y) -> x*y), 0L, ...)`
  * is semantically identical but runs on the interpreted higher-order-
  * function path — at sf0.1 the all-pairs cosine near-dup query spent 29 s
  * in lambda interpretation. This expression emits a tight primitive loop
  * inside whole-stage codegen (no boxing, no per-element closures) and is
  * numerically identical: the HOF fold and this loop both accumulate
  * left-to-right over exact BIGINTs, so oracle hash-parity is unaffected.
  *
  * Inputs are the fixed-point quantized embeddings (`floor(x*1e6)`), whose
  * 64-dim products stay far below 2^63.
  */
case class FixedPointDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def isLongArray(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    val ok = isLongArray(left.dataType) && isLongArray(right.dataType)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FixedPointDotProduct =
    copy(left = newLeft, right = newRight)
}
