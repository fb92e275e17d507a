package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Codegen'd |A ∩ B| for two ASCENDING-SORTED, duplicate-free
  * `array<bigint>` columns — a two-pointer merge scan.
  *
  * Why a custom Catalyst expression (SURVEY.md §4.2 escape hatch, same
  * rationale as [[L2SquaredDistance]]): the PPJoin verify stage computes
  * the exact shingle-set intersection size for every candidate pair via
  * `size(array_intersect(hs_a, hs_b))`. Spark's `ArrayIntersect` is
  * general-purpose: per ROW it builds a hash set over one side with boxed
  * elements, probes with dedup bookkeeping, and MATERIALIZES the
  * intersection array that `size` then throws away — measured 144 µs per
  * ~50-element pair at the sf1 probe, 180 of ppjoin's 388 task-CPU-s.
  * The pair arrays are per-doc shingle SETS that the build already sorts
  * once (8-byte longs, ascending), so the intersection size is a single
  * allocation-free merge scan: O(|A|+|B|) long comparisons, no boxing,
  * no hash set, no output array, inside whole-stage codegen.
  *
  * CONTRACT: both inputs sorted ascending with no duplicates (Spark's
  * `sort_array` over a set column yields exactly this). On unsorted
  * input the count is simply wrong — this is a private building block
  * for operators that own their sort order, not a general function.
  * Null input → null, mirroring `array_intersect`'s null semantics.
  * Null ELEMENTS are rejected at runtime with a named error: the merge
  * scan reads slots with `getLong`, which would silently decode a null
  * slot as 0 and corrupt the count — and the producing arrays here are
  * `transform()`-built, whose containsNull metadata is inherited from
  * nullable source columns even when no null can occur, so an
  * analysis-time `containsNull = false` requirement would reject every
  * legitimate caller (unlike [[WinnowPositions]], whose producer is a
  * kernel that stamps non-null structurally). */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def isLongArray(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    val ok = isLongArray(left.dataType) && isLongArray(right.dataType)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_icount_sorted expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_icount_sorted"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.compute(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SortedIntersectCount.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  /** Two-pointer merge count — static so generated code calls it
    * directly. The null-slot guard rides the merge itself (one bit test
    * per element actually visited, no pre-scan): a null element means a
    * producer violated the contract, and failing loudly beats decoding
    * it as 0 and returning a silently wrong intersection size. */
  def compute(x: ArrayData, y: ArrayData): Long = {
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < nx && j < ny) {
      if (x.isNullAt(i) || y.isNullAt(j))
        throw new IllegalArgumentException(
          "graft_icount_sorted: null array element — inputs must be " +
            "duplicate-free sorted arrays of non-null BIGINTs")
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }
}
