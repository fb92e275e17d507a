package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Codegen'd winnowing selection: `graft_winnow_positions(hs, w)` maps a
  * gram-hash array to the 1-based positions the Schleimer et al. 2003
  * winnowing rule selects — for every length-`w` window the RIGHTMOST
  * position attaining the window minimum, deduplicated. Equal by
  * construction to
  * `array_distinct(transform(sequence(1, size(hs)-w+1),
  *    j -> array_max(filter(sequence(j, j+w-1),
  *           p -> element_at(hs, p) = array_min(slice(hs, j, w))))))`
  * (randomized-parity-pinned in FunctionsSpec), with consecutive-dedup
  * sufficing because rightmost-argmin selections are NON-DECREASING as
  * the window slides: if window j picks p1 and window j+1 picked some
  * p2 < p1 (both inside the overlap), window j's rightmost rule forces
  * hs(p1) ≤ hs(p2) while window j+1's forces hs(p2) < hs(p1) (equality
  * would have picked the righter p1) — a contradiction.
  *
  * Why a kernel (the [[GramHashes]] tier): the built-in formulation
  * allocates a slice array, two sequence arrays, and a filter result PER
  * TOKEN, all boxed. The winnow build is map-only, so that allocation
  * traffic IS its cost — the r14 isolation ladder measured the
  * expression tower at 10.3 → 53.8 → 604 task-CPU-s on 10×/30×/100×
  * (allocation-stall inflation compounding under full task concurrency),
  * where this loop does `w` primitive long compares per token and one
  * int array per document. */
case class WinnowPositions(child: Expression, w: Int) extends UnaryExpression {

  require(w > 1 && w <= 1024,
    s"graft_winnow_positions: w must be in [2, 1024], got $w")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // containsNull must be false: compute() reads every slot with
    // getLong, which would silently turn a null element into 0 and give
    // wrong winnow positions instead of a type error. The producing
    // kernel (graft_gram_hashes60) emits containsNull = false, so this
    // rejects only genuinely unsafe inputs.
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "graft_winnow_positions expects array<bigint> with non-null " +
        s"elements, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_winnow_positions"

  override def nullSafeEval(hs: Any): Any =
    WinnowPositions.compute(hs.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowPositions.compute($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowPositions =
    copy(child = newChild)
}

object WinnowPositions {

  /** Rightmost-min-per-window scan — static so generated code calls it.
    * O(n·w) primitive compares, one output array, zero interior
    * allocation. Null elements cannot occur (the producing kernel's
    * output is containsNull = false); positions are 1-based to match
    * `element_at`. */
  def compute(hs: ArrayData, w: Int): ArrayData = {
    val n = hs.numElements()
    if (n < w)
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(Array.empty[Int])
    val buf = new Array[Int](n - w + 1)
    var m = 0
    var last = -1
    var s = 0
    while (s <= n - w) {
      var best = hs.getLong(s)
      var bestAt = s
      var j = 1
      while (j < w) {
        val v = hs.getLong(s + j)
        if (v <= best) { best = v; bestAt = s + j } // <=: rightmost wins
        j += 1
      }
      val pos = bestAt + 1
      if (pos != last) { buf(m) = pos; m = m + 1; last = pos }
      s += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(buf, m))
  }
}
