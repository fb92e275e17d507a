package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Codegen'd sign-random-projection LSH signature:
  * `graft_srp_keys(q, tables, bits)` maps a fixed-point vector to one
  * bucket key per hash table — key_t has bit b set iff
  * `dot(q, proj(t·bits + b)) > 0`, the exact predicate the per-bit
  * column tower evaluated (projections are the same md5-parity ±1
  * vectors, the integer dot is exact, and the bit→key mapping is a
  * bijection of the old '0'/'1' string concat, so candidate sets — and
  * therefore the oracle-checked top-3 — are identical by construction).
  *
  * Why a kernel (the [[GramHashes]]/[[WinnowPositions]] tier): the
  * column formulation built `tables·bits` separate `graft_dot(q,
  * array(±1L × 64))` calls, and codegen materializes each 64-element
  * CreateArray PER ROW PER CALL — ~34 KB of array allocation per vector
  * at 64 bits, which measured 11.1 task-CPU-s per signature pass over
  * 20k vectors (0.55 ms/row) with every consumer of the un-persistable
  * signature column paying it again; the r15 isolation triangle read
  * 34 → 116 → 1,066 CPU-s on 10×/30×/100× — super-linear purely from
  * re-evaluated allocation traffic, not from the join. This loop reads
  * the static projection cache and allocates one `tables`-long result
  * array per row.
  */
case class SrpBucketKeys(child: Expression, tables: Int, bits: Int)
    extends UnaryExpression {

  require(tables >= 1 && tables <= 64,
    s"graft_srp_keys: tables must be in [1, 64], got $tables")
  require(bits >= 1 && bits <= 63,
    s"graft_srp_keys: bits must be in [1, 63], got $bits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_srp_keys expects array<bigint>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_srp_keys"

  override def nullSafeEval(q: Any): Any =
    SrpBucketKeys.compute(q.asInstanceOf[ArrayData], tables, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SrpBucketKeys.compute($c, $tables, $bits)")

  override protected def withNewChildInternal(newChild: Expression): SrpBucketKeys =
    copy(child = newChild)
}

object SrpBucketKeys {

  /** Projection dimensionality — matches the embedding tables. */
  val Dims = 64

  private val projCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Long]]()

  /** The i-th ±1 projection vector: md5("i_j") parity per dimension —
    * engine-independent (the DuckDB oracle recomputes the identical
    * signs from its own md5), deterministic, derived on demand. */
  def projection(i: Int): Array[Long] =
    projCache.computeIfAbsent(i, _ => Array.tabulate(Dims) { j =>
      val d = MessageDigest.getInstance("MD5").digest(s"${i}_$j".getBytes("UTF-8"))
      if ((d(0) & 0xff) % 2 == 1) 1L else -1L
    })

  /** All-tables signature scan — static so generated code calls it.
    * `tables·bits·Dims` primitive multiply-adds, one result array, zero
    * interior allocation. A shorter vector dots over its own length
    * exactly like [[FixedPointDotProduct]]. Null elements are rejected
    * up front (one bit test per dimension per ROW, outside the
    * tables·bits hot loop): the quantized producer transforms non-null
    * doubles so none can occur, but its `transform()` containsNull
    * metadata stays true — `getLong` on a null slot would silently read
    * 0 and corrupt every downstream bucket key, so a contract-violating
    * producer fails loudly instead. */
  def compute(q: ArrayData, tables: Int, bits: Int): ArrayData = {
    val d = math.min(q.numElements(), Dims)
    var k = 0
    while (k < d) {
      if (q.isNullAt(k))
        throw new IllegalArgumentException(
          "graft_srp_keys: null vector element — the fixed-point input " +
            "must contain only non-null BIGINTs")
      k += 1
    }
    val keys = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var key = 0L
      var b = 0
      while (b < bits) {
        val p = projection(t * bits + b)
        var acc = 0L
        var j = 0
        while (j < d) { acc += q.getLong(j) * p(j); j += 1 }
        if (acc > 0L) key |= (1L << b)
        b += 1
      }
      keys(t) = key
      t += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(keys)
  }
}
