package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructType}

/** Exact second-moment accumulator for `graft_moments(q, d)`: one pass
  * over `array<bigint>` vectors producing the count, the per-dimension
  * sums Σqᵢ, and the upper-triangle cross products Σqᵢqⱼ (row-major,
  * d·(d+1)/2 entries) — the sufficient statistics of a covariance /
  * whitening / PCA-prep job.
  *
  * Why a custom [[TypedImperativeAggregate]] (the same SURVEY §4.2
  * aggregation-tier jump as [[TopKPairs]]): the composable formulation
  * explodes each vector into its d·(d+1)/2 (i, j, qᵢqⱼ) terms and hash-
  * aggregates them — a Generate that fans EVERY ROW 2080× before the
  * partial agg can collapse anything (41.6M generated rows at the sf1
  * probe, 12.6 s, one of its top lines). Here the fan-out never
  * materializes: each input row is a tight d²/2 multiply-accumulate
  * into a single flat long array, the partial state per partition is
  * ONE buffer of 1 + d + d·(d+1)/2 longs (~17 KB at d = 64), and the
  * shuffle carries one such buffer per map partition regardless of
  * corpus size. Long addition wraps exactly like the built-in
  * `sum(bigint)` the explode form used, so results are bit-identical.
  */
final class MomentBuffer(val d: Int) {
  val tri: Int = d * (d + 1) / 2
  var n: Long = 0L
  val sums = new Array[Long](d)
  val prods = new Array[Long](tri)
}

case class MomentMatrix(
    child: Expression,
    d: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MomentBuffer] {

  require(d > 0 && d <= 512, s"graft_moments: d must be in [1, 512], got $d")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_moments"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_moments expects array<bigint>, got ${other.simpleString}")
  }

  override def dataType: DataType = new StructType()
    .add("n", LongType, nullable = false)
    .add("s", ArrayType(LongType, containsNull = false), nullable = false)
    .add("p", ArrayType(LongType, containsNull = false), nullable = false)

  override def createAggregationBuffer(): MomentBuffer = new MomentBuffer(d)

  override def update(buf: MomentBuffer, input: InternalRow): MomentBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      // fail fast on irregular inputs: the documented bit-parity with the
      // explode+sum tower holds only for fixed-width non-null vectors —
      // silently truncating a long row or reading a null slot (undefined
      // via getLong) would produce a plausible-looking wrong matrix. The
      // null pre-scan is d bitmask reads per row, noise next to the d²/2
      // multiply-accumulate below.
      if (arr.numElements() != d) throw new IllegalArgumentException(
        s"graft_moments: expected array<bigint> of length $d, " +
          s"got ${arr.numElements()} elements")
      var k = 0
      while (k < d) {
        if (arr.isNullAt(k)) throw new IllegalArgumentException(
          s"graft_moments: null element at index $k (non-null vectors required)")
        k += 1
      }
      buf.n += 1
      var i = 0
      var t = 0
      while (i < d) {
        val qi = arr.getLong(i)
        buf.sums(i) += qi
        var j = i
        while (j < d) {
          buf.prods(t) += qi * arr.getLong(j)
          t += 1
          j += 1
        }
        i += 1
      }
    }
    buf
  }

  override def merge(b1: MomentBuffer, b2: MomentBuffer): MomentBuffer = {
    b1.n += b2.n
    var i = 0
    while (i < b1.d) { b1.sums(i) += b2.sums(i); i += 1 }
    i = 0
    while (i < b1.tri) { b1.prods(i) += b2.prods(i); i += 1 }
    b1
  }

  override def eval(buf: MomentBuffer): Any =
    InternalRow(buf.n,
      new GenericArrayData(buf.sums.clone()),
      new GenericArrayData(buf.prods.clone()))

  override def serialize(buf: MomentBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 8 * (buf.d + buf.tri))
    bb.putLong(buf.n)
    buf.sums.foreach(bb.putLong)
    buf.prods.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MomentBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new MomentBuffer(d)
    buf.n = bb.getLong
    var i = 0
    while (i < buf.d) { buf.sums(i) = bb.getLong; i += 1 }
    i = 0
    while (i < buf.tri) { buf.prods(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MomentMatrix =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MomentMatrix =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MomentMatrix =
    copy(child = newChildren(0))
}
