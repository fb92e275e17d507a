package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructType}

/** Bounded top-k buffer: two parallel unboxed long arrays kept sorted by
  * (sort_val DESC, tie_val ASC). The per-row path is a bounds check plus
  * a binary-search insert (an O(k) `arraycopy`, no allocation, no boxing,
  * no comparator dispatch) — the cost that dominates a
  * TypedImperativeAggregate at a billion rows per group, where the
  * original sort-per-row formulation paid O(k log k) boxed comparisons
  * and two tuple allocations on every accepted row.
  */
final class TopKBuffer(val k: Int) {
  val sorts = new Array[Long](k)
  val ties = new Array[Long](k)
  var size: Int = 0

  // total order: sort DESC, tie ASC. true iff (s, t) sorts BEFORE slot i.
  @inline private def before(s: Long, t: Long, i: Int): Boolean =
    s > sorts(i) || (s == sorts(i) && t < ties(i))

  def insert(s: Long, t: Long): Unit = {
    if (size == k && !before(s, t, k - 1)) return
    // binary search for the first slot the pair sorts before
    var lo = 0
    var hi = size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (before(s, t, mid)) hi = mid else lo = mid + 1
    }
    val last = if (size < k) size else k - 1
    System.arraycopy(sorts, lo, sorts, lo + 1, last - lo)
    System.arraycopy(ties, lo, ties, lo + 1, last - lo)
    sorts(lo) = s
    ties(lo) = t
    if (size < k) size += 1
  }
}

/** Custom aggregate function (`graft_topk(sort_val, tie_val, k)`): the
  * top-k (sort_val, tie_val) pairs per group, ordered by sort_val DESC
  * with tie_val ASC as the total tie-break.
  *
  * Why a custom [[TypedImperativeAggregate]] (the aggregation tier of the
  * SURVEY §4.2 escape-hatch ladder): the composable top-k-per-group
  * formulations either sort every group row under a Window
  * (`row_number() <= k` — WindowGroupLimit prunes some of it, but the
  * plan still shuffles and sorts FULL rows) or collect whole groups
  * (`slice(sort_array(collect_list(...)))` — unbounded agg state). This
  * aggregate carries AT MOST k pairs of longs per group at every stage:
  * the partial (map-side) aggregate already truncates to k, so the
  * shuffle moves `O(groups × k)` longs no matter how many rows a group
  * has — the property that matters when one group holds a billion rows.
  * State is bounded, merges are k-bounded, and the result is a sorted
  * `array<struct<sort_val, tie_val>>` whose order is total and therefore
  * deterministic under any partitioning.
  */
case class TopKPairs(
    sortExpr: Expression,
    tieExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  require(k > 0 && k <= 1024, s"graft_topk: k must be in [1, 1024], got $k")

  override def children: Seq[Expression] = Seq(sortExpr, tieExpr)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_topk"

  override def checkInputDataTypes(): TypeCheckResult =
    if (sortExpr.dataType == LongType && tieExpr.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_topk expects (bigint, bigint, int literal), got " +
        s"(${sortExpr.dataType.simpleString}, ${tieExpr.dataType.simpleString})")

  override def dataType: DataType = ArrayType(new StructType()
    .add("sort_val", LongType, nullable = false)
    .add("tie_val", LongType, nullable = false), containsNull = false)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = sortExpr.eval(input)
    val t = tieExpr.eval(input)
    if (s != null && t != null)
      buf.insert(s.asInstanceOf[Long], t.asInstanceOf[Long])
    buf
  }

  override def merge(b1: TopKBuffer, b2: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < b2.size) { b1.insert(b2.sorts(i), b2.ties(i)); i += 1 }
    b1
  }

  override def eval(buf: TopKBuffer): Any = {
    val rows = new Array[Any](buf.size)
    var i = 0
    while (i < buf.size) { rows(i) = InternalRow(buf.sorts(i), buf.ties(i)); i += 1 }
    new GenericArrayData(rows)
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putLong(buf.sorts(i)); bb.putLong(buf.ties(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKBuffer(k)
    // serialized buffers are already sorted — append in order, still O(n)
    // through insert since each element lands at the end (lo == size)
    var i = 0
    while (i < n) { buf.insert(bb.getLong, bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKPairs =
    copy(sortExpr = newChildren(0), tieExpr = newChildren(1))
}
