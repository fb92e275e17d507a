package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Whole-operator custom plan: a native left as-of join.
  *
  * Semantics: for every left row `(k, t, …)`, attach the right row with the
  * same key `k` and the LARGEST right time `rt <= t` (">=", latest-at-or-
  * before — DuckDB `ASOF LEFT JOIN … ON l.k = r.k AND l.t >= r.t`); left
  * rows with no such right row keep null right columns.
  *
  * Why a custom operator (SURVEY.md §4.2 escape-hatch ladder, tier c): the
  * composable formulations both pay avoidable costs at 100 TB scale —
  *   - the union-tag + ordered-window pattern (`Extended.joinAsof`) sorts
  *     the CONCATENATION of both inputs in one range-shuffle and funnels it
  *     through a single Window operator;
  *   - a range-predicate join + per-key max aggregation materializes every
  *     (left, earlier-right) candidate pair before collapsing them.
  * This operator instead asks Catalyst for exactly the layout a merge needs
  * — hash-cluster each side on its key, sort within partitions by
  * (key, time) — and then streams BOTH sides once, per partition, holding
  * ONE buffered right row. No pair blow-up, no combined-stream sort, and
  * the two exchanges it does request are plain hash shuffles that AQE can
  * coalesce. This is the shape native engines (kdb, QuestDB, DuckDB) give
  * their as-of joins.
  *
  * The logical node carries already-resolved children and key/time
  * expressions (the public builder [[GraftOps.asofJoin]] resolves them by
  * column name), so analysis passes through untouched and the injected
  * [[AsOfJoinStrategy]] maps it 1:1 onto [[AsOfJoinExec]].
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def maxRows: Option[Long] = left.maxRows

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy for [[AsOfJoin]] — injected into every session graft
  * builds by [[GraftOps.ensureInjected]], which [[GraftOps.asofJoin]] also
  * calls, so it works on any caller-provided session.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(lk, rk, lt, rt, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Physical as-of join: co-partitioned, co-sorted, single-pass merge.
  *
  * Scale shape: `requiredChildDistribution` hash-clusters each side on its
  * join key (two independent, AQE-coalescable exchanges — there is no
  * union of the inputs), `requiredChildOrdering` sorts within partitions
  * by (key, time), and `doExecute` zips the co-partitioned RDDs and merges
  * each partition pair in O(|left| + |right|) with O(1) state: the single
  * latest right row whose time is at-or-before the current left row. The
  * output preserves the left side's partitioning and ordering, so a
  * downstream per-key aggregation reuses the exchange.
  *
  * Key/time expressions are evaluated as bound references (column reads);
  * the only per-row allocation is one buffered `copy()` of a right row
  * when the match candidate advances.
  */
case class AsOfJoinExec(
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) :: ClusteredDistribution(rightKey :: Nil) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    // copy fields to locals so the task closure never captures the plan
    val lOut = left.output
    val rOut = right.output
    val outTypes = output.map(_.dataType).toArray
    val lKeyExpr = leftKey; val lTimeExpr = leftTime
    val rKeyExpr = rightKey; val rTimeExpr = rightTime
    val keyType = leftKey.dataType
    val timeType = leftTime.dataType

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKey = BindReferences.bindReference(lKeyExpr, lOut)
      val lTime = BindReferences.bindReference(lTimeExpr, lOut)
      val rKey = BindReferences.bindReference(rKeyExpr, rOut)
      val rTime = BindReferences.bindReference(rTimeExpr, rOut)
      val keyOrd = TypeUtils.getInterpretedOrdering(keyType)
      val timeOrd = TypeUtils.getInterpretedOrdering(timeType)
      val nullRight = new GenericInternalRow(rOut.length)
      val joined = new JoinedRow
      val project = UnsafeProjection.create(outTypes)

      new Iterator[InternalRow] {
        private var rRow: InternalRow = if (rIter.hasNext) rIter.next() else null
        // the buffered candidate: latest right row consumed for `candKey`
        private var cand: InternalRow = _
        private var candKey: Any = _

        private def advanceRight(): Unit =
          rRow = if (rIter.hasNext) rIter.next() else null

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lk = lKey.eval(l)
          val lt = lTime.eval(l)
          if (lk == null || lt == null) {
            joined(l, nullRight)
          } else {
            // consume right rows with (key < lk) or (key == lk && time <= lt);
            // the last equal-key one consumed is the as-of match
            var scanning = true
            while (scanning && rRow != null) {
              val rk = rKey.eval(rRow)
              val cmp = if (rk == null) -1 else keyOrd.compare(rk, lk)
              if (cmp < 0) {
                advanceRight() // earlier key (or null key): never matches again
              } else if (cmp == 0) {
                val rt = rTime.eval(rRow)
                if (rt == null || timeOrd.compare(rt, lt) <= 0) {
                  if (rt != null) { cand = rRow.copy(); candKey = rKey.eval(cand) }
                  advanceRight()
                } else {
                  scanning = false // first too-late right row: stop for this left row
                }
              } else {
                scanning = false // right is past lk entirely
              }
            }
            val matched = cand != null && keyOrd.compare(candKey, lk) == 0
            joined(l, if (matched) cand else nullRight)
          }
          project(joined)
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}
