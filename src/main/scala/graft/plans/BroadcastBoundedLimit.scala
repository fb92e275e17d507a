package graft.plans

import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: broadcast a join side that is PROVABLY small.
  *
  * Catalyst's stats-based broadcast decision keys off estimated
  * `sizeInBytes`, which at 100 TB is routinely disabled (thresholds set to
  * -1 because file-size stats lie after filters) or wrong (a `LIMIT 10` of
  * a petabyte table still inherits a huge estimate pre-AQE on some paths).
  * But `LogicalPlan.maxRows` is not an estimate — a `Sort + Limit k` side
  * is GUARANTEED to produce at most k rows, independent of input scale.
  * Top-k-dimension joins ("the 10 biggest orders against the fact table")
  * are exactly the shape where a sort-merge plan pays a full fact shuffle
  * for nothing.
  *
  * The rule adds a BROADCAST hint to any inner-join side whose `maxRows`
  * is at most [[BroadcastBoundedLimit.MaxRowsToBroadcast]], leaving joins
  * that already carry any hint untouched (which also makes the rule
  * idempotent across optimizer fixpoint iterations). Planning legality
  * stays with JoinSelection — a hint it cannot honor is ignored, never
  * wrong.
  *
  * Injected into every session graft builds, root or derived, through
  * `experimental.extraOptimizations` ([[GraftOps.ensureInjected]]), so a
  * query is planned with it whatever ran before.
  */
object BroadcastBoundedLimit extends Rule[LogicalPlan] {
  /** 1000 rows of any realistic dimension payload is well under a megabyte
    * — orders of magnitude below any sane broadcast budget. */
  val MaxRowsToBroadcast = 1000L

  private def bounded(p: LogicalPlan): Boolean =
    p.maxRows.exists(_ <= MaxRowsToBroadcast)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(l, r, Inner, _, JoinHint.NONE) if bounded(l) || bounded(r) =>
      val hint = JoinHint(
        if (bounded(l)) Some(HintInfo(Some(BROADCAST))) else None,
        if (bounded(r)) Some(HintInfo(Some(BROADCAST))) else None)
      j.copy(hint = hint)
  }
}
