package graft.plans

import graft.functions.FixedPointDotProduct
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}

/** Config-time registration of every graft Catalyst extension, for users
  * who own the session's `SparkSession.Builder`:
  *
  * {{{
  * builder.withExtensions(new GraftSparkExtensions)   // or:
  * builder.config("spark.sql.extensions", "graft.plans.GraftSparkExtensions")
  * }}}
  *
  * Queries running inside a session someone ELSE built (the driver's
  * Verify/Bench harness, a shared notebook session) get the same pieces
  * injected at first use through [[GraftOps.ensureInjected]] — both paths
  * register the identical strategy/rule objects, so double registration is
  * harmless and order-independent.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => BroadcastBoundedLimit)
  }
}

/** Public entry points for the custom Catalyst pieces. */
object GraftOps {

  /** Idempotently wire the graft strategy + optimizer rule into an
    * already-constructed session via `ExperimentalMethods` — the public,
    * runtime-mutable extension point (`spark.experimental`). */
  def ensureInjected(spark: SparkSession): Unit = synchronized {
    val em = spark.experimental
    if (!em.extraStrategies.contains(AsOfJoinStrategy))
      em.extraStrategies = em.extraStrategies :+ AsOfJoinStrategy
    if (!em.extraOptimizations.contains(BroadcastBoundedLimit))
      em.extraOptimizations = em.extraOptimizations :+ BroadcastBoundedLimit
    FixedPointDotProduct.register(spark)
    graft.functions.L2SquaredDistance.register(spark)
    graft.functions.TopKPairs.register(spark)
    graft.functions.Phash256.register(spark)
    graft.functions.MomentMatrix.register(spark)
    graft.functions.CharCounts.register(spark)
    graft.functions.GramHashes.register(spark)
  }

  /** Left as-of join (see [[AsOfJoin]] for semantics and the scale
    * rationale): every left row picks up the right row with equal
    * `rightKeyCol` and the latest `rightTimeCol <= leftTimeCol`, or nulls.
    *
    * Key/time columns are resolved by name against each side's analyzed
    * output, so pre-project computed keys before calling. Column names in
    * the two outputs should be disjoint (as with any Spark join, duplicate
    * names make downstream selection ambiguous); the key and time columns
    * must have identical types on both sides.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      leftKeyCol: String,
      rightKeyCol: String,
      leftTimeCol: String,
      rightTimeCol: String): DataFrame = {
    val spark = left.sparkSession
    ensureInjected(spark)
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, name: String) =
      plan.output.find(a => spark.sessionState.conf.resolver(a.name, name)).getOrElse(
        throw new IllegalArgumentException(
          s"asofJoin: no column '$name' in [${plan.output.map(_.name).mkString(", ")}]"))
    val lk = attr(lPlan, leftKeyCol); val rk = attr(rPlan, rightKeyCol)
    val lt = attr(lPlan, leftTimeCol); val rt = attr(rPlan, rightTimeCol)
    require(lk.dataType == rk.dataType,
      s"asofJoin: key types differ (${lk.dataType.simpleString} vs ${rk.dataType.simpleString})")
    require(lt.dataType == rt.dataType,
      s"asofJoin: time types differ (${lt.dataType.simpleString} vs ${rt.dataType.simpleString})")
    Bridge.ofRows(spark, AsOfJoin(lPlan, rPlan, lk, rk, lt, rt))
  }
}
