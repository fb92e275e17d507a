package graft.plans

import graft.functions._
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Public entry points for the custom Catalyst pieces. */
object GraftOps {

  /** `fn`'s argument `arg` as an `Int`. It must be a literal: a kernel's
    * shape (gram length, dimension, table count) is fixed at analysis. A
    * foldable null (`CAST(NULL AS INT)`) gets the same usable error as a
    * non-literal, not a raw NPE. */
  private def intLiteral(fn: String, arg: String, e: Expression): Int = e match {
    case x if x.foldable => x.eval() match {
      case n: Number => n.intValue()
      case _ => throw new IllegalArgumentException(
        s"$fn: $arg must be a non-null integer literal")
    }
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a literal, got $other")
  }

  /** Every graft SQL function with a fixed definition, by name. A new
    * kernel is one entry here; [[ensureInjected]] puts all of them into
    * every session. (`graft_bloom_*` probes carry per-dataset filter bytes
    * and are registered by [[BloomMightContain.buildAndRegister]].) The
    * aggregates (`graft_moments`, `graft_topk`) build the raw
    * `AggregateFunction`: the analyzer wraps it in an
    * `AggregateExpression`, as for builtin `max`. */
  val functions: Seq[(String, FunctionBuilder)] = Seq(
    ("graft_char_counts", e => CharCounts(e(0))),
    ("graft_dot", e => FixedPointDotProduct(e(0), e(1))),
    ("graft_gram_hashes", e =>
      GramHashes(e(0), intLiteral("graft_gram_hashes", "k", e(1)))),
    ("graft_gram_hashes60", e =>
      GramHashes60(e(0), intLiteral("graft_gram_hashes60", "k", e(1)))),
    ("graft_icount_sorted", e => SortedIntersectCount(e(0), e(1))),
    ("graft_l2sq", e => L2SquaredDistance(e(0), e(1))),
    ("graft_moments", e => MomentMatrix(e(0), intLiteral("graft_moments", "d", e(1)))),
    ("graft_normalize_text", e => NormalizeText(e(0))),
    ("graft_phash256", e => Phash256(e(0))),
    ("graft_srp_keys", e => SrpBucketKeys(e(0),
      intLiteral("graft_srp_keys", "tables", e(1)), intLiteral("graft_srp_keys", "bits", e(2)))),
    ("graft_topk", e => TopKPairs(e(0), e(1), intLiteral("graft_topk", "k", e(2)))),
    ("graft_winnow_positions", e =>
      WinnowPositions(e(0), intLiteral("graft_winnow_positions", "w", e(1)))))

  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, 100 by default) that
    * [[ensureInjected]] sizes once per JVM: the next power of two above
    * the 3,230 classes a full `graft.Bench` run over sf0.01 at `local[4]`
    * compiles under a cache that evicts nothing (warmup 8, stage builds
    * 494, the first runs of the 250 queries 2,728). Under the default 100
    * a query's classes were evicted before its next run, and every later
    * run compiled them again. A later run may still compile a class that
    * differs from a cached one only in its name: adaptive execution
    * numbers whole-stage codegen stages in the order their query stages
    * are planned, which can change from run to run, and the stage id is
    * part of the generated class name (17–19 queries, 112–138 classes in
    * the second runs of a full `graft.Bench` run at sf0.01). */
  val CodegenCacheEntries = 4096

  private var codegenSized = false

  /** Idempotently wire the graft strategy, optimizer rule and
    * [[functions]] into an already-built session, through
    * `spark.experimental` and the session's function registry. Neither is
    * copied by `newSession()`, so `GraftSession.local` and
    * `GraftSession.derived` call this on every session they return; call
    * it yourself only on a session graft did not build.
    *
    * The first call in a JVM also sizes Spark's generated-class cache to
    * [[CodegenCacheEntries]], or to the session's own
    * `spark.sql.codegen.cache.maxEntries` when it sets one. That conf is
    * static: `CodeGenerator` reads it once, through `SQLConf.get`, when it
    * is first used, so this call initializes `CodeGenerator` under a conf
    * carrying the size. If the JVM generated code before graft's first
    * session (a query on a session graft did not build and never passed
    * here), the cache already has its size and the call changes nothing. */
  def ensureInjected(spark: SparkSession): Unit = synchronized {
    if (!codegenSized) {
      codegenSized = true
      val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
      val conf = new SQLConf
      conf.setConfString(key,
        spark.sessionState.conf.getConfString(key, CodegenCacheEntries.toString))
      SQLConf.withExistingConf(conf)(CodeGenerator.compileTime)
    }
    val em = spark.experimental
    if (!em.extraStrategies.contains(AsOfJoinStrategy))
      em.extraStrategies = em.extraStrategies :+ AsOfJoinStrategy
    if (!em.extraOptimizations.contains(BroadcastBoundedLimit))
      em.extraOptimizations = em.extraOptimizations :+ BroadcastBoundedLimit
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
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
