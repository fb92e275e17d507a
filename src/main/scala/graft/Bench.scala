package graft

import scala.util.control.NonFatal

import graft.stages.Stages
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** Benchmark main (driver contract): times every registered query at the
  * scale factor in SPARK_GRAFT_SF_DIR and prints two JSON lines. A short
  * untimed warmup (generic codegen + one small parquet scan) keeps JVM/
  * codegen startup out of the first timed query; queries run in sorted
  * name order for stable reports.
  *
  * De-noising: every query runs TWICE back-to-back in the same JVM and the
  * ledger records the MINIMUM, because single-run timings on a shared host
  * move ±2× between runs of unchanged code. The min-of-2 is the
  * steady-state number a warmed cluster would see; both raw runs are kept
  * in the full ledger file so a run-1-only inflation (GC, async cleanup,
  * page-cache misses) is visible instead of contaminating the headline.
  *
  * Contention evidence: min-of-2 cannot save a run where host contention
  * persists across both back-to-back runs, so the ledger carries evidence
  * that separates engine time from host load WITHOUT a re-run:
  *  - SENTINELS: a fixed single-threaded arithmetic loop (pure CPU, no
  *    allocation, no Spark — host contention shows up directly) and a
  *    fixed Spark range-sum (scheduler+codegen path) are each timed at
  *    run start, midpoint, and end. Inflated sentinels == contaminated
  *    capture; clean sentinels next to a slow query == a real perf bug.
  *  - PER-QUERY WALL-CLOCK OFFSETS (`t0`, seconds since bench start) so a
  *    contention window can be localized to the queries that ran inside it.
  *  - PER-QUERY GC DELTA (`gc_ms`, JVM-wide collection-time growth across
  *    the query's runs) so allocation-pressure inflation is
  *    distinguishable from host load.
  *  - PER-QUERY PEAK TASK MEMORY (`peak_mem_bytes`, max task
  *    peakExecutionMemory seen while the query's runs were in flight;
  *    listener delivery is async so attribution is ~one query boundary
  *    fuzzy).
  *  - A THIRD RUN for any query whose min-of-2 exceeds 3× its prior min
  *    (read from bench_prior.json at the repo root, a clean full ledger
  *    of this benchmark): a transient stall on both runs gets one more
  *    chance to recover before the ledger records a "regression" on
  *    unchanged code. `retried` marks those lines.
  */
object Bench {
  /** Runs per query: min-of-2 is the ledger contract (see the de-noising
    * note above); SPARK_GRAFT_BENCH_ROUNDS=1 exists for the large scale
    * probes, where a single pass keeps a 100× run inside a sane
    * wall-clock budget and the sentinels still flag contamination.
    * The driver never sets it → official ledgers stay min-of-2. */
  private val Rounds = sys.env.get("SPARK_GRAFT_BENCH_ROUNDS").fold(2) { s =>
    // fail loudly on garbage; clamp 0/negative to 1 so the per-query
    // runs vector can never be empty (min-of-empty crashes deep in the
    // query loop with a message that points nowhere near the env var)
    math.max(1, s.trim.toIntOption.getOrElse(
      sys.error(s"SPARK_GRAFT_BENCH_ROUNDS must be a positive integer, got '$s'")))
  }

  /** One timed query, field for field its `queries.<name>` ledger line
    * (keys are the snake_case field names, `twin_of` only when set).
    * `min` is the best successful run, or the best run if all failed;
    * `run_task_cpu_ms` pairs each wall run with its own task CPU, since
    * the aggregate `task_cpu_ms` also sums a cold or stalled run. */
  private[graft] final case class QueryRecord(runs: Seq[Double], min: Double,
    ok: Boolean, t0: Double, gcMs: Long, peakMemBytes: Long, taskRunMs: Long,
    taskCpuMs: Long, taskGcMs: Long, runTaskCpuMs: Seq[Long], retried: Boolean,
    twinOf: Option[String])

  /** One shared-stage build, field for field its
    * `shared_stages_detail.<name>` ledger line. A failed build's `runs`
    * entry is -1.0; cpu/gc belong to the run `min` reports. */
  private[graft] final case class StageRecord(runs: Seq[Double], min: Double,
    taskCpuMs: Long, taskGcMs: Long, gcMs: Long, retried: Boolean,
    twinOf: Option[String])

  /** Seconds taken by the four sentinel workloads at one point of a run. */
  private[graft] final case class Sentinels(cpu: Double, alloc: Double,
    spark: Double, shuffle: Double)

  /** Fixed single-threaded xorshift loop — pure register arithmetic, no
    * allocation, so its wall time moves ONLY with host CPU contention
    * (and frequency), never with JVM heap state. ~0.25 s on a quiet
    * core. */
  private def sentinelCpu(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < 300000000L) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1L
    }
    require(x != 42L) // keep the loop observable (no dead-code elim)
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed Spark job (range → codegen'd sum): exercises the scheduler,
    * whole-stage codegen, and task launch path with a constant amount of
    * work, so scheduler-side contention is visible separately from the
    * raw-CPU sentinel. */
  private def sentinelSpark(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    // modulo keeps the ANSI-mode sum far from long overflow
    spark.range(200000000L).selectExpr("sum(id % 97)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed two-stage shuffle job: covers the exchange write/read path and
    * multi-stage scheduling, the machinery the pure range-sum skips. */
  private def sentinelShuffle(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(4000000L).selectExpr("id % 997 AS k")
      .groupBy("k").count().selectExpr("sum(count)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed fresh-allocation touch (~512 MB in 8 MB chunks, every page
    * written): a host that serves page faults or memory stalls slowly
    * while leaving register arithmetic untouched inflates exactly this
    * sentinel. With AlwaysPreTouch heap pages are pre-faulted, so a clean
    * value here plus a slow query means the slowness is NOT host memory
    * pressure. */
  private def sentinelAlloc(): Double = {
    val t0 = System.nanoTime()
    var keep = 0L
    var i = 0
    while (i < 64) {
      val a = new Array[Byte](8 * 1024 * 1024)
      var j = 0
      while (j < a.length) { a(j) = 1; j += 4096 }
      keep += a(0)
      i += 1
    }
    require(keep != -1L)
    (System.nanoTime() - t0) / 1e9
  }

  private def sentinels(spark: SparkSession): Sentinels =
    Sentinels(sentinelCpu(), sentinelAlloc(), sentinelSpark(spark),
      sentinelShuffle(spark))

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  /** Task-metric accumulation since the last reset: max task
    * peakExecutionMemory, plus summed executor run/CPU/GC time. The
    * run-vs-CPU-vs-wall triangle is the per-query contention discriminator
    * (task_cpu_ms stable across runs + inflated wall == host load,
    * not engine work). Task-end events arrive on the async listener bus,
    * so a query's numbers can absorb a straggler event from its
    * predecessor — approximate by design. */
  private final class TaskMetricListener extends SparkListener {
    val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    val runMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
    val gcMs = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        peak.getAndAccumulate(m.peakExecutionMemory, Math.max(_, _))
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
      }
    }
    def reset(): Unit = { peak.set(0); runMs.set(0); cpuNs.set(0); gcMs.set(0) }
  }

  private implicit val formats: Formats = DefaultFormats

  /** Prior mins from a clean full ledger: `queries.<name>.min`, and the
    * flat `shared_stages` build seconds. A missing or unparsable file just
    * disables the retry heuristics. */
  private def priors(path: String): (Map[String, Double], Map[String, Double]) =
    try {
      val doc = JsonMethods.parse(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
      val mins = (doc \ "queries").extractOpt[Map[String, JValue]].getOrElse(Map.empty)
        .flatMap { case (name, q) => (q \ "min").extractOpt[Double].map(name -> _) }
      (mins, (doc \ "shared_stages").extractOpt[Map[String, Double]].getOrElse(Map.empty))
    } catch { case NonFatal(_) => (Map.empty, Map.empty) }

  /** Capture-time provenance: the commit the working tree was at and
    * whether it was dirty, so a ledger names the code it measured. Dirty
    * is scoped to the ENGINE paths (src/main + build.sbt): a run that
    * writes its ledger into the repo would otherwise mark every later run
    * dirty on its predecessor's output. Failure to run git (not a repo,
    * no binary) degrades to "unknown" rather than failing the bench. */
  private def gitProvenance(): (String, Boolean) =
    try {
      def run(cmd: String*): String = {
        val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes, "UTF-8").trim
        if (p.waitFor() != 0) sys.error(s"git exited nonzero: $out")
        out
      }
      (run("git", "rev-parse", "HEAD"),
        run("git", "status", "--porcelain", "--", "src/main", "build.sbt").nonEmpty)
    } catch { case NonFatal(_) => ("unknown", true) }

  /** The names in a comma-separated env filter; empty (no filter) if unset. */
  private def nameFilter(env: String): Set[String] =
    sys.env.get(env).fold(Set.empty[String])(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  private val NoSentinels: JObject =
    ("cpu" -> -1) ~ ("alloc" -> -1) ~ ("spark" -> -1) ~ ("shuffle" -> -1)

  /** The full ledger file and the two stdout lines, in that order.
    * `queries` holds every timed query in run order, failed ones
    * included; the stdout `queries` maps hold ONLY successes (so a naive
    * sum over them is correct) and failures go in `failed` (the name
    * array) plus `failed_secs`. The headline `value` is the successful
    * mins plus the shared-stage builds. Per-stage detail lives under its
    * own key so the flat `shared_stages` map (what `priors` and
    * run-over-run compares read) never changes shape. `mid` is None
    * when no query ran. */
  private[graft] def render(rounds: Int, sf: String, cpus: Int, hostCpus: Int,
      head: String, dirty: Boolean, start: Sentinels, mid: Option[Sentinels],
      end: Sentinels, cachedBytes: Long, stages: Seq[(String, StageRecord)],
      queries: Seq[(String, QueryRecord)], ledgerPath: String): (String, String, String) = {
    def record(r: AnyRef): JValue = Extraction.decompose(r).snakizeKeys
    def secs(rs: Seq[(String, Double)]): JObject = JObject(rs.map { case (k, v) => k -> JDouble(v) }.toList)
    val ok = queries.collect { case (n, q) if q.ok => n -> q.min }
    val failed = queries.collect { case (n, q) if !q.ok => n -> q.min }
    val failedNames = failed.map(_._1)
    val shared = secs(stages.map { case (n, s) => n -> s.min })
    val lead = ("metric" -> "total") ~ ("value" -> (ok.map(_._2).sum + stages.map(_._2.min).sum)) ~
      ("unit" -> "sec") ~ ("runs_per_query" -> rounds)
    val sentinelsJson = ("start" -> record(start)) ~ ("mid" -> mid.fold[JValue](NoSentinels)(record)) ~
      ("end" -> record(end))
    val ledger = lead ~ ("n_queries" -> ok.size) ~ ("sf" -> sf) ~ ("cpus" -> cpus) ~
      ("host_cpus" -> hostCpus) ~ ("head" -> head) ~ ("dirty" -> dirty) ~
      ("sentinels" -> sentinelsJson) ~ ("cached_bytes_after_prewarm" -> cachedBytes) ~
      ("shared_stages" -> shared) ~
      ("shared_stages_detail" -> JObject(stages.map { case (n, s) => n -> record(s) }.toList)) ~
      ("failed" -> failedNames) ~ ("failed_secs" -> secs(failed)) ~
      ("queries" -> JObject(queries.map { case (n, q) => n -> record(q) }.toList))
    val full = lead ~ ("queries" -> secs(ok)) ~ ("shared_stages" -> shared) ~
      ("failed" -> failedNames) ~ ("failed_secs" -> secs(failed)) ~ ("sf" -> sf)
    // the full line outgrows harnesses that keep only a short output tail
    // (2000 bytes; ~115 queries is ~4 KB, which truncates the headline
    // out of the record), so a compact, complete summary comes LAST: same
    // schema, "queries" limited to the slowest 20
    val summary = lead ~ ("n_queries" -> ok.size) ~ ("queries" -> secs(ok.sortBy(-_._2).take(20))) ~
      ("shared_stages" -> shared) ~ ("failed" -> failedNames) ~
      ("sentinels" -> sentinelsJson) ~ ("host_cpus" -> hostCpus) ~ ("head" -> head) ~
      ("dirty" -> dirty) ~ ("ledger" -> ledgerPath) ~ ("sf" -> sf)
    (JsonMethods.compact(ledger), JsonMethods.compact(full), JsonMethods.compact(summary))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (gitHead, gitDirty) = gitProvenance()
    if (gitDirty)
      System.err.println("[bench] WARNING: src/main or build.sbt differs from " +
        "HEAD (or git is unavailable); the ledger's head does not name the " +
        "measured code")
    val hostCpus = Runtime.getRuntime.availableProcessors
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(hostCpus)(_.toInt)
    val spark = GraftSession.local(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")
    val memListener = new TaskMetricListener
    spark.sparkContext.addSparkListener(memListener)
    // untimed warmup: codegen pipeline + parquet reader + shuffle
    // machinery; the catalog read also resolves lineitem's schema (Tables)
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    Tables.lineitem(spark, sfDir).limit(10).collect()
    val benchT0 = System.nanoTime()
    def offset(): Double = (System.nanoTime() - benchT0) / 1e9
    val sentStart = sentinels(spark)
    val (prior, stagePrior) = priors(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR", "bench_prior.json"))
    // memoized shared stages (shingle set, MinHash estimates, SimHash
    // sketch, ngram pairs, PPJoin pairs) are built and timed ONCE up front
    // as their own ledger lines: otherwise whichever dedup-family query
    // runs first pays the whole build, and unchanged queries appear to
    // regress whenever registration order shifts.
    //
    // A build >3× its prior is EVICTED (the full builder re-runs,
    // intermediates included) and rebuilt once, so a host stall inside a
    // one-shot build is not recorded as a regression; a real regression
    // keeps its inflated min on both attempts. A failed stage drops only
    // its ledger line (earlier stages keep theirs); only a FATAL error
    // escapes, and then the JVM is not worth salvaging.
    //
    // SPARK_GRAFT_BENCH_STAGES_ONLY (dev loop, like BENCH_ONLY below)
    // builds just the named stages. List a stage's upstream deps
    // explicitly (e.g. "shingle_sets,ppjoin_pairs"): an unlisted
    // dependency is built lazily INSIDE the first consumer's timing and
    // bills there, the attribution noise the stage lines exist to prevent.
    val stagesOnly = nameFilter("SPARK_GRAFT_BENCH_STAGES_ONLY")
    val stageRecords = Stages.list(spark, sfDir)
      .filter(st => stagesOnly.isEmpty || stagesOnly(st.name))
      .flatMap { st =>
        // each build snapshots the listener counters around ITSELF, so a
        // retried stage's cpu/gc belong to the same run its `min` reports
        def buildOnce(): Option[StageRecord] = {
          memListener.reset()
          val gc0 = gcMillis()
          val t0 = System.nanoTime()
          try {
            st.build().count()
            val sec = (System.nanoTime() - t0) / 1e9
            Some(StageRecord(Seq(sec), sec, memListener.cpuNs.get() / 1000000L,
              memListener.gcMs.get(), gcMillis() - gc0, retried = false, st.twinOf))
          } catch {
            case NonFatal(e) =>
              System.err.println(s"[bench] shared stage ${st.name} failed: ${e.getMessage}")
              None
          }
        }
        // the memo entries the first build adds are the ones a retry must
        // evict, or the rebuild re-times only the cheap tail of the stage
        val before = Stages.keys(spark)
        var runs = Vector(buildOnce())
        val populated = Stages.keys(spark) -- before
        val retried = (runs.head, stagePrior.get(st.name)) match {
          case (Some(r), Some(p)) if r.min > 3.0 * p =>
            Stages.evict(spark, populated)
            runs :+= buildOnce()
            true
          case _ => false
        }
        // a failed rebuild after a successful first build is fine: min
        // falls back to the first (cached) build's time and the next
        // accessor call repopulates the evicted cache lazily
        runs.flatten.minByOption(_.min).map(best =>
          st.name -> best.copy(runs = runs.map(_.fold(-1.0)(_.min)), retried = retried))
      }
    // block-manager snapshot right after prewarm: how much storage the
    // stage builds pinned, next to the first queries they may slow down
    val cachedBytes = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, remaining) => max - remaining }.sum
    // SPARK_GRAFT_BENCH_ONLY="a,b,c" (dev loop) times just those queries
    val only = nameFilter("SPARK_GRAFT_BENCH_ONLY")
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    val midIdx = selected.size / 2
    var sentMid = Option.empty[Sentinels]
    val queryRecords = selected.zipWithIndex.map { case ((name, fn), idx) =>
      if (idx == midIdx) sentMid = Some(sentinels(spark))
      val t0Off = offset()
      val gc0 = gcMillis()
      memListener.reset()
      val runCpu = scala.collection.mutable.ArrayBuffer.empty[Long]
      // a noop-format write executes the FULL plan (final sorts and
      // projections included); a count() would let Catalyst prune them
      def runOnce(): (Double, Boolean) = {
        val cpu0 = memListener.cpuNs.get()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case NonFatal(_) => false }
        val sec = (System.nanoTime() - t0) / 1e9
        // listener delivery is async; give stragglers a moment so the
        // per-run split stays attributable (same caveat as peak_mem)
        Thread.sleep(30)
        runCpu += (memListener.cpuNs.get() - cpu0) / 1000000L
        (sec, ok)
      }
      var runs = (1 to Rounds).map(_ => runOnce())
      def minGood(rs: Seq[(Double, Boolean)]): Option[Double] = {
        val good = rs.collect { case (s, true) => s }
        if (good.nonEmpty) Some(good.min) else None
      }
      // a min-of-2 still 3x over the prior min is far more often a
      // persistent contention window than a real regression (10-35x
      // inflations measured on unchanged code): ONE more run lets a
      // transient stall recover; a real regression stays slow and keeps
      // its inflated min honestly
      val retried = prior.get(name) match {
        case Some(p) if minGood(runs).exists(_ > 3.0 * p) =>
          runs = runs :+ runOnce(); true
        case _ => false
      }
      name -> QueryRecord(runs.map(_._1), minGood(runs).getOrElse(runs.map(_._1).min),
        minGood(runs).isDefined, math.rint(t0Off * 1000) / 1000, gcMillis() - gc0,
        memListener.peak.get(), memListener.runMs.get(),
        memListener.cpuNs.get() / 1000000L, memListener.gcMs.get(), runCpu.toSeq,
        retried, SparkEntry.twinOf.get(name))
    }
    val sentEnd = sentinels(spark)
    // the FULL ledger goes to a file, because a driver capture keeps only
    // a ~2 KB stdout tail: every raw run (not just the min), the stage
    // builds, the post-prewarm storage snapshot and the contention evidence
    val ledgerPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_LEDGER", "bench_full.json")
    val (ledger, full, summary) = render(Rounds, sfDir, cpus, hostCpus, gitHead,
      gitDirty, sentStart, sentMid, sentEnd, cachedBytes, stageRecords,
      queryRecords, ledgerPath)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(ledgerPath), ledger)
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] ledger write failed: ${e.getMessage}") }
    println(full)
    println(summary)
    spark.stop()
  }
}
