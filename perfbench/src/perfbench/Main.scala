package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.SparkEntry
import graft.operators.DedupOps

/** Benchmark loop for one workload in one JVM.
  *
  * Closed loop: one session at `local[cpus]`, one client, one query at a
  * time. Phases, in order:
  *  1. setup: the session part (session, extension injection, warmup)
  *     [[SetupReps]] times, each in a new SparkContext, then the
  *     `--stages` shared-stage builds once, in the last session;
  *  2. a first pass over the queries in a seeded order;
  *  3. later passes, each in a fresh seeded order, until `--seconds`
  *     have passed and at least three later passes ran.
  *  Every timed pass sends each result to a `noop` write, so every query
  *  runs in full and nothing else is timed;
  *  4. untimed check passes: the first writes each oracle-backed result
  *     as parquet (as `graft.Verify` does) for the DuckDB compare, and
  *     both collect and hash each result of a query without an oracle;
  *     the two hashes must agree.
  * With `--trace 1` later passes alternate untraced and traced, so one run
  * gives both the layer split and the tracing overhead. A query that
  * throws is recorded by name as failed and the loop goes on.
  * A host-speed probe ([[Calibrate]]) runs before setup, after it and
  * after every timed pass; the CPU share the hypervisor stole ([[Steal]])
  * is read over setup and over every timed pass.
  *
  * Writes one JSON document to `--out`/result.json; `perfbench/run.py`
  * turns it into metrics. */
object Main {
  private def argMap(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  /** The session confs of `graft.Bench`, plus local scratch paths. */
  def confs(cpus: Int, scratch: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.files.openCostInBytes" -> (128L * 1024).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.ui.retainedExecutions" -> "50",
    "spark.ui.retainedJobs" -> "100",
    "spark.ui.retainedStages" -> "100",
    "spark.ui.retainedTasks" -> "1000",
    "spark.sql.streaming.numRecentProgressUpdates" -> "10",
    "spark.local.dir" -> s"$scratch/local",
    "spark.sql.warehouse.dir" -> s"$scratch/warehouse")

  /** Setup runs this often so its median is steady; the first one also
    * pays JVM class loading and JIT warm-up. */
  val SetupReps = 5

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def sha256(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Order-insensitive content hash of a collected result. */
  def resultHash(rows: Array[Row]): String = sha256(rows.map(_.toString).sorted.toSeq)

  def main(args: Array[String]): Unit = {
    val a = argMap(args)
    if (a.contains("list-queries")) {
      Files.writeString(Paths.get(a("list-queries")),
        SparkEntry.queries.keys.toSeq.sorted.mkString("\n") + "\n")
      return
    }
    val mainStart = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors
    // host-speed probes: before setup, after it, and after every timed pass
    val probes = ArrayBuffer(Calibrate.probe(cpus, a("probe-cp")))
    val probed = System.nanoTime() - mainStart
    // stolen CPU share during setup, then during each timed pass
    val steal = ArrayBuffer.empty[Double]
    var stealMark = Steal.read()
    val workload = a("workload")
    val selected = a("queries").split(",").toSet
    val dir = a("data")
    val out = a("out")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val stages = a.getOrElse("stages", "").split(",").filter(_.nonEmpty).toSet
    val conf = confs(cpus, a("scratch"))

    val queries = SparkEntry.queries.toSeq.filter { case (n, _) => selected(n) }.sortBy(_._1)
    val unknown = selected -- queries.map(_._1)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(", ")}")

    // ---- 1. setup: the session part repeated, then the stage builds ----
    var spark: SparkSession = null
    val sessionSecs = ArrayBuffer.empty[Double]
    val stageSecs = ArrayBuffer.empty[(String, Double)]
    Trace.on = traced
    for (rep <- 0 until SetupReps) {
      if (spark != null) { spark.stop(); Trace.sc = null }
      val t0 = if (rep == 0) mainStart + probed else System.nanoTime()
      Trace.traceId = s"$workload/setup$rep/"
      spark = Trace.span("session") {
        val b = SparkSession.builder()
        conf.foreach { case (k, v) => b.config(k, v) }
        b.getOrCreate()
      }
      Trace.sc = spark.sparkContext
      spark.sparkContext.setLogLevel("ERROR")
      spark.sparkContext.addSparkListener(new Listeners.Jobs)
      spark.listenerManager.register(new Listeners.Executions)
      Trace.span("inject") { graft.plans.GraftOps.ensureInjected(spark) }
      Trace.span("warmup") {
        spark.range(1000000).selectExpr("sum(id * 2)").collect()
        spark.read.parquet(s"$dir/lineitem.parquet").limit(10).collect()
      }
      sessionSecs += secsSince(t0)
    }
    // shared stages, in the library's dependency order
    DedupOps.sharedStageList(spark, dir).filter(st => stages(st.name)).foreach { st =>
      val s0 = System.nanoTime()
      Trace.span(s"stage.${st.name}") { st.build().count() }
      stageSecs += st.name -> secsSince(s0)
    }
    val missing = stages -- stageSecs.map(_._1)
    require(missing.isEmpty, s"not in DedupOps.sharedStageList: ${missing.mkString(", ")}")
    val sc = spark.sparkContext
    def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)
    val cacheMb = sc.getExecutorMemoryStatus.values.map { case (m, r) => m - r }.sum / 1048576.0
    drain()
    Listeners.batchMs.clear()

    // ---- 2 + 3. first pass, then later passes ----
    final case class Q(name: String, wall: Double, error: String)
    final case class Pass(index: Int, traced: Boolean, wall: Double,
        queries: Seq[Q], compiles: Long, compileS: Double, gcS: Double,
        newPersists: Int, batchMs: Seq[Double], counters: Map[String, Double],
        spans: Seq[Span], tasks: Seq[(Long, Long)])
    val passes = ArrayBuffer.empty[Pass]
    steal += Steal.shareSince(stealMark)
    probes += Calibrate.probe(cpus, a("probe-cp"))
    def errorOf(e: Throwable): String =
      s"${e.getClass.getSimpleName}: ${e.getMessage}".linesIterator.nextOption().getOrElse("")
    val rng = new scala.util.Random(seed)
    val loopStart = System.nanoTime()
    var p = 0
    while (p < 4 || secsSince(loopStart) - passes.head.wall < seconds) {
      // first pass traced; later passes alternate untraced / traced
      val tracedPass = traced && p % 2 == 0
      Trace.on = tracedPass
      Trace.spans.clear(); Listeners.tasks.clear(); Listeners.clearPhases()
      val persisted0 = sc.getPersistentRDDs.keySet
      val counters0 = Listeners.counters.snapshot()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compile0 = CodeGenerator.compileTime
      val gc0 = gcSeconds()
      val batches0 = Listeners.batchMs.size
      val order = rng.shuffle(queries)
      stealMark = Steal.read()
      val t0 = System.nanoTime()
      val qs = order.map { case (name, fn) =>
        Trace.traceId = s"$workload/$p/$name"
        val q0 = System.nanoTime()
        val error =
          try {
            Trace.span("query") {
              val df = Trace.span("construct") { fn(spark, dir) }
              if (tracedPass) Listeners.recordPhases(df.queryExecution)
              Trace.span("execute") { df.write.format("noop").mode("overwrite").save() }
            }
            ""
          } catch { case NonFatal(e) => errorOf(e) }
        val wall = secsSince(q0)
        if (tracedPass) drain()
        Q(name, wall, error)
      }
      val wall = secsSince(t0)
      steal += Steal.shareSince(stealMark)
      drain()
      val c1 = Listeners.counters.snapshot()
      passes += Pass(p, tracedPass, wall, qs,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
        (CodeGenerator.compileTime - compile0) / 1e9, gcSeconds() - gc0,
        (sc.getPersistentRDDs.keySet -- persisted0).size,
        Listeners.batchMs.asScala.drop(batches0).map(_.doubleValue).toSeq,
        c1.map { case (k, v) => k -> (v - counters0(k)) },
        Trace.spans.asScala.toSeq ++ attributePhases(), Listeners.tasks.asScala.toSeq)
      probes += Calibrate.probe(cpus, a("probe-cp"))
      p += 1
    }
    Trace.on = false
    // live heap: what stays reachable after full collections. The pauses
    // let Spark's ContextCleaner drop blocks of collected RDDs, broadcasts
    // and shuffles, which only the next collection frees.
    val heapLiveMb = Seq.fill(5) { System.gc(); Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }.min

    // ---- 4. untimed check passes ----
    val oracles = SparkEntry.oracleSql.filter { case (n, _) => selected(n) }
    val hashes = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[String]]
    val checked = ArrayBuffer.empty[String]
    val checkErrors = ArrayBuffer.empty[(String, String)]
    for (c <- 0 until 2; (name, fn) <- queries if c == 0 || !oracles.contains(name)) {
      checked += name
      try {
        val df = fn(spark, dir)
        if (oracles.contains(name)) df.coalesce(1).write.mode("overwrite").parquet(s"$out/verify/$name")
        else hashes.getOrElseUpdate(name, ArrayBuffer.empty) += resultHash(df.collect())
      } catch { case NonFatal(e) => checkErrors += name -> errorOf(e) }
    }

    val kernels = if (traced) Kernels.nsPerRow(spark, dir) else Seq.empty
    drain()
    spark.stop()

    import Json._
    val doc = obj(
      "workload" -> str(workload), "seed" -> num(seed), "cpus" -> num(cpus.toLong),
      "confs" -> obj(conf.map { case (k, v) => k -> str(v) }: _*),
      "queries" -> arr(queries.map(q => str(q._1))),
      "session_s" -> arr(sessionSecs.map(num)),
      "probe_s" -> arr(probes.map(pr => num(pr._1))),
      "probe_jvm_cpu_s" -> arr(probes.map(pr => num(pr._2))),
      "steal" -> arr(steal.map(num)),
      "stage_builds" -> arr(stageSecs.map { case (n, s) => arr(Seq(str(n), num(s))) }),
      "cache_mb" -> num(cacheMb), "heap_live_mb" -> num(heapLiveMb),
      "passes" -> arr(passes.map { ps => obj(
        "index" -> num(ps.index), "traced" -> bool(ps.traced), "wall_s" -> num(ps.wall),
        "codegen_compiles" -> num(ps.compiles), "codegen_compile_s" -> num(ps.compileS),
        "gc_s" -> num(ps.gcS), "new_persists" -> num(ps.newPersists),
        "batch_ms" -> arr(ps.batchMs.map(num)),
        "counters" -> obj(ps.counters.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }: _*),
        "queries" -> arr(ps.queries.map(q => obj("name" -> str(q.name),
          "wall_s" -> num(q.wall), "error" -> str(q.error)))),
        "spans" -> arr(ps.spans.map(s => arr(Seq(num(s.id), num(s.parent), str(s.name),
          str(s.trace), num(s.start), num(s.end))))),
        "tasks" -> arr(ps.tasks.map { case (s, e) => arr(Seq(num(s), num(e))) }))
      }),
      "oracle_sql" -> obj(oracles.toSeq.sortBy(_._1).map { case (k, v) => k -> str(v) }: _*),
      "checked" -> arr(checked.map(str)),
      "check_errors" -> arr(checkErrors.map { case (n, e) => arr(Seq(str(n), str(e))) }),
      "hashes" -> obj(hashes.map { case (k, v) => k -> arr(v.map(str)) }.toSeq: _*),
      "kernels_ns_per_row" -> obj(kernels.map { case (k, v) => k -> num(v) }: _*))
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(s"$out/result.json"), doc)
  }

  /** Catalyst phase records become children of the main-thread span (construct
    * or execute) whose interval holds them. */
  private def attributePhases(): Seq[Span] = {
    val holders = Trace.spans.asScala.filter(s => s.name == "construct" || s.name == "execute").toSeq
    Listeners.phases.asScala.toSeq.flatMap { case (name, s, e) =>
      holders.find(h => h.start <= s + 1000 && e <= h.end + 1000)
        .map(h => Span(Trace.newId(), h.id, name, h.trace, s, e))
    }
  }
}

/** Minimal JSON writer (strings, numbers, booleans, arrays, objects). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def num(v: Long): String = v.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
