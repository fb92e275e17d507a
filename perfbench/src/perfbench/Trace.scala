package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are microseconds since the run started, on
  * one clock for main-thread spans (`System.nanoTime`) and listener events
  * (epoch milliseconds). `trace` is `workload/pass/query`. */
final case class Span(id: Long, parent: Long, name: String, trace: String,
    start: Long, end: Long)

/** In-memory span recorder. Spans come only from the benchmark's own
  * code: [[span]] wraps calls into the library on the main thread, and
  * [[Listeners]] adds child spans for jobs, stages, streaming batches and
  * Catalyst phases. Everything is kept in memory and written once. */
object Trace {
  @volatile var on = false
  @volatile var traceId = ""
  @volatile var sc: SparkContext = _
  /** Innermost open main-thread span; parent of listener spans that carry none. */
  @volatile var current = 0L

  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)
  private val t0Nano = System.nanoTime()
  private val t0EpochUs = System.currentTimeMillis() * 1000L

  def newId(): Long = ids.getAndIncrement()
  def nowUs(): Long = (System.nanoTime() - t0Nano) / 1000L
  def fromEpochMs(ms: Long): Long = ms * 1000L - t0EpochUs

  def add(parent: Long, name: String, start: Long, end: Long,
      id: Long = newId(), trace: String = traceId): Unit =
    if (on) spans.add(Span(id, parent, name, trace, start, end))

  private def setProp(id: Long): Unit =
    if (sc != null && !sc.isStopped) sc.setLocalProperty(Listeners.SpanProp, id.toString)

  /** Time `body` as a child of the innermost open span. Jobs submitted
    * from this thread (and from threads it starts, such as streaming
    * executions) carry the span id as a local property. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = newId()
      val parent = current
      val start = nowUs()
      current = id
      setProp(id)
      try body
      finally {
        current = parent
        setProp(parent)
        spans.add(Span(id, parent, name, traceId, start, nowUs()))
      }
    }
}

/** Counters the listeners accumulate; snapshotted around each pass. */
final class Counters {
  val values: mutable.LinkedHashMap[String, DoubleAdder] = mutable.LinkedHashMap(
    Seq("scheduler.jobs", "scheduler.stages", "scheduler.tasks", "task.run_s",
      "task.cpu_s", "task.gc_s", "task.deser_s", "shuffle.write_mb",
      "shuffle.read_mb", "shuffle.fetch_wait_s", "shuffle.spill_mb",
      "scan.mb", "scan.rows", "plan.exchanges", "plan.broadcasts",
      "plan.wscg", "plan.graft_nodes", "streaming.batches",
      "streaming.state_rows", "streaming.add_batch_s", "streaming.query_planning_s",
      "streaming.wal_commit_s", "streaming.commit_offsets_s",
      "streaming.latest_offset_s", "streaming.trigger_s",
      "streaming.state_commit_s").map(_ -> new DoubleAdder): _*)
  def add(k: String, v: Double): Unit = values(k).add(v)
  def snapshot(): Map[String, Double] = values.map { case (k, a) => k -> a.sum }.toMap
}

object Listeners {
  val SpanProp = "perfbench.span"
  private val MB = 1024.0 * 1024.0

  /** Trigger times (ms) of every micro-batch; kept with tracing off too. */
  val batchMs = new ConcurrentLinkedQueue[java.lang.Double]()
  /** `(start, end)` of every task, microseconds, for scheduler idle time. */
  val tasks = new ConcurrentLinkedQueue[(Long, Long)]()
  /** Catalyst phase records awaiting attribution to a main-thread span. */
  val phases = new ConcurrentLinkedQueue[(String, Long, Long)]()
  val counters = new Counters

  private val StreamPhases = Seq("addBatch" -> "streaming.add_batch_s",
    "queryPlanning" -> "streaming.query_planning_s", "walCommit" -> "streaming.wal_commit_s",
    "commitOffsets" -> "streaming.commit_offsets_s", "latestOffset" -> "streaming.latest_offset_s",
    "triggerExecution" -> "streaming.trigger_s")

  /** Phases already queued, per query execution, so each is queued once. */
  private val queued = java.util.concurrent.ConcurrentHashMap.newKeySet[(QueryExecution, String)]()

  def clearPhases(): Unit = { phases.clear(); queued.clear() }

  /** Queue the Catalyst phases `qe` has run so far and not queued yet.
    * Construction analyzes the returned Dataset eagerly; actions add their
    * own phases through [[Executions]], on the same query execution when
    * the action runs on the Dataset itself (`collect`). */
  def recordPhases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      if (queued.add(qe -> phase))
        phases.add((s"catalyst.$phase", Trace.fromEpochMs(p.startTimeMs), Trace.fromEpochMs(p.endTimeMs)))
    }

  private def parentOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.toLong).getOrElse(Trace.current)

  final class Jobs extends SparkListener {
    private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long, String)]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

    override def onJobStart(e: SparkListenerJobStart): Unit = if (Trace.on) {
      val id = Trace.newId()
      jobSpan.put(e.jobId, (id, parentOf(e.properties), Trace.fromEpochMs(e.time), Trace.traceId))
      e.stageIds.foreach(s => stageJob.put(s, id))
      counters.add("scheduler.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobSpan.remove(e.jobId)
      if (j != null) Trace.add(j._2, "job", j._3, Trace.fromEpochMs(e.time), j._1, j._4)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (Trace.on) {
      val i = e.stageInfo
      counters.add("scheduler.stages", 1)
      for (s <- i.submissionTime; c <- i.completionTime)
        Trace.add(Option(stageJob.remove(i.stageId)).map(_.longValue).getOrElse(Trace.current),
          "stage", Trace.fromEpochMs(s), Trace.fromEpochMs(c))
    }
    /** Streaming progress reaches the context's bus from every session,
      * including the cloned sessions the streaming scenarios run in. */
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case e: StreamingQueryListener.QueryProgressEvent =>
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val trigger = d.getOrElse("triggerExecution", 0L)
        batchMs.add(trigger.toDouble)
        if (Trace.on) {
          counters.add("streaming.batches", 1)
          counters.add("streaming.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
          counters.add("streaming.state_commit_s", p.stateOperators.map(_.commitTimeMs).sum / 1e3)
          StreamPhases.foreach { case (k, n) => counters.add(n, d.getOrElse(k, 0L) / 1e3) }
          val start = Trace.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
          Trace.add(Trace.current, "batch", start, start + trigger * 1000L)
        }
      case _ =>
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Trace.on) {
      counters.add("scheduler.tasks", 1)
      tasks.add((Trace.fromEpochMs(e.taskInfo.launchTime), Trace.fromEpochMs(e.taskInfo.finishTime)))
      val m = e.taskMetrics
      if (m != null) {
        counters.add("task.run_s", m.executorRunTime / 1e3)
        counters.add("task.cpu_s", m.executorCpuTime / 1e9)
        counters.add("task.gc_s", m.jvmGCTime / 1e3)
        counters.add("task.deser_s", m.executorDeserializeTime / 1e3)
        counters.add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
        counters.add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
        counters.add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        counters.add("shuffle.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / MB)
        counters.add("scan.mb", m.inputMetrics.bytesRead / MB)
        counters.add("scan.rows", m.inputMetrics.recordsRead.toDouble)
      }
    }
  }

  /** Catalyst phases and physical-plan counts of every finished query
    * execution. Plan nodes are counted on the final adaptive plan,
    * subqueries included. */
  final class Executions extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (Trace.on) {
        recordPhases(qe)
        def count(pf: PartialFunction[SparkPlan, Int]): Double =
          collectWithSubqueries(qe.executedPlan)(pf).sum.toDouble
        counters.add("plan.exchanges", count { case _: ShuffleExchangeLike => 1 })
        counters.add("plan.broadcasts", count { case _: BroadcastExchangeLike => 1 })
        counters.add("plan.wscg", count { case _: WholeStageCodegenExec => 1 })
        counters.add("plan.graft_nodes",
          count { case p if p.getClass.getName.startsWith("graft.") => 1 })
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
}
