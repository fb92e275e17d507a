package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The two stdout lines `graft.Bench` prints are a driver contract: their
  * key order and bytes are pinned here, on fixed records and no Spark
  * session. The full ledger's per-query and per-stage lines are pinned by
  * their key lists (values are measurements). */
class BenchSpec extends AnyFunSuite {
  import Bench.{QueryRecord, Sentinels, StageRecord}

  private def query(min: Double, ok: Boolean = true, twinOf: Option[String] = None) =
    QueryRecord(Seq(min + 0.5, min), min, ok, t0 = 1.25, gcMs = 3,
      peakMemBytes = 4096, taskRunMs = 20, taskCpuMs = 15, taskGcMs = 1,
      runTaskCpuMs = Seq(8, 7), retried = false, twinOf = twinOf)

  // 22 successes q01..q22 (min 0.25·i), one failure between them, q05 a
  // twin of q04; the second stage was retried and is a twin of the first
  private val queries =
    (1 to 10).map(i => f"q$i%02d" -> query(0.25 * i, twinOf = Option.when(i == 5)("q04"))) ++
      Seq("q_fail" -> query(1.0e-4, ok = false)) ++
      (11 to 22).map(i => f"q$i%02d" -> query(0.25 * i))
  private val stages = Seq(
    "s_base" -> StageRecord(Seq(1.5), 1.5, taskCpuMs = 100, taskGcMs = 5,
      gcMs = 7, retried = false, twinOf = None),
    "s_twin" -> StageRecord(Seq(9.0, 2.0), 2.0, taskCpuMs = 300, taskGcMs = 10,
      gcMs = 12, retried = true, twinOf = Some("s_base")))

  private val (ledger, full, summary) = Bench.render(rounds = 2,
    sf = "/data/sf0.1", cpus = 4, hostCpus = 8, head = "abc123", dirty = false,
    start = Sentinels(0.25, 0.5, 1.0, 0.75), mid = None,
    end = Sentinels(0.5, 0.5, 1.25, 1.0), cachedBytes = 123456789L,
    stages = stages, queries = queries, ledgerPath = "/tmp/bench_full.json")

  private def keys(v: JValue): List[String] = v match {
    case JObject(fields) => fields.map(_._1)
    case other => fail(s"not an object: $other")
  }

  test("the full stdout line keeps its bytes: successes only, failures apart") {
    assert(full ==
      """{"metric":"total","value":66.75,"unit":"sec","runs_per_query":2,""" +
      """"queries":{"q01":0.25,"q02":0.5,"q03":0.75,"q04":1.0,"q05":1.25,""" +
      """"q06":1.5,"q07":1.75,"q08":2.0,"q09":2.25,"q10":2.5,"q11":2.75,""" +
      """"q12":3.0,"q13":3.25,"q14":3.5,"q15":3.75,"q16":4.0,"q17":4.25,""" +
      """"q18":4.5,"q19":4.75,"q20":5.0,"q21":5.25,"q22":5.5},""" +
      """"shared_stages":{"s_base":1.5,"s_twin":2.0},"failed":["q_fail"],""" +
      """"failed_secs":{"q_fail":1.0E-4},"sf":"/data/sf0.1"}""")
  }

  test("the summary stdout line keeps its bytes: slowest 20, integer mid sentinel") {
    assert(summary ==
      """{"metric":"total","value":66.75,"unit":"sec","runs_per_query":2,""" +
      """"n_queries":22,"queries":{"q22":5.5,"q21":5.25,"q20":5.0,"q19":4.75,""" +
      """"q18":4.5,"q17":4.25,"q16":4.0,"q15":3.75,"q14":3.5,"q13":3.25,""" +
      """"q12":3.0,"q11":2.75,"q10":2.5,"q09":2.25,"q08":2.0,"q07":1.75,""" +
      """"q06":1.5,"q05":1.25,"q04":1.0,"q03":0.75},""" +
      """"shared_stages":{"s_base":1.5,"s_twin":2.0},"failed":["q_fail"],""" +
      """"sentinels":{"start":{"cpu":0.25,"alloc":0.5,"spark":1.0,"shuffle":0.75},""" +
      """"mid":{"cpu":-1,"alloc":-1,"spark":-1,"shuffle":-1},""" +
      """"end":{"cpu":0.5,"alloc":0.5,"spark":1.25,"shuffle":1.0}},""" +
      """"host_cpus":8,"head":"abc123","dirty":false,""" +
      """"ledger":"/tmp/bench_full.json","sf":"/data/sf0.1"}""")
  }

  test("the ledger keeps its keys, in order, down to one query and one stage line") {
    val doc = JsonMethods.parse(ledger)
    assert(keys(doc) == List("metric", "value", "unit", "runs_per_query",
      "n_queries", "sf", "cpus", "host_cpus", "head", "dirty", "sentinels",
      "cached_bytes_after_prewarm", "shared_stages", "shared_stages_detail",
      "failed", "failed_secs", "queries"))
    assert(keys(doc \ "queries" \ "q05") == List("runs", "min", "ok", "t0",
      "gc_ms", "peak_mem_bytes", "task_run_ms", "task_cpu_ms", "task_gc_ms",
      "run_task_cpu_ms", "retried", "twin_of"))
    assert(keys(doc \ "shared_stages_detail" \ "s_twin") == List("runs", "min",
      "task_cpu_ms", "task_gc_ms", "gc_ms", "retried", "twin_of"))
    // the ledger's queries hold every timed query, the failure included
    assert(keys(doc \ "queries").size == 23)
    assert(doc \ "queries" \ "q_fail" \ "ok" == JBool(false))
    assert(doc \ "queries" \ "q06" \ "twin_of" == JNothing)
  }
}
