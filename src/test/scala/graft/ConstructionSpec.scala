package graft

import org.apache.spark.graft.Jobs

/** Building a batch query's DataFrame starts no Spark job once the
  * session is warm: every per-session value it needs (table schemas,
  * shared stages, driver-side models) is memoized, so only an action runs
  * jobs. Pinned for the batch queries the benchmark times; the queries
  * that still run jobs at construction are listed by family in
  * ROADMAP.md. */
class ConstructionSpec extends SparkTestBase {

  // the timed samples of the `curation` and `olap` benchmark workloads
  private val curation = Seq("dedup_simhash", "text_winnowing_fingerprint",
    "similarity_ann_lsh", "embedding_pca_project", "quality_benford_totalprice",
    "curation_epoch_plan", "quality_referential_check", "curation_funnel_report")
  private val olap = Seq("agg_typed_aggregator", "sql_shipmode_priority",
    "events_cohort_retention", "join_asof_native", "window_range_frame",
    "sample_hash_docs", "json_props_extract", "set_except")

  test("on a warm session, constructing the curation and olap samples runs no job") {
    val names = curation ++ olap
    names.foreach(n => SparkEntry.queries(n)(spark, sfDir)) // warm
    val eager = names.flatMap { n =>
      Jobs.during(spark.sparkContext)(SparkEntry.queries(n)(spark, sfDir))
        .map(site => s"$n: $site")
    }
    assert(eager.isEmpty, eager.mkString("\n"))
  }

  // the benchmark executes a timed result with a `noop` write
  private def run(n: String): Unit =
    SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()

  test("on a warm session, each stream_ref scenario runs its pinned number of jobs") {
    // streaming scenarios: one job per micro-batch plus one for the
    // one-partition memory-sink read-back; the parquet roundtrip: the
    // partitioned write, then the aggregate and its sort over the file
    // read with the schema it wrote (no inference job)
    val pinned = Seq("streaming_window_max" -> 2, "streaming_concat_prefixes" -> 3,
      "sink_partitioned_parquet" -> 5)
    pinned.foreach { case (n, _) => run(n) } // warm
    val counted = pinned.map { case (n, _) => n -> Jobs.during(spark.sparkContext)(run(n)) }
    val wrong = counted.zip(pinned).collect {
      case ((n, sites), (_, want)) if sites.size != want =>
        s"$n: ${sites.size} jobs, pinned $want:\n  ${sites.mkString("\n  ")}"
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("no memory-sink read-back plans a range exchange") {
    // a total-order sort over a multi-partition sink samples its range
    // bounds in a job of its own and shuffles; over one partition it needs
    // neither
    val readBacks = SparkEntry.queries.keys.toSeq.filter(_.startsWith("streaming_")).sorted.flatMap { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val readsSink = df.queryExecution.analyzed.collectLeaves()
        .exists(_.getClass.getSimpleName == "MemoryPlan")
      if (readsSink) Some(n -> df.queryExecution.executedPlan.toString) else None
    }
    assert(readBacks.size >= 17, s"only ${readBacks.size} memory-sink read-backs found")
    val ranged = readBacks.collect { case (n, plan) if plan.contains("rangepartitioning") => s"$n:\n$plan" }
    assert(ranged.isEmpty, ranged.mkString("\n"))
  }
}
