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
}
