package graft

import org.apache.spark.sql.SparkSession

/** The one place engine confs live: `Bench`, `Verify`, `Plans` and the
  * test suite all build their session here, so a conf measured in one of
  * them holds for all of them. Master and shuffle partitions are the only
  * per-caller values. */
object GraftSession {
  def local(master: String, shufflePartitions: Int): SparkSession =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // scan-split floor (r17, guide §2.2/§6): Spark picks split size as
      // min(maxPartitionBytes, max(openCostInBytes, bytes/defaultParallelism)),
      // so the default 4 MB openCost floors a small-corpus-per-core scan at
      // ~bytes/4MB tasks. A split only carries data when it holds a row
      // group's midpoint, so the floor helps files with several row groups:
      // the sf3 copies `tools/gen_scale.py` writes (one row group per copy)
      // measured text_fingerprint 3.35 → 0.85 s, text_bpe_pairs 3.61 →
      // 1.13 s at local[32]. It does nothing for a single-row-group file:
      // every seed-42 file has one row group, and at local[8, 4] the 128 KB
      // floor splits the sf0.01 lineitem scan into 8 tasks (7 empty) and
      // the sf0.001 embeddings scan into 2 (1 empty). The binding term self-adapts —
      // whenever data/core exceeds 4 MB the bytes/parallelism or 128 MB cap
      // governs exactly as before.
      .config("spark.sql.files.openCostInBytes", (128L * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // cap app-status retention: a full bench executes ~500 queries plus
      // ~40 streaming scenarios in ONE application, and the default
      // retention (1000 executions / jobs / stages) keeps the status
      // store + listener bus working through an ever-growing history —
      // measured r12 as late-run inflation of the latency-sensitive
      // streaming scenarios (family 24.6 s early-alphabet runs vs 58.8 s
      // at the tail of a full run, task_cpu flat, gc 0 — pure wait time)
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10")
      .getOrCreate()
}
