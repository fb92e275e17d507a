package graft

import graft.plans.GraftOps
import graft.streaming.CheckpointFiles
import org.apache.spark.sql.SparkSession

/** The one place engine confs live: `Bench`, `Verify` and the test
  * suite all build their session here, so a conf measured in one of them
  * holds for all of them. Master and shuffle partitions are the only
  * per-caller values; a query that needs its own confs takes a
  * [[derived]] session. Every session either method returns carries
  * graft's SQL functions, planner strategy and optimizer rule
  * ([[GraftOps.ensureInjected]]) from the start. */
object GraftSession {
  def local(master: String, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
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
    GraftOps.ensureInjected(spark)
    spark
  }

  /** A clone of `parent` (shared SparkContext, own conf and temp views)
    * with `confs` set on top of two fixed ones, and graft's extensions
    * injected again: `newSession()` copies neither temporary functions
    * nor `spark.experimental`, so this holds for a clone of a session
    * graft did not build too. Every query that needs its own confs — the
    * streaming scenarios' small state-partition count, the RocksDB state
    * store, a join rule switched off — derives its session here and
    * nowhere else.
    *
    *  - `spark.sql.artifact.isolation.enabled=false`: Spark gives every
    *    clone its own artifact UUID, and with isolation on the tasks of
    *    each clone run under a fresh `ExecutorClassLoader`. The codegen
    *    cache is keyed by (class loader, code), so every query of a new
    *    clone recompiled byte-identical classes: 18 per
    *    `streaming_concat_prefixes` run and 25 per `streaming_window_max`
    *    run, even with a 10,000-entry cache; with isolation off both
    *    compile 0 after their first run. graft adds no jars or artifacts
    *    to any session, so there is nothing to isolate.
    *  - `spark.sql.streaming.checkpointFileManagerClass` =
    *    [[graft.streaming.CheckpointFiles]]: without the native Hadoop
    *    library the default FileContext manager forks `readlink` 8 times
    *    per checkpoint-file rename (file, temp file and their `.crc`s) and
    *    `chmod` once per create: 129 process forks per query, averaged
    *    over `streaming_concat_prefixes` and `streaming_window_max`. Spark's
    *    FileSystem-based manager renames with `File.renameTo`, which left
    *    33, nearly all of them `chmod` from `RawLocalFileSystem.setPermission`
    *    (26 per `streaming_window_max` call, 38 per
    *    `streaming_concat_prefixes` call at 2 state partitions, 4–5 ms
    *    each). graft's manager is that FileSystem-based manager over a
    *    local file system that sets the same permission bits through
    *    `java.nio`: 0 forks per query. `.crc` files and the
    *    checkpoint-file checksums stay on.
    *
    * Isolation off and Spark's FileSystem-based manager together took the
    * `stream_ref` benchmark's later pass from 4.02 s to 2.92 s (median of
    * 10 parent/change pairs on a 4-core VM); graft's manager, with one
    * state partition and a one-partition memory-sink read-back
    * ([[graft.streaming.StreamingOps]]), took it from 2.65 s to 2.16 s
    * (same method and host). */
  def derived(parent: SparkSession, confs: (String, String)*): SparkSession = {
    val s = parent.newSession()
    s.conf.set("spark.sql.artifact.isolation.enabled", "false")
    s.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[CheckpointFiles].getName)
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    GraftOps.ensureInjected(s)
    roots.put(s, root(parent))
    s
  }

  /** Derived session → the session its chain of [[derived]] calls started
    * from. Weak keys: a derived session that is no longer referenced
    * drops its entry, so recording it pins nothing. */
  private val roots =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[SparkSession, SparkSession]())

  /** The session `spark` was [[derived]] from, following the chain back
    * to its start, or `spark` itself. A value that does not depend on a
    * derived session's own confs (a table's parquet schema,
    * [[Tables.table]]) is memoized on the root, so a query that reads
    * inside a per-call derived session reuses it. */
  def root(spark: SparkSession): SparkSession = Option(roots.get(spark)).getOrElse(spark)
}
