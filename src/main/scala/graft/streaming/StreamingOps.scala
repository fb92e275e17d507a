package graft.streaming

import java.nio.file.Path
import java.util.UUID
import java.util.concurrent.atomic.AtomicReference

import graft.{FailureRegistry, GraftSession, TempDirs, UnstableData}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, ForeachWriter, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, StreamingQueryException, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming ports of the reference's streaming semantics
  * (SURVEY.md §2.3-2.4, §2.7):
  *
  *  - [[concatPrefixes]] — the `StatefulConcatenate` operator
  *    (`/root/reference/src/main/ru/hse/flinkanomaly/Main.java:60-83`):
  *    per key, append each element's name to checkpointed state and emit
  *    every prefix (one output per input). `ValueState[String]` maps to
  *    `GroupState[String]` under `flatMapGroupsWithState`.
  *  - [[tumblingWindowMax]] — event-time tumbling window + max-by
  *    (`TestFlinkStreams.java:62-83`): `withWatermark` (bounded
  *    out-of-orderness 20 s) + 5 s `window()` + `max_by`.
  *  - [[unstableFilter]] — the side-effecting filter driving the anomaly
  *    study (`Main.java:48-49,101-111`).
  *  - [[CollectingSink]] — the non-idempotent `ConcatenateSink`
  *    (`TestFlinkStreamsRecover.java:99-107`): duplicates become visible
  *    here after recovery.
  *  - [[runWithRestarts]] — the fixed-delay restart strategy
  *    (`Main.java:29-30`): restart the query from the same checkpoint up
  *    to n times.
  *  - [[drain]] — the run protocol of every memory-sink scenario: feed
  *    each micro-batch, drain it, stop, and read the sink back.
  *
  * Semantics mapping (SURVEY.md §2.7/F1): Flink AT_LEAST_ONCE checkpoints
  * admit duplicated *state updates*; Spark micro-batch replay gives
  * exactly-once *state* but at-least-once *side-effecting sinks* — the
  * duplicate-visible-at-sink behavior the reference hunts appears at
  * [[CollectingSink]], while `GroupState` stays exactly-once. The test
  * suite asserts exactly that split.
  */
object StreamingOps {

  /** Shuffle-partition count for the streaming fixture queries, set on
    * their [[GraftSession.derived]] session: every stateful streaming
    * operator allocates one state store PER shuffle partition per
    * micro-batch, and each store writes its own delta, checksum and
    * checkpoint files. The fixture streams carry at most 5 rows per
    * scenario (the graftgen ones 1000 rows in ~300-row batches), so one
    * partition holds all of it and a second one only adds a store, its
    * files and a task to every batch. Sizing state partitions to the
    * stream volume is a per-query decision on a real cluster too (state
    * partition count is fixed at the first checkpoint, so production
    * queries size it deliberately up front) — the derived session keeps
    * that choice from leaking into batch queries. */
  val StreamPartitions: (String, String) = "spark.sql.shuffle.partitions" -> "1"

  /** Runs the streaming `query` on a memory sink in output `mode` and
    * returns the rows the sink collected. Each batch thunk feeds the
    * query's sources and is followed by `processAllAvailable()`; with no
    * thunks the query drains once. The query is named `graft_<uuid>` and
    * checkpoints under [[TempDirs]]; it is stopped and its checkpoint
    * deleted whether it fails or not (the sink's rows live on the driver,
    * so nothing reads the checkpoint afterwards).
    *
    * The rows come back as one partition: MemorySink keeps them on the
    * driver, so one partition costs no parallelism, and a total-order
    * `orderBy` over it needs no range-partition sampling job and no
    * shuffle: the read-back is one job with no exchange. */
  private[graft] def drain(query: DataFrame, mode: String)(batches: (() => Unit)*): DataFrame = {
    val name = "graft_" + UUID.randomUUID().toString.replace("-", "")
    val checkpoint = TempDirs.create(name)
    val q = query.writeStream.format("memory").queryName(name).outputMode(mode)
      .option("checkpointLocation", checkpoint.toString).start()
    try {
      if (batches.isEmpty) q.processAllAvailable()
      batches.foreach { feed => feed(); q.processAllAvailable() }
    } finally stop(q, checkpoint)
    query.sparkSession.table(name).coalesce(1)
  }

  /** Stops `q`, then deletes its checkpoint directory even if the stop throws. */
  private def stop(q: StreamingQuery, checkpoint: Path): Unit =
    try q.stop() finally FileUtils.deleteQuietly(checkpoint.toFile)

  /** Off-heap state store with incremental checkpoints (see
    * [[streamingRocksdbAgg]]); `transformWithState` requires it. */
  val RocksDbStateStore: (String, String) = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Per-key stateful concatenation emitting every prefix in arrival
    * order. Works identically over a batch Dataset (fresh state) and a
    * streaming one (state restored from the checkpoint across restarts). */
  def concatPrefixes(ds: Dataset[UnstableData]): Dataset[(String, String)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.group)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[UnstableData], state: GroupState[String]) =>
          var acc = state.getOption.getOrElse("")
          val out = it.map { u =>
            acc += u.name
            state.update(acc)
            (key, acc)
          }.toList
          out.iterator
      }
  }

  /** Event-time 5 s tumbling window, 20 s bounded out-of-orderness, max
    * element per window (`maxBy(0, true)` ⇒ ties keep the earliest ts). */
  def tumblingWindowMax(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "20 seconds")
      .groupBy(window($"ts", "5 seconds"))
      .agg(max_by(struct($"value", $"ts"), struct($"value", expr("-unix_micros(ts)"))).as("top"))
      .select($"window.start".as("w_start"), $"top.value".as("value"), $"top.ts".as("ts"))
  }

  /** Typed filter through the JVM-static failure registry — throws the
    * first `failureTimes` times per name, surfacing as a task failure
    * (batch retry via `spark.task.maxFailures`; streaming retry via
    * [[runWithRestarts]]). */
  def unstableFilter(ds: Dataset[UnstableData]): Dataset[UnstableData] =
    ds.filter((u: UnstableData) => FailureRegistry.waitValidateOrFail(u))

  /** Non-idempotent accumulating sink: per-row writer appending names to a
    * JVM-static buffer. Deliberately NOT transactional — this is the
    * observation point for at-least-once delivery (duplicates appear here
    * after a mid-batch failure + replay). */
  object CollectingSink {
    val buffer = new AtomicReference[Vector[String]](Vector.empty)
    def reset(): Unit = buffer.set(Vector.empty)
    def append(name: String): Unit =
      buffer.updateAndGet(v => v :+ name)
  }

  final class CollectingForeachWriter extends ForeachWriter[UnstableData] {
    override def open(partitionId: Long, epochId: Long): Boolean = true
    override def process(u: UnstableData): Unit = CollectingSink.append(u.name)
    override def close(errorOrNull: Throwable): Unit = ()
  }

  /** Driver-contract wrapper: actually EXECUTES the W1 streaming pipeline
    * (MemoryStream → watermark → 5 s tumbling window → max_by → memory
    * sink) on the reference's window fixture
    * (`TestFlinkStreams.java:63-67`, shifted to a fixed epoch) and
    * returns the drained result — so the correctness gate checks a real
    * streaming execution, not just the batch analog. */
  def streamingWindowMax(spark: SparkSession, dir: String): DataFrame = {
    val s = GraftSession.derived(spark, StreamPartitions)
    import s.implicits._
    val base = 1700000000L
    val in = MemoryStream[(Int, Long)](s)
    in.addData((15, base + 120), (17, base + 1501), (16, base + 1500))
    drain(tumblingWindowMax(
        in.toDF().select(timestamp_seconds($"_2").as("ts"), $"_1".as("value"))), "complete")()
      .select(unix_timestamp($"w_start").as("w_start"), $"value")
      .orderBy($"w_start")
  }

  val streamingWindowMaxSql: String =
    // fixture windows: [1700000120] holds value 15; [1700001500] holds
    // 17 (max of 16@1500, 17@1501); 5 s buckets floor to multiples of 5
    """SELECT * FROM (VALUES (1700000120, 15), (1700001500, 17))
      |  AS t(w_start, value)
      |ORDER BY w_start""".stripMargin

  /** Driver-contract wrapper for the stateful concat: two real
    * micro-batches through `flatMapGroupsWithState` (state carried across
    * batches), drained to a memory sink. Single-partition input keeps
    * arrival order deterministic (`Main.java:60-83` semantics). */
  def streamingConcatPrefixes(spark: SparkSession, dir: String): DataFrame = {
    val s = GraftSession.derived(spark, StreamPartitions)
    import s.implicits._
    val in = MemoryStream[UnstableData](s, numPartitions = 1)
    drain(concatPrefixes(in.toDS()).toDF("group_id", "prefix"), "append")(
      () => in.addData(UnstableData("a", 0, 0, "g1"), UnstableData("b", 0, 0, "g1")),
      () => in.addData(UnstableData("c", 0, 0, "g1"), UnstableData("x", 0, 0, "g2")))
      .orderBy($"group_id", $"prefix")
  }

  val streamingConcatPrefixesSql: String =
    """SELECT * FROM (VALUES ('g1', 'a'), ('g1', 'ab'), ('g1', 'abc'), ('g2', 'x'))
      |  AS t(group_id, prefix)
      |ORDER BY group_id, prefix""".stripMargin

  /** Driver-contract wrapper for streaming deduplication: a REAL
    * streaming execution of `dropDuplicates` over two micro-batches with
    * duplicates both within a batch and across batches — the second
    * occurrence of id 2 arrives one batch later and is dropped by the
    * checkpointed dedup state, which is the semantics a replayed/
    * at-least-once upstream needs. Duplicate rows are exact duplicates,
    * so the kept-row choice is immaterial to the result. */
  def streamingDedup(spark: SparkSession, dir: String): DataFrame = {
    val s = GraftSession.derived(spark, StreamPartitions)
    import s.implicits._
    val in = MemoryStream[(Long, String)](s, numPartitions = 1)
    drain(in.toDF().toDF("id", "v").dropDuplicates("id"), "append")(
      () => in.addData((1L, "a"), (2L, "b"), (1L, "a")),
      () => in.addData((2L, "b"), (3L, "c")))
      .orderBy($"id")
  }

  val streamingDedupSql: String =
    """SELECT CAST(id AS BIGINT) AS id, v
      |FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c')) AS t(id, v)
      |ORDER BY id""".stripMargin

  /** Bounded-state streaming dedup (`dropDuplicatesWithinWatermark`):
    * the production counterpart of [[streamingDedup]], whose plain
    * `dropDuplicates` keeps EVERY key's state forever — unbounded state
    * on an unbounded stream. With a watermark the dedup state for a key
    * is dropped once the watermark passes its event time, which buys
    * bounded state at a precise, visible cost: a duplicate arriving
    * AFTER its key's state expired is re-emitted (id 1 here — twice in
    * the output, by design). Exactly the at-least-once upstream contract:
    * duplicates are suppressed within the disorder bound, not forever. */
  def streamingDedupWatermarked(spark: SparkSession, dir: String): DataFrame = {
    val s = GraftSession.derived(spark, StreamPartitions)
    import s.implicits._
    val base = 1700000000L
    val in = MemoryStream[(Long, Long)](s, numPartitions = 1)
    val deduped = in.toDF().toDF("id", "sec")
      .select($"id", timestamp_seconds($"sec").as("ts"))
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("id")
      .select($"id", unix_timestamp($"ts").as("ts_s"))
    drain(deduped, "append")(
      // batch 1: id 1 duplicated within the watermark window → one row
      () => in.addData((1L, base + 10), (1L, base + 12), (2L, base + 20)),
      // batch 2: far-future event advances the watermark past ids 1-2,
      // evicting their dedup state
      () => in.addData((9L, base + 1000)),
      // batch 3: id 1 reappears AFTER its state expired → re-emitted
      () => in.addData((1L, base + 995)))
      .orderBy($"id", $"ts_s")
  }

  val streamingDedupWatermarkedSql: String =
    """SELECT CAST(id AS BIGINT) AS id, CAST(ts_s AS BIGINT) AS ts_s
      |FROM (VALUES (1, 1700000010), (1, 1700000995), (2, 1700000020),
      |             (9, 1700001000)) AS t(id, ts_s)
      |ORDER BY id, ts_s""".stripMargin

  /** Running per-key aggregation on the ROCKSDB state store backend —
    * the state-scale counterpart of the fixture queries above. The
    * default HDFS-backed store keeps every version of every state row ON
    * HEAP; at 100 TB-pipeline state sizes (billions of dedup keys,
    * millions of live sessions) that is executor OOM, not a tuning knob.
    * `RocksDBStateStoreProvider` (rocksdbjni ships with Spark) moves
    * state off-heap with incremental checkpointing — the same query,
    * one conf away, which is exactly why the provider is set per-session
    * here and asserted against the query's state-operator metrics in
    * StreamingSpec. State carries across micro-batches (complete-mode
    * counts merge batch 1 + 2); results are engine-deterministic longs. */
  def streamingRocksdbAgg(spark: SparkSession, dir: String): DataFrame = {
    val s = GraftSession.derived(spark, StreamPartitions, RocksDbStateStore)
    import s.implicits._
    val in = MemoryStream[(Long, Long)](s, numPartitions = 1)
    val totals = in.toDF().toDF("k", "amount")
      .groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"amount").as("total"))
    drain(totals, "complete")(
      () => in.addData((1L, 10L), (2L, 20L), (1L, 5L)),
      () => in.addData((2L, 7L), (3L, 1L)))
      .orderBy($"k")
  }

  val streamingRocksdbAggSql: String =
    """SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
      |       CAST(total AS BIGINT) AS total
      |FROM (VALUES (1, 2, 15), (2, 2, 27), (3, 1, 1)) AS t(k, n, total)
      |ORDER BY k""".stripMargin

  /** Per-key running (count, total) through the NEW arbitrary-state API
    * (`transformWithState`, Spark 4): typed `ValueState` read/updated per
    * input row, emitting a running-aggregate row for EVERY input — the
    * per-row emission cadence `groupBy().agg()` cannot express in append
    * mode (it only emits on watermark close / complete-mode snapshots).
    * This is `flatMapGroupsWithState`'s successor: state is declared as
    * named, individually-evolvable variables on a handle (ValueState /
    * ListState / MapState + TTL + timers) instead of one opaque blob,
    * and the runtime requires the RocksDB provider — which is the 100 TB
    * posture anyway (off-heap state, incremental checkpoints; see
    * [[streamingRocksdbAgg]]). */
  final class RunningTotalsProcessor
      extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
    @transient private var st: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState("running",
        Encoders.product[(Long, Long)], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timers: TimerValues): Iterator[(Long, Long, Long)] = {
      var (n, total) = if (st.exists()) st.get() else (0L, 0L)
      val out = rows.map { case (_, amount) =>
        n += 1; total += amount
        st.update((n, total))
        (key, n, total)
      }.toList // materialize: state updates must happen in this call
      out.iterator
    }
  }

  /** Event-time TIMERS through `transformWithState`: per-key session
    * close-out without `session_window`'s merge machinery. Each input
    * batch bumps a per-key count and (re)arms one timer at
    * last-event-time + gap; when the WATERMARK passes the timer,
    * `handleExpiredTimer` emits the session summary and clears state.
    * This is the primitive that windowing, TTL caches, and SLA alerts
    * ("no heartbeat for 30 s") compile down to — and unlike
    * `flatMapGroupsWithState`'s single per-key timeout, timers here are
    * first-class values (list/delete/re-arm several) next to named state.
    * A key whose timer the watermark never passes stays open and emits
    * nothing — correct append-mode session semantics. */
  final class SessionTimeoutProcessor(gapMs: Long)
      extends StatefulProcessor[Long, (Long, java.sql.Timestamp), (Long, Long)] {
    @transient private var cnt: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cnt = getHandle.getValueState("cnt", Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, java.sql.Timestamp)],
        timers: TimerValues): Iterator[(Long, Long)] = {
      var n = if (cnt.exists()) cnt.get() else 0L
      var lastMs = Long.MinValue
      rows.foreach { case (_, ts) => n += 1; lastMs = math.max(lastMs, ts.getTime) }
      cnt.update(n)
      // re-arm: one live timer per key (timers are enumerable + deletable)
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(lastMs + gapMs)
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, timers: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[(Long, Long)] = {
      val out = if (cnt.exists()) Iterator.single((key, cnt.get())) else Iterator.empty
      cnt.clear()
      out
    }
  }

  /** Driver-contract wrapper for [[SessionTimeoutProcessor]]: keys 1-2
    * build sessions in batch 1 (timers armed at last-event + 30 s); the
    * far-future event in batch 2 advances the watermark past both timers,
    * whose expiry emits the summaries in the watermark-advance batch.
    * Key 9's own timer is never passed → stays open, absent from the
    * output. */
  def streamingTwsTimers(spark: SparkSession, dir: String): DataFrame = {
    val s = GraftSession.derived(spark, StreamPartitions, RocksDbStateStore)
    import s.implicits._
    val base = 1700000000L
    val in = MemoryStream[(Long, Long)](s, numPartitions = 1)
    val sessions = in.toDF().toDF("k", "sec")
      .select($"k", timestamp_seconds($"sec").as("ts"))
      .withWatermark("ts", "10 seconds")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new SessionTimeoutProcessor(30000L),
        TimeMode.EventTime(), OutputMode.Append(),
        Encoders.product[(Long, Long)])
      .toDF("k", "n_events")
    drain(sessions, "append")(
      () => in.addData((1L, base + 10), (1L, base + 12), (2L, base + 20)),
      () => in.addData((9L, base + 1000)),
      () => ()) // watermark-advance batch fires the timers
      .orderBy($"k")
  }

  val streamingTwsTimersSql: String =
    """SELECT CAST(k AS BIGINT) AS k, CAST(n_events AS BIGINT) AS n_events
      |FROM (VALUES (1, 2), (2, 1)) AS t(k, n_events)
      |ORDER BY k""".stripMargin

  /** Driver-contract wrapper: two micro-batches through
    * [[RunningTotalsProcessor]] — key 1's and 2's second rows continue
    * from checkpointed state, proving the cross-batch carry; single-
    * partition input keeps per-key row order deterministic. */
  def streamingTransformWithState(spark: SparkSession, dir: String): DataFrame = {
    val s = GraftSession.derived(spark, StreamPartitions, RocksDbStateStore)
    import s.implicits._
    val in = MemoryStream[(Long, Long)](s, numPartitions = 1)
    val running = in.toDS()
      .groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Append(),
        Encoders.product[(Long, Long, Long)])
      .toDF("k", "n", "total")
    drain(running, "append")(
      () => in.addData((1L, 10L), (2L, 20L), (1L, 5L)),
      () => in.addData((2L, 7L), (3L, 1L)))
      .orderBy($"k", $"n")
  }

  val streamingTransformWithStateSql: String =
    // running rows: k1 → (1,10),(2,15); k2 → (1,20),(2,27); k3 → (1,1)
    """SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
      |       CAST(total AS BIGINT) AS total
      |FROM (VALUES (1, 1, 10), (1, 2, 15), (2, 1, 20), (2, 2, 27),
      |             (3, 1, 1)) AS t(k, n, total)
      |ORDER BY k, n""".stripMargin

  /** Driver-contract wrapper for a REAL stream-stream interval join:
    * impressions and clicks as two MemoryStreams, both watermarked, inner
    * join on ad id with the click inside [imp_ts, imp_ts + 60 s]. The
    * event-time bound plus the two watermarks is what lets Spark expire
    * buffered state on both sides — the production-required shape (an
    * unbounded stream-stream join would accumulate state forever). The
    * second batch proves the join is incremental: a click arriving one
    * micro-batch after its impression still matches against the buffered
    * impression state. */
  def streamingStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val s = GraftSession.derived(spark, StreamPartitions)
    import s.implicits._
    val base = 1700000000L
    val imps = MemoryStream[(Int, Long)](s)
    val clicks = MemoryStream[(Int, Long)](s)
    val impDf = imps.toDF().toDF("ad_id", "s")
      .select($"ad_id", timestamp_seconds($"s").as("imp_ts"))
      .withWatermark("imp_ts", "1 minute")
    val clkDf = clicks.toDF().toDF("c_ad_id", "cs")
      .select($"c_ad_id", timestamp_seconds($"cs").as("click_ts"))
      .withWatermark("click_ts", "1 minute")
    val joined = impDf.join(clkDf,
      expr("ad_id = c_ad_id AND click_ts >= imp_ts AND " +
        "click_ts <= imp_ts + interval 60 seconds"))
    val pairs = joined.select($"ad_id", unix_timestamp($"imp_ts").as("imp_s"),
      unix_timestamp($"click_ts").as("click_s"))
    drain(pairs, "append")(
      // batch 1: ads 1-3 impressed; ad 1 clicked in-window, ad 2 clicked
      // 180 s later (outside the 60 s window — must NOT match)
      () => {
        imps.addData((1, base + 10), (2, base + 20), (3, base + 500))
        clicks.addData((1, base + 40), (2, base + 200))
      },
      // batch 2: ad 3's click arrives a micro-batch later, still in-window
      () => clicks.addData((3, base + 530)))
      .orderBy($"ad_id", $"imp_s", $"click_s")
  }

  val streamingStreamJoinSql: String =
    """SELECT CAST(ad_id AS INT) AS ad_id, CAST(imp_s AS BIGINT) AS imp_s,
      |       CAST(click_s AS BIGINT) AS click_s
      |FROM (VALUES (1, 1700000010, 1700000040), (3, 1700000500, 1700000530))
      |  AS t(ad_id, imp_s, click_s)
      |ORDER BY ad_id, imp_s, click_s""".stripMargin

  /** LEFT OUTER stream-stream interval join: same ad-impression/click
    * shape as [[streamingStreamJoin]], but an impression with NO click
    * inside its 60 s window is still emitted — with a null click — once
    * the watermark passes the window's end and Spark can PROVE no match
    * can ever arrive. That proof is the whole point: outer stream-stream
    * joins are only well-defined because the watermark bounds both
    * sides' buffered state; the null row materializes in the eviction
    * micro-batch after the watermark advances, not when the row arrives.
    * Unmatched CLICKS are dropped (left outer keeps the left side);
    * rows whose window the watermark has not yet passed stay buffered
    * and absent from the output. */
  def streamingOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val s = GraftSession.derived(spark, StreamPartitions)
    import s.implicits._
    val base = 1700000000L
    val imps = MemoryStream[(Int, Long)](s)
    val clicks = MemoryStream[(Int, Long)](s)
    val impDf = imps.toDF().toDF("ad_id", "s")
      .select($"ad_id", timestamp_seconds($"s").as("imp_ts"))
      .withWatermark("imp_ts", "1 minute")
    val clkDf = clicks.toDF().toDF("c_ad_id", "cs")
      .select($"c_ad_id", timestamp_seconds($"cs").as("click_ts"))
      .withWatermark("click_ts", "1 minute")
    val joined = impDf.join(clkDf,
      expr("ad_id = c_ad_id AND click_ts >= imp_ts AND " +
        "click_ts <= imp_ts + interval 60 seconds"),
      "left_outer")
    val pairs = joined.select($"ad_id", unix_timestamp($"imp_ts").as("imp_s"),
      unix_timestamp($"click_ts").as("click_s"))
    drain(pairs, "append")(
      // batch 1: ad 1 impressed + clicked in-window; ad 2 impressed,
      // never clicked
      () => {
        imps.addData((1, base + 10), (2, base + 20))
        clicks.addData((1, base + 40))
      },
      // batch 2: far-future events on BOTH streams (global watermark is
      // the min across inputs) push the watermark past ad 2's window →
      // its null-click row is emitted by state eviction. Ad 9's own
      // window is still open, so it stays buffered and absent; click 8
      // matches nothing and is dropped.
      () => {
        imps.addData((9, base + 1000))
        clicks.addData((8, base + 1000))
      },
      () => ())
      .orderBy($"ad_id")
  }

  val streamingOuterJoinSql: String =
    """SELECT CAST(ad_id AS INT) AS ad_id, CAST(imp_s AS BIGINT) AS imp_s,
      |       CAST(click_s AS BIGINT) AS click_s
      |FROM (VALUES (1, 1700000010, 1700000040), (2, 1700000020, NULL))
      |  AS t(ad_id, imp_s, click_s)
      |ORDER BY ad_id""".stripMargin

  /** Driver-contract wrapper for a stream-static (dimension-enrichment)
    * join: a MemoryStream of keyed measures joined per micro-batch
    * against the static `nation` dimension, aggregated in complete mode.
    * The static side is planned as an ordinary batch scan under each
    * micro-batch — at scale it broadcasts (bounded dimension), so the
    * stream never shuffles for the enrichment. */
  def streamingStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    val s = GraftSession.derived(spark, StreamPartitions)
    import s.implicits._
    val in = MemoryStream[(Long, Long)](s)
    val nation = graft.Tables.nation(s, dir)
      .select($"n_nationkey", $"n_name")
    val totals = in.toDF().toDF("nk", "v")
      .join(nation, $"nk" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(sum($"v").as("total"))
    drain(totals, "complete")(
      () => in.addData((0L, 10L), (1L, 20L), (0L, 5L)),
      () => in.addData((1L, 7L), (2L, 1L)))
      .orderBy($"n_name")
  }

  val streamingStaticJoinSql: String =
    """SELECT n.n_name, CAST(sum(s.v) AS BIGINT) AS total
      |FROM (VALUES (0, 10), (1, 20), (0, 5), (1, 7), (2, 1)) s(nk, v)
      |JOIN nation n ON n.n_nationkey = s.nk
      |GROUP BY n.n_name
      |ORDER BY n.n_name""".stripMargin

  /** Whether the most recent [[streamingIncrementalDedup]] run in this
    * JVM planted (and therefore exercised) the cross-batch sentinel —
    * the degraded sentinel-free path used to be visible only as a
    * stderr line, so a testdata generation could silently stop
    * exercising the state-carry property while the oracle kept
    * matching. StreamingSpec asserts this flag whenever the testdata
    * supports the sentinel, making the degradation loud in CI instead
    * of buried in a log. Test-observability surface only — never read
    * by query logic. */
  @volatile private[graft] var lastRunExercisedSentinel: Boolean = false

  /** REAL streaming incremental dedup — the continuous-ingest form of
    * the batch `dedup_incremental` query: a stream of incoming documents
    * (the `doc_id % 10 >= 7` batch among the first 100 corpus ids, fed
    * in doc_id order across two micro-batches on a single input
    * partition) is first deduplicated WITHIN the stream on content hash
    * (state-backed `dropDuplicates` — keep first arrival, which with the
    * ordered single-partition feed is the lowest doc_id), then each
    * surviving first occurrence verdicts against the STATIC registry of
    * the already-ingested corpus via a stream-static left join
    * (`dup_of_corpus` / `new`).
    *
    * Batch 2 re-feeds the first document's hash under a sentinel id
    * (+1000000): the dedup state must drop it ACROSS the micro-batch
    * boundary, so the sentinel never reaches the output — that absence
    * is asserted by the oracle (which contains no sentinel row) and
    * proves the cross-batch state carry, the property a restart-safe
    * ingest pipeline actually relies on. If a testdata generation leaves
    * fewer than 2 matching documents the run degrades to sentinel-free
    * (logged to stderr) — the oracle still matches, but the cross-batch
    * property goes unexercised for that generation rather than crashing
    * the stream. At scale the registry is the
    * per-snapshot hash table production maintains; the stream side only
    * ever shuffles 8-byte-keyed hashes into bounded dedup state. */
  def streamingIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val s = GraftSession.derived(spark, StreamPartitions)
    import s.implicits._
    val registry = graft.Tables.documents(s, dir)
      .filter($"doc_id" % 10 < 7)
      .select(md5(lower($"text")).as("content_hash")).distinct()
      .withColumn("in_corpus", lit(1))
    val incoming = graft.Tables.documents(s, dir)
      .filter($"doc_id" % 10 >= 7 && $"doc_id" < 100)
      .select($"doc_id", md5(lower($"text")).as("content_hash"))
      .orderBy($"doc_id")
      .as[(Long, String)].collect()
    val in = MemoryStream[(Long, String)](s, numPartitions = 1)
    val verdicts = in.toDF().toDF("doc_id", "content_hash")
      .dropDuplicates("content_hash")
      .join(registry, Seq("content_hash"), "left")
      .select($"doc_id", $"content_hash",
        when($"in_corpus".isNotNull, "dup_of_corpus").otherwise("new").as("status"))
    val (first, second) = incoming.splitAt(incoming.length / 2)
    // cross-batch duplicate: same hash as the first doc, sentinel id —
    // must be swallowed by the dedup STATE, not re-emitted. If a
    // testdata generation leaves the first half empty (fewer than 2
    // matching docs), degrade to a sentinel-free run instead of
    // crashing the stream on first.head
    val sentinel = first.headOption
      .map { case (id, hash) => (id + 1000000L, hash) }.toSeq
    if (sentinel.isEmpty)
      System.err.println("[streaming_incremental_dedup] <2 matching docs in " +
        "this testdata generation: sentinel-free run, cross-batch state " +
        "carry NOT exercised")
    lastRunExercisedSentinel = sentinel.nonEmpty
    drain(verdicts, "append")(
      () => in.addData(first.toSeq: _*),
      () => in.addData((second ++ sentinel).toSeq: _*))
      .orderBy($"doc_id")
  }

  val streamingIncrementalDedupSql: String =
    """WITH hashed AS (
      |  SELECT doc_id, md5(lower(text)) AS content_hash FROM documents),
      |registry AS (
      |  SELECT DISTINCT content_hash FROM hashed WHERE doc_id % 10 < 7),
      |batch AS (
      |  SELECT * FROM hashed WHERE doc_id % 10 >= 7 AND doc_id < 100),
      |firsts AS (
      |  SELECT content_hash, min(doc_id) AS doc_id
      |  FROM batch GROUP BY content_hash)
      |SELECT f.doc_id, f.content_hash,
      |       CASE WHEN r.content_hash IS NOT NULL THEN 'dup_of_corpus'
      |            ELSE 'new' END AS status
      |FROM firsts f LEFT JOIN registry r USING (content_hash)
      |ORDER BY f.doc_id""".stripMargin

  /** Driver-contract wrapper for REAL streaming session windows:
    * `session_window` (30 s gap) per user with a 10 s watermark in append
    * mode — sessions merge across micro-batches (user 1's third event
    * arrives a batch later and extends the open session), and a session
    * is emitted only once the watermark passes its close. The far-future
    * event advances the watermark past every fixture session; its own
    * session stays open and unemitted, which is the correct append-mode
    * semantics (only CLOSED sessions are final). */
  def streamingSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    val s = GraftSession.derived(spark, StreamPartitions)
    import s.implicits._
    val base = 1700000000L
    val in = MemoryStream[(Int, Long)](s)
    val sessions = in.toDF().toDF("uid", "sec")
      .select($"uid", timestamp_seconds($"sec").as("ts"))
      .withWatermark("ts", "10 seconds")
      .groupBy($"uid", session_window($"ts", "30 seconds"))
      .agg(count(lit(1)).as("n_events"))
      .select($"uid",
        unix_timestamp($"session_window.start").as("sess_start"),
        unix_timestamp($"session_window.end").as("sess_end"), $"n_events")
    drain(sessions, "append")(
      // batch 1: user 1 opens a session (events 10 s apart < 30 s gap),
      // user 2 opens a singleton session
      () => in.addData((1, base + 10), (1, base + 25), (2, base + 40)),
      // batch 2: user 1's session extends across the batch boundary
      // (35 < 25 + 30); the far-future event then closes every session
      () => in.addData((1, base + 35), (9, base + 10000)),
      () => ())
      .orderBy($"uid", $"sess_start")
  }

  val streamingSessionWindowSql: String =
    // user 1: one merged session [10, 35+30); user 2: [40, 70); user 9's
    // far-future session never closes (watermark 9990 < its end) → absent
    """SELECT CAST(uid AS INT) AS uid, CAST(sess_start AS BIGINT) AS sess_start,
      |       CAST(sess_end AS BIGINT) AS sess_end,
      |       CAST(n_events AS BIGINT) AS n_events
      |FROM (VALUES (1, 1700000010, 1700000065, 3),
      |             (2, 1700000040, 1700000070, 1)) t(uid, sess_start, sess_end, n_events)
      |ORDER BY uid, sess_start""".stripMargin

  /** Batch-id-keyed collector for `foreachBatch` sinks — the
    * checkpoint-recoverable observation point. Replayed batches overwrite
    * their slot (idempotent by batchId), which is exactly how an
    * exactly-once downstream consumer de-duplicates micro-batch replays. */
  object BatchCollector {
    val batches = new AtomicReference[Map[Long, Seq[(String, String)]]](Map.empty)
    def reset(): Unit = batches.set(Map.empty)
    def put(batchId: Long, rows: Seq[(String, String)]): Unit =
      batches.updateAndGet(m => m + (batchId -> rows))
    def allRows: Seq[(String, String)] =
      batches.get().toSeq.sortBy(_._1).flatMap(_._2)
  }

  /** Fixed-delay restart loop: (re)start the query from the same
    * checkpoint until it drains cleanly or the restart budget is spent —
    * the analog of `RestartStrategies.fixedDelayRestart(n, delay)`. */
  def runWithRestarts(maxRestarts: Int, delayMillis: Long = 0L)(
      start: () => StreamingQuery): Int = {
    var restarts = 0
    var done = false
    while (!done) {
      val q = start()
      try {
        q.processAllAvailable()
        q.stop()
        done = true
      } catch {
        case _: StreamingQueryException if restarts < maxRestarts =>
          restarts += 1
          try q.stop() catch { case _: Throwable => () }
          if (delayMillis > 0) Thread.sleep(delayMillis)
      }
    }
    restarts
  }

  /** Exactly-once upsert sink via `foreachBatch`: each micro-batch lands
    * in its own `batch=<id>` directory with an idempotent overwrite —
    * a replayed batch (after failure recovery) rewrites the SAME
    * directory instead of duplicating rows, which is how foreachBatch
    * turns Spark's at-least-once sink contract into effective
    * exactly-once on any overwrite-capable store. The merge-on-read pass
    * then resolves each key to its latest version (`max_by` on the
    * sequence number) — the Delta/Iceberg MERGE pattern with the
    * transaction log replaced by batch-id directories.
    *
    * Scale notes: the per-batch write is append-shaped (no global
    * shuffle); the merge-on-read is one hash aggregation keyed on `k`
    * with map-side `max_by` truncation. A compaction pass
    * (sink_compacted_parquet) bounds the directory count. */
  def streamingForeachBatchUpsert(spark: SparkSession, dir: String): DataFrame = {
    val s = GraftSession.derived(spark, StreamPartitions)
    import s.implicits._
    val outDir = TempDirs.create("graft_fbatch").toString
    val ckpt = TempDirs.create("graft_fbatch_ckpt")
    val in = MemoryStream[(Long, String, Long)](s, numPartitions = 1)
    val q = in.toDF().toDF("k", "v", "seq")
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/batch=$batchId")
      }
      .start()
    try {
      in.addData((1L, "a", 1L), (2L, "b", 2L))
      q.processAllAvailable()
      // batch 2 upserts key 1 and inserts key 3
      in.addData((1L, "a2", 3L), (3L, "c", 4L))
      q.processAllAvailable()
    } finally stop(q, ckpt) // `outDir` stays: the returned frame reads it lazily
    // the directory, not a `batch=*` glob: Spark's sink-log lookup stats a
    // glob literally and logs the failure; recursive lookup reads the same
    // files and, like the glob, infers no `batch` partition column
    s.read.schema("k BIGINT, v STRING, seq BIGINT").option("recursiveFileLookup", "true")
      .parquet(outDir)
      .groupBy($"k")
      .agg(max_by(struct($"v", $"seq"), $"seq").as("t"))
      .select($"k", $"t.v".as("v"), $"t.seq".as("seq"))
      .orderBy($"k")
  }

  val streamingForeachBatchUpsertSql: String =
    """SELECT CAST(k AS BIGINT) AS k, v, CAST(seq AS BIGINT) AS seq
      |FROM (VALUES (1, 'a2', 3), (2, 'b', 2), (3, 'c', 4)) AS t(k, v, seq)
      |ORDER BY k""".stripMargin

  /** Bounded-history anomaly processor: per event-type key, a ring of
    * the trailing ≤50 integer-cents values lives in `ValueState`; each
    * arriving event is z-scored against that ring (which excludes the
    * event itself), flagged at |z| > 3 with ≥ 20 observations and
    * strictly positive exact-integer variance, then pushed into the
    * ring. This is EXACTLY the state a 100 TB deployment keeps — 50
    * longs per key, independent of stream length — which is why the
    * batch [[graft.operators.EventOps.eventsRollingAnomaly]] names it
    * as its scale path. Within a batch the rows are sorted by
    * (event-time, event_id) before folding, so the fold order equals
    * the batch window's total order whatever the shuffle delivered;
    * across batches the caller feeds time-ordered chunks. The z doubles
    * come from the same exact-integer → IEEE expression tree as the
    * batch query, so streaming, batch, and the DuckDB oracle agree
    * bit-for-bit. */
  final class RollingAnomalyProcessor
      extends StatefulProcessor[String, (Long, Long, String, Long), (Long, String, Long, Double)] {
    @transient private var ring: ValueState[Tuple1[Seq[Long]]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      ring = getHandle.getValueState("ring",
        Encoders.product[Tuple1[Seq[Long]]], TTLConfig.NONE)
    override def handleInputRows(key: String,
        rows: Iterator[(Long, Long, String, Long)],
        timers: TimerValues): Iterator[(Long, String, Long, Double)] = {
      var hist = if (ring.exists()) ring.get()._1.toVector else Vector.empty[Long]
      val out = rows.toVector.sortBy(r => (r._2, r._1)).flatMap { case (id, _, _, c) =>
        val n = hist.length.toLong
        var s = 0L; var s2 = 0L
        hist.foreach { v => s += v; s2 += v * v }
        val flagged =
          if (n >= 20 && n * s2 - s * s > 0) {
            val std = math.sqrt((s2.toDouble - s.toDouble * s.toDouble / n) / (n - 1))
            if (math.abs(c - s.toDouble / n) > 3 * std)
              Some((id, key, n, (c - s.toDouble / n) / std))
            else None
          } else None
        hist = (hist :+ c).takeRight(50)
        flagged
      }
      ring.update(Tuple1(hist))
      out.iterator
    }
  }

  /** Driver-contract wrapper: the first 1200 events replayed through
    * [[RollingAnomalyProcessor]] as a REAL 3-micro-batch stream (RocksDB
    * state store), proving the batch detector's bounded-state streaming
    * twin produces the identical alarms — the oracle is the batch
    * window SQL over the same slice, not a transcript. The `.collect()`
    * feeds the fixture MemoryStream in time order (harness, not hot
    * path; chunk boundaries respect the global order so per-key state
    * sees the same prefix the batch window does). */
  def streamingRollingAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val s = GraftSession.derived(spark, StreamPartitions, RocksDbStateStore)
    import s.implicits._
    val fixture = graft.Tables.events(s, dir)
      .filter($"event_id" < 1200)
      .select($"event_id", expr("unix_micros(ts)").as("us"), $"event_type",
        expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("c"))
      .orderBy($"us", $"event_id")
      .as[(Long, Long, String, Long)].collect()
    val in = MemoryStream[(Long, Long, String, Long)](s, numPartitions = 1)
    val alarms = in.toDS()
      .groupByKey(_._3)
      .transformWithState(new RollingAnomalyProcessor,
        TimeMode.None(), OutputMode.Append(),
        Encoders.product[(Long, String, Long, Double)])
      .toDF("event_id", "event_type", "baseline_n", "z")
    drain(alarms, "append")(fixture.grouped(math.max(1, fixture.length / 3 + 1))
      .map[() => Unit](chunk => () => in.addData(chunk.toSeq: _*)).toSeq: _*)
      .orderBy($"event_id")
  }

  val streamingRollingAnomalySql: String =
    """WITH ev AS (
      |  SELECT event_id, ts, event_type,
      |         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
      |  FROM events WHERE event_id < 1200),
      |hist AS (
      |  SELECT event_id, event_type, c,
      |    count(*) OVER w AS n,
      |    sum(c) OVER w AS s,
      |    sum(c * c) OVER w AS s2
      |  FROM ev
      |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
      |               ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING))
      |SELECT event_id, event_type, n AS baseline_n,
      |  (c - CAST(s AS DOUBLE) / n) /
      |    sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1)) AS z
      |FROM hist
      |WHERE n >= 20 AND n * s2 - s * s > 0
      |  AND abs(c - CAST(s AS DOUBLE) / n) >
      |    3 * sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1))
      |ORDER BY event_id""".stripMargin

  /** Streaming keep-last downsampling (`streaming_downsample`): the
    * batch [[graft.operators.EventOps.eventsDownsample]] semantics run
    * as a REAL incremental stream — per (user, minute), the stateful
    * `max(struct(ts, event_id, value))` aggregation keeps only the
    * latest event, and a second micro-batch UPDATES a bucket the first
    * batch already aggregated (user 1's minute advances from event 102
    * to 104) plus exercises the exact-tie rule (user 2 gets two events
    * at the SAME timestamp; the higher event_id wins, deterministically
    * in both the batch and streaming forms). State per key is ONE
    * struct — the bounded-state posture a 100 TB feed needs — and the
    * same single-aggregation plan as the batch form, just state-backed.
    * Oracle: VALUES fixture of the final decimated table. */
  def streamingDownsample(spark: SparkSession, dir: String): DataFrame = {
    val s = GraftSession.derived(spark, StreamPartitions)
    import s.implicits._
    val in = MemoryStream[(Long, Long, Long, Double)](s)
    val agg = in.toDF()
      .select($"_1".as("user_id"), timestamp_seconds($"_2").as("ts"),
        $"_3".as("event_id"), $"_4".as("value"))
      .groupBy($"user_id",
        window($"ts", "1 minute").getField("start").as("m_ts"))
      .agg(max(struct($"ts", $"event_id", $"value")).as("last"))
    drain(agg, "complete")(
      () => in.addData((1L, 1700000010L, 101L, 1.0), (1L, 1700000020L, 102L, 2.0),
        (2L, 1700000070L, 103L, 3.0)),
      () => in.addData((1L, 1700000030L, 104L, 4.0), (2L, 1700000070L, 105L, 5.0)))
      .select($"user_id", unix_timestamp($"m_ts").as("m_start"),
        $"last.event_id".as("event_id"), $"last.value".as("value"))
      .orderBy($"user_id", $"m_start")
  }

  val streamingDownsampleSql: String =
    // fixture: user 1's minute [1699999980] ends at event 104 (batch-2
    // update), user 2's minute [1700000040] resolves the ts tie to the
    // higher event_id 105
    """SELECT user_id, m_start, event_id, CAST(value AS DOUBLE) AS value
      |FROM (VALUES (1, 1699999980, 104, 4.0), (2, 1700000040, 105, 5.0))
      |  AS t(user_id, m_start, event_id, value)
      |ORDER BY user_id, m_start""".stripMargin
}
