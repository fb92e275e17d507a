package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.streaming.StreamingOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Streaming ports of the reference's MiniCluster tests
  * (`TestFlinkStreams.java`): event-time window + maxBy through a
  * MemoryStream, stateful concat prefixes, file roundtrip. */
class StreamingSpec extends SparkTestBase {

  test("streaming_rolling_anomaly alarms bit-equal the batch detector on the same slice") {
    val spark0 = spark
    import spark0.implicits._
    // independent implementations: StatefulProcessor ring fold vs the
    // batch 50-row window — same slice must yield identical alarms,
    // including the z DOUBLES (same exact-integer -> IEEE tree)
    val streamed = SparkEntry.queries("streaming_rolling_anomaly")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.nonEmpty, "no streamed alarms at test SF — spec is vacuous")
    val batch = SparkEntry.queries("events_rolling_anomaly")(spark, sfDir)
      .filter($"event_id" < 1200)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getDouble(4)))
    assert(streamed.sortBy(_._1).toSeq == batch.sortBy(_._1).toSeq,
      s"streaming/batch drift: streamed=${streamed.length} batch=${batch.length}")
    // the state really is bounded: no alarm cites more than 50 baselines
    assert(streamed.forall(a => a._3 >= 20 && a._3 <= 50))
  }

  test("streaming_incremental_dedup swallows the re-fed hash across batches") {
    val out = SparkEntry.queries("streaming_incremental_dedup")(spark, sfDir).collect()
    assert(out.nonEmpty)
    // the batch-2 sentinel (first doc's hash under doc_id+1000000) must be
    // absorbed by the dedup STATE carried across the micro-batch boundary
    assert(out.forall(_.getLong(0) < 1000000L), "sentinel escaped the dedup state")
    // and the surviving stream is hash-unique (within-stream dedup held)
    val hashes = out.map(_.getString(1))
    assert(hashes.distinct.length == hashes.length, "duplicate hash in output")
    assert(out.map(_.getString(2)).forall(Set("dup_of_corpus", "new")))
    // the sentinel-free degraded path must not pass silently: when this
    // testdata generation has >= 1 doc in the incoming batch (it does —
    // out is non-empty), the run must have planted the cross-batch
    // sentinel, otherwise the state-carry property above was vacuous
    assert(StreamingOps.lastRunExercisedSentinel,
      "sentinel path did not run: cross-batch state carry went unexercised")
  }

  test("event-time tumbling window maxBy over a MemoryStream (W1)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // reference fixture (TestFlinkStreams.java:63-67): (15, t+2min),
    // (17, t+25min+1s), (16, t+25min) — 5s windows → two windows,
    // maxes 15 and 17
    val base = 1700000000L
    val in = MemoryStream[(Int, Long)]
    in.addData((15, base + 120), (17, base + 1501), (16, base + 1500))
    val events = in.toDF()
      .select(timestamp_seconds($"_2").as("ts"), $"_1".as("value"))
    val rows = StreamingOps.drain(StreamingOps.tumblingWindowMax(events), "complete")()
      .orderBy("w_start").collect()
    assert(rows.map(_.getInt(1)).toSeq == Seq(15, 17))
  }

  test("stateful concat emits every prefix in arrival order (K2)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[UnstableData]
    val rows = StreamingOps.drain(
        StreamingOps.concatPrefixes(in.toDS()).toDF("group_id", "prefix"), "append")(
      () => in.addData(UnstableData("a", 0, 0, "g1"), UnstableData("b", 0, 0, "g1")),
      // state persists across micro-batches: next batch continues "ab"
      () => in.addData(UnstableData("c", 0, 0, "g1"), UnstableData("x", 0, 0, "g2")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows.contains(("g1", "abc")), s"expected cumulative abc in $rows")
    assert(rows.contains(("g2", "x")))
    val g1 = rows.filter(_._1 == "g1").map(_._2)
    assert(g1 == Set("a", "ab", "abc"), s"prefix emission broken: $g1")
  }

  test("parquet file source streams the events table (windowed agg parity)") {
    import spark.implicits._
    // stream the real events parquet through a watermarked tumbling
    // window and check totals equal the batch aggregation
    val batch = Tables.events(spark, sfDir)
    // FileStreamSource needs a directory; stage the single parquet file
    val dir = TempDirs.create("graft_events_stream")
    Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"))
    // stream with whatever raw ts type the file carries (nanos-long or
    // micros NTZ, generation-dependent) and normalize exactly like
    // Tables.events does for batch
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(dir.toString).schema
    val streamed = Tables.normalizeEventTs(
      spark.readStream
        .schema(rawSchema)
        .parquet(dir.toString))
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour"))
      .agg(count(lit(1)).as("n"))
    val streamTotal = StreamingOps.drain(streamed, "complete")()
      .agg(sum($"n")).collect()(0).getLong(0)
    assert(streamTotal == batch.count())
  }

  test("streaming_outer_join: unmatched impression emits a null click after watermark") {
    val rows = SparkEntry.queries("streaming_outer_join")(spark, sfDir).collect()
    assert(rows.length == 2, s"expected 2 rows, got ${rows.length}")
    val ad1 = rows.find(_.getInt(0) == 1).get
    assert(!ad1.isNullAt(2), "clicked impression lost its click")
    val ad2 = rows.find(_.getInt(0) == 2).get
    assert(ad2.isNullAt(2),
      "unclicked impression must surface with a null click once provably unmatchable")
    // ad 9 (window still open) and click 8 (right side unmatched) absent
    assert(!rows.exists(_.getInt(0) == 9) && !rows.exists(_.getInt(0) == 8))
  }

  test("streaming_dedup_watermarked: state expiry re-admits a late duplicate") {
    val rows = SparkEntry.queries("streaming_dedup_watermarked")(spark, sfDir).collect()
    val id1 = rows.filter(_.getLong(0) == 1L)
    assert(id1.length == 2,
      s"id 1 should appear twice (pre- and post-expiry), got ${id1.length}")
    assert(rows.filter(_.getLong(0) == 2L).length == 1,
      "in-window duplicate suppressed exactly once")
  }

  test("sql entry point: plain SQL over registered views") {
    Sql.register(spark, sfDir)
    val out = spark.sql(
      """SELECT l_returnflag, count(*) AS n FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("A", "N", "R"))
    // events view is readable despite TIMESTAMP(NANOS) parquet
    assert(spark.sql("SELECT count(*) FROM events").collect()(0).getLong(0) ==
      Tables.events(spark, sfDir).count())
    // graft_dot is SQL-callable after registration
    val dot = spark.sql("SELECT graft_dot(array(1L, 2L), array(3L, 4L)) AS d")
      .collect()(0).getLong(0)
    assert(dot == 11L)
  }

  test("similarity_ann_lsh recall vs brute force (logged)") {
    val brute = SparkEntry.queries("similarity_topk")(spark, sfDir)
      .filter("rk <= 3").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = SparkEntry.queries("similarity_ann_lsh")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ann intersect brute).size.toDouble / brute.size
    info(f"ANN recall@3 = $recall%.2f (${ann.size} ANN pairs, ${brute.size} exact)")
    assert(ann.nonEmpty)
  }

  test("watermark drops late data (W2 semantics)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000L
    val in = MemoryStream[(Int, Long)]
    // NOTE: must group on the window() column itself — grouping on its
    // .start field severs the watermark linkage and append mode rejects
    // the aggregation as unwatermarked
    val agg = in.toDF().toDF("v", "s")
      .select(timestamp_seconds($"s").as("ts"), $"v")
      .withWatermark("ts", "10 seconds")
      .groupBy(window($"ts", "5 seconds").as("w"))
      .agg(sum($"v").as("total"))
      .select($"w.start".as("w"), $"total")
    val firstWindow = StreamingOps.drain(agg, "append")(
      // batch 1: one event in the first window, plus an event far ahead
      // that advances the watermark past the first window's end
      () => in.addData((1, base), (1, base + 100)),
      // batch 2: a LATE event for the already-finalized first window —
      // must be dropped, not re-aggregated
      () => in.addData((100, base + 1)))
      .select(unix_timestamp($"w").as("ws"), $"total")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(firstWindow.get(base) == Some(1L),
      s"late event leaked into the closed window: $firstWindow")
  }

  // the TempDirs root; the entries of `dir` whose names start with `prefix`;
  // the checkpoints Spark makes itself when a query names none
  private lazy val tempRoot = TempDirs.create("probe").getParent.toFile
  private def entries(dir: File, prefix: String): Set[String] =
    dir.list().filter(_.startsWith(prefix)).toSet
  private def sparkTemporaries(): Set[String] =
    entries(new File(System.getProperty("java.io.tmpdir")), "temporary-")

  /** Records the name of every streaming query started on `s`. */
  private final class StartedQueries(s: SparkSession) extends StreamingQueryListener {
    val names = new ConcurrentLinkedQueue[String]()
    s.streams.addListener(this)
    override def onQueryStarted(e: QueryStartedEvent): Unit = names.add(e.name)
    override def onQueryProgress(e: QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  test("drain checkpoints under TempDirs, then stops its query and deletes the checkpoint") {
    val s = GraftSession.derived(spark, StreamingOps.StreamPartitions)
    import s.implicits._
    val started = new StartedQueries(s)
    val temporaries = sparkTemporaries()
    val in = MemoryStream[Long](s)
    var running = Set.empty[String] // its checkpoint while the query runs
    val out = StreamingOps.drain(in.toDF().toDF("v"), "append")(
      () => in.addData(1L, 2L),
      () => { running = entries(tempRoot, started.names.peek()); in.addData(3L) })
    assert(out.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(started.names.size == 1)
    val name = started.names.peek()
    assert(running.size == 1, s"no checkpoint of $name under $tempRoot while it ran")
    assert(s.streams.active.isEmpty, "drain left its query running")
    assert(entries(tempRoot, name).isEmpty, s"checkpoint of $name left under $tempRoot")
    assert((sparkTemporaries() -- temporaries).isEmpty)
  }

  test("drain rethrows a failed batch with its query stopped and no checkpoint left") {
    val s = GraftSession.derived(spark, StreamingOps.StreamPartitions)
    import s.implicits._
    val started = new StartedQueries(s)
    val temporaries = sparkTemporaries()
    val in = MemoryStream[Long](s)
    val failing = in.toDS().map(v => if (v == 2L) throw new IllegalStateException("bad row") else v)
    intercept[StreamingQueryException] {
      StreamingOps.drain(failing.toDF(), "append")(() => in.addData(1L), () => in.addData(2L))
    }
    // a feed that throws before its batch runs leaves a live query behind
    // unless drain stops it
    val idle = MemoryStream[Long](s)
    intercept[IllegalStateException] {
      StreamingOps.drain(idle.toDF(), "append")(() => throw new IllegalStateException("feed failed"))
    }
    assert(started.names.size == 2)
    assert(s.streams.active.isEmpty, "drain left a query running")
    started.names.asScala.foreach { name =>
      assert(entries(tempRoot, name).isEmpty, s"checkpoint of $name left under $tempRoot")
    }
    assert((sparkTemporaries() -- temporaries).isEmpty)
  }

  test("print sink (O1): console sink drains a micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the reference's O1 `print()` sink (Main.java:54) — Spark's analog is
    // the console sink; the assertion is that the query drains cleanly
    // (console output itself is not capturable by design)
    val in = MemoryStream[Person]
    in.addData(Person("Fred", 35), Person("Wilma", 30))
    val q = in.toDS().writeStream.format("console")
      .option("checkpointLocation", TempDirs.create("graft_console_ckpt").toString).start()
    try {
      q.processAllAvailable()
      assert(q.lastProgress.sources.nonEmpty)
    } finally q.stop()
  }

  test("RocksDB state store: stateful concat state survives micro-batches") {
    // swap the state backend for the production-grade RocksDB provider —
    // at 100 TB keyed state must spill off-heap/disk, which the default
    // HDFS-backed in-memory provider cannot
    val s = GraftSession.derived(spark, StreamingOps.RocksDbStateStore)
    import s.implicits._
    val in = MemoryStream[UnstableData](s, numPartitions = 1)
    val prefixes = StreamingOps.drain(
        StreamingOps.concatPrefixes(in.toDS()).toDF("group_id", "prefix"), "append")(
      () => in.addData(UnstableData("a", 0, 0, "g"), UnstableData("b", 0, 0, "g")),
      () => in.addData(UnstableData("c", 0, 0, "g")))
      .collect().map(_.getString(1)).sorted
    // state carried across batches through RocksDB: "ab" + "c" → "abc"
    assert(prefixes.toSeq == Seq("a", "ab", "abc"))
  }

  test("streaming text file roundtrip (S3+O2)") {
    import spark.implicits._
    val inDir = TempDirs.create("graft_stream_in").toString
    val outDir = TempDirs.create("graft_stream_out").toString
    val ckpt = TempDirs.create("graft_stream_ckpt").toString
    Seq("love", "flink", "hardly").toDF("value")
      .coalesce(1).write.mode("overwrite").text(inDir)
    val q = spark.readStream.text(inDir)
      .writeStream.format("text")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    val lines = spark.read.text(outDir).collect().map(_.getString(0)).sorted
    assert(lines.toSeq == Seq("flink", "hardly", "love"))
  }

  test("RocksDB state store backend actually carries the streaming state") {
    import scala.jdk.CollectionConverters._
    val s = GraftSession.derived(spark,
      StreamingOps.StreamPartitions, StreamingOps.RocksDbStateStore)
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[(Long, Long)](numPartitions = 1)
    val q = in.toDF().toDF("k", "v").groupBy($"k").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("rocks_probe").outputMode("complete")
      .option("checkpointLocation", TempDirs.create("graft_rocks_ckpt").toString)
      .start()
    try {
      in.addData((1L, 1L), (1L, 2L), (2L, 1L))
      q.processAllAvailable()
      val stateOps = q.lastProgress.stateOperators
      assert(stateOps.nonEmpty, "no state operator in the streaming progress")
      val metricKeys = stateOps.head.customMetrics.keySet.asScala
      assert(metricKeys.exists(_.toLowerCase.contains("rocksdb")),
        s"state store is not RocksDB-backed; metrics: $metricKeys")
      assert(s.table("rocks_probe").count() == 2)
    } finally q.stop()
  }

  test("foreachBatch upsert sink: restart from the checkpoint, no duplicates in merge-on-read") {
    val s = GraftSession.derived(spark, StreamingOps.StreamPartitions)
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val outDir = TempDirs.create("graft_fb_recover").toString
    val ckpt = TempDirs.create("graft_fb_recover_ckpt").toString
    val in = MemoryStream[(Long, String, Long)](numPartitions = 1)
    def start() = in.toDF().toDF("k", "v", "seq")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        batch.coalesce(1).write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()
    // first incarnation processes batch 0, then the query dies
    val q1 = start()
    in.addData((1L, "a", 1L), (2L, "b", 2L))
    q1.processAllAvailable()
    q1.stop()
    // second incarnation resumes from the SAME checkpoint — committed
    // offsets are not replayed, new data lands in a new batch dir; a
    // replay (if any) would overwrite its own dir, never append
    val q2 = start()
    in.addData((1L, "a2", 3L))
    try q2.processAllAvailable() finally q2.stop()
    // every batch dir, read as the scenario reads it (no `batch=*` glob)
    def batches() = s.read.option("recursiveFileLookup", "true").parquet(outDir)
    val merged = batches()
      .groupBy($"k")
      .agg(org.apache.spark.sql.functions.max_by(
        org.apache.spark.sql.functions.struct($"v", $"seq"), $"seq").as("t"))
      .select($"k", $"t.v".as("v"), $"t.seq".as("seq"))
      .orderBy($"k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(merged == Seq((1L, "a2", 3L), (2L, "b", 2L)),
      s"restart duplicated or lost upserts: $merged")
    // and the raw row count proves batch 0 was not re-emitted
    assert(batches().count() == 3)
  }

  test("graftgen DSv2 micro-batch stream delivers all rows across multiple real batches") {
    val s = GraftSession.derived(spark, StreamingOps.StreamPartitions)
    import s.implicits._
    val q = s.readStream.format("graftgen")
      .option("n", "1000").option("batchRows", "300").option("parts", "2")
      .load()
      .groupBy($"bucket").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("dsv2_stream_probe")
      .outputMode("complete")
      .option("checkpointLocation", TempDirs.create("graft_dsv2_ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      val progressed = q.recentProgress
      assert(progressed.map(_.numInputRows).sum == 1000L,
        "micro-batch offsets lost or duplicated rows")
      assert(progressed.count(_.numInputRows > 0) >= 2,
        "expected the interval to arrive over multiple micro-batches")
      assert(s.table("dsv2_stream_probe")
        .agg(sum($"n")).collect()(0).getLong(0) == 1000L)
    } finally q.stop()
  }

  test("graftgen admission control honors engine read limits") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.sources.{GenMicroBatchStream, GenOffset}
    val s = new GenMicroBatchStream(0L, 1000L, 2, 300L, Array("id"))
    def next(from: Long, l: ReadLimit): Long =
      s.latestOffset(GenOffset(from), l).asInstanceOf[GenOffset].pos
    assert(next(0L, s.getDefaultReadLimit) == 300L)
    assert(next(0L, ReadLimit.maxRows(10L)) == 10L)
    assert(next(990L, ReadLimit.allAvailable()) == 1000L)
    assert(next(0L, ReadLimit.allAvailable()) == 1000L)
    assert(next(0L, ReadLimit.compositeLimit(
      Array(ReadLimit.allAvailable(), ReadLimit.maxRows(50L)))) == 50L)
    // stateless: a start offset ahead of lo (checkpoint recovery) is
    // advanced FROM, never regressed below
    assert(next(600L, s.getDefaultReadLimit) == 900L)
  }

  test("graftgen drains fully under Trigger.AvailableNow and then terminates") {
    // AvailableNow pins the drain target by asking the source for its
    // latest offset ONCE up front — through the ReadAllAvailable limit
    // path — then processes up to it and stops. One run must deliver
    // the whole interval exactly once, not one batchRows step.
    val s = GraftSession.derived(spark, StreamingOps.StreamPartitions)
    import s.implicits._
    val outDir = TempDirs.create("graft_gen_avail").toString
    val ckpt = TempDirs.create("graft_gen_avail_ckpt").toString
    val q = s.readStream.format("graftgen")
      .option("n", "1000").option("batchRows", "300").option("parts", "2")
      .load()
      .select($"id")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val ids = s.read.parquet(outDir).select($"id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids.size == 1000 && ids.distinct.size == 1000 &&
      ids.head == 0L && ids.last == 999L,
      s"AvailableNow drain incomplete or duplicated: ${ids.size} rows, " +
        s"range [${ids.headOption.getOrElse(-1L)}, ${ids.lastOption.getOrElse(-1L)}]")
  }

  test("graftgen stream resumes past the committed offset after a checkpoint restart") {
    // on a checkpoint restart the committed offset is ahead of the
    // fresh instance's lo; a source that derives its next offset from
    // instance state (the pre-SupportsAdmissionControl bug) regresses —
    // the engine then either stalls at the old high-water mark or
    // replays the committed window, duplicating rows on an append sink.
    // Run 1 drains a 300-row interval and commits offset 300; run 2
    // reopens the SAME checkpoint with the interval grown to 1000 and
    // must emit EXACTLY [300, 1000): a regressing source would stall at
    // 300 total, a replaying one would duplicate [0, 300).
    val s = GraftSession.derived(spark, StreamingOps.StreamPartitions)
    import s.implicits._
    val ckpt = TempDirs.create("graft_gen_ckpt").toString
    val outDir = TempDirs.create("graft_gen_out").toString
    def runOnce(n: Int): Unit = {
      val q = s.readStream.format("graftgen")
        .option("n", n.toString).option("batchRows", "300").option("parts", "2")
        .load()
        .select($"id")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    runOnce(300)
    runOnce(1000)
    val ids = s.read.parquet(outDir).select($"id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids.size == 1000,
      s"expected ids [0,1000) after restart, got ${ids.size} rows " +
        "(300 = restart stalled on a regressed offset; >1000 = committed window replayed)")
    assert(ids.distinct.size == ids.size, "restart duplicated committed rows")
    assert(ids.head == 0L && ids.last == 999L, s"wrong id range: [${ids.head}, ${ids.last}]")
  }

  test("stream-stream join state is PURGED as the watermark advances (bounded state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the production-required property behind streaming_stream_join: the
    // event-time bound + watermarks must let Spark EVICT buffered rows,
    // or the join state grows with the stream and dies at scale. Proven
    // from StreamingQueryProgress: numRowsRemoved > 0 on the
    // symmetricHashJoin operator after the watermark sweeps past the
    // buffered interval.
    val base = 1700000000L
    val imps = MemoryStream[(Int, Long)]
    val clicks = MemoryStream[(Int, Long)]
    val impDf = imps.toDF().toDF("ad_id", "s")
      .select($"ad_id", timestamp_seconds($"s").as("imp_ts"))
      .withWatermark("imp_ts", "1 minute")
    val clkDf = clicks.toDF().toDF("c_ad_id", "cs")
      .select($"c_ad_id", timestamp_seconds($"cs").as("click_ts"))
      .withWatermark("click_ts", "1 minute")
    val joined = impDf.join(clkDf,
      expr("ad_id = c_ad_id AND click_ts >= imp_ts AND " +
        "click_ts <= imp_ts + interval 60 seconds"))
    val q = joined.select($"ad_id")
      .writeStream.format("memory").queryName("ssj_purge").outputMode("append")
      .option("checkpointLocation", TempDirs.create("graft_ssj_ckpt").toString)
      .start()
    try {
      imps.addData((1, base + 10), (2, base + 20))
      clicks.addData((1, base + 40))
      q.processAllAvailable()
      // jump event time far ahead so the watermark passes every buffered row
      imps.addData((9, base + 100000))
      clicks.addData((9, base + 100010))
      q.processAllAvailable()
      // eviction runs against the NEW watermark on the following batch
      imps.addData((10, base + 200000))
      clicks.addData((10, base + 200010))
      q.processAllAvailable()
      val removed = q.recentProgress.flatMap(_.stateOperators)
        .filter(_.operatorName == "symmetricHashJoin").map(_.numRowsRemoved).sum
      assert(removed > 0,
        "watermark never purged stream-stream join state — unbounded at scale")
    } finally q.stop()
  }

  test("chained windows execute TWO stateful aggregations in one streaming plan (SPARK-40925)") {
    // the streaming_chained_windows ORACLE pins the row semantics (tier-2
    // emits once per closed 200 s window); this pins the PLAN — both
    // windowed aggregations must be stateful operators of the SAME
    // executed streaming query, not a tier-2 recomputation from scratch.
    // StreamingQueryProgress.stateOperators reports exactly the stateful
    // operators of the executed plan, one entry per state store.
    val s = GraftSession.derived(spark, StreamingOps.StreamPartitions)
    import s.implicits._
    val name = "chained_plan_probe"
    val base = 1700000000L
    val q = s.readStream.format("graftgen")
      .option("n", "1000").option("batchRows", "300").option("parts", "2")
      .load()
      .select($"id", timestamp_seconds(lit(base) + $"id").as("ts"))
      .withWatermark("ts", "10 seconds")
      .groupBy(window($"ts", "100 seconds"))
      .agg(count(lit(1)).as("n"), sum($"id").as("sum_id"))
      .groupBy(window(window_time($"window"), "200 seconds").as("w2"))
      .agg(sum($"n").as("n"), sum($"sum_id").as("sum_id"))
      .select(unix_timestamp($"w2.start").as("w_start"), $"n", $"sum_id")
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", TempDirs.create("graft_chained_ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      val ops = q.lastProgress.stateOperators
      assert(ops.length == 2,
        s"expected 2 stateful operators (chained windowed aggs), got ${ops.length}: " +
          ops.map(_.operatorName).mkString(", "))
      assert(ops.forall(_.operatorName == "stateStoreSave"),
        s"both tiers must be StateStoreSave aggregations, got " +
          ops.map(_.operatorName).mkString(", "))
      // and the watermark really withheld the open tier-2 window:
      // [0,800) closed → 4 rows; [800,1000) pending
      assert(s.table(name).count() == 4)
    } finally q.stop()
  }
}
