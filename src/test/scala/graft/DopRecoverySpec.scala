package graft

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{BatchCollector, CollectingSink}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** DOP-parameterized ports of the reference's stateful recovery scenarios
  * (`/root/reference/src/test/ru/hse/flinkanomaly/TestFlinkStatefulStreamsRecover.java:69-185`
  * runs every scenario at parallelism 1 AND 2 via
  * `@ParameterizedTest @ValueSource(ints = {1, 2})`), plus the
  * union-under-failure scenario
  * (`TestFlinkStreamsRecover.java:84-96`). Counter-based, no sleeps
  * (SURVEY §7.4): failure injection is deterministic through
  * [[FailureRegistry]].
  *
  * Parallelism mapping: the reference's environment DOP becomes the
  * MemoryStream input-partition count — at DOP 2 the elements of one
  * group interleave across two source partitions before the keyed-state
  * shuffle, which is exactly the arrival-order nondeterminism the
  * reference parameterizes over. Failures with `failureTimes <= 3` are
  * absorbed by task retries (master `local[4, 4]`, the fixed-delay
  * restart analog for tasks); `failureTimes >= 5` exhausts the budget and
  * forces a full query crash + restart from the checkpoint.
  *
  * Invariant asserted for EVERY group (the reference's
  * `checkFullGroupIsConcatenated`, `TestFlinkStatefulStreamsRecover.java:158-167`):
  * after recovery the group's final concatenation contains ALL of the
  * group's names — and, stronger than the reference's AT_LEAST_ONCE
  * checkpoints, each name EXACTLY once (Spark micro-batch replay keeps
  * `GroupState` exactly-once). */
class DopRecoverySpec extends SparkTestBase {

  /** Runs `data` (plus optional later micro-batches) through
    * unstable-filter → keyed stateful concat at the given input DOP,
    * collecting per-batch outputs; returns (finalConcatByGroup, restarts). */
  private def runKeyedConcat(
      dop: Int,
      batches: Seq[Seq[UnstableData]],
      maxRestarts: Int = 20): (Map[String, String], Int) = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    FailureRegistry.reset()
    BatchCollector.reset()
    val ckpt = TempDirs.create(s"graft_dop${dop}_ckpt").toString
    val in = MemoryStream[UnstableData](numPartitions = dop)
    def start() = StreamingOps.concatPrefixes(
        StreamingOps.unstableFilter(in.toDS()))
      .writeStream
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[(String, String)], batchId: Long) =>
        BatchCollector.put(batchId, ds.collect().toSeq)
      }
      .option("checkpointLocation", ckpt).outputMode("append")
      .start()
    var restarts = 0
    batches.foreach { b =>
      in.addData(b: _*)
      restarts += StreamingOps.runWithRestarts(maxRestarts)(start _)
    }
    val finalByGroup = BatchCollector.allRows
      .groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2).maxBy(_.length) }
    (finalByGroup, restarts)
  }

  /** The reference's group-completeness check, strengthened to
    * exactly-once: the final concat is a permutation of the group's
    * names. */
  private def assertFullGroup(concat: String, names: Seq[String]): Unit =
    assert(concat.toSeq.map(_.toString).sorted == names.sorted,
      s"group concat '$concat' is not a permutation of $names")

  for (dop <- Seq(1, 2)) {

    test(s"few sparse stateful fails recover at DOP $dop (ref :69-88)") {
      // a clean; b, c, d each fail once — absorbed by task retries
      val data = Seq(
        UnstableData("a", 0, 0, "g"), UnstableData("b", 1, 0, "g"),
        UnstableData("c", 1, 0, "g"), UnstableData("d", 1, 0, "g"))
      val (byGroup, _) = runKeyedConcat(dop, Seq(data))
      assertFullGroup(byGroup("g"), Seq("a", "b", "c", "d"))
      Seq("b", "c", "d").foreach(n => assert(FailureRegistry.failures(n) == 1,
        s"$n should have failed exactly once"))
    }

    test(s"many frequent stateful fails at DOP $dop (ref :89-117)") {
      // 8 keys, every element of d..h failing once — the
      // ManyFrequentFailures shape: more failures than stable elements
      // in flight at once
      val names = ('a' to 'h').map(_.toString)
      val data = names.map(n =>
        UnstableData(n, if (n >= "d") 1 else 0, 0, "g"))
      val (byGroup, _) = runKeyedConcat(dop, Seq(data))
      assertFullGroup(byGroup("g"), names)
      ('d' to 'h').foreach(n => assert(FailureRegistry.failures(n.toString) == 1,
        s"$n should have failed exactly once"))
    }

    test(s"keyed groups: full-group invariant after crash+restart at DOP $dop (ref :133-167)") {
      // batch 1: groups A and B interleaved, EVERY element failing once
      // (task-retry recovery); batch 2: i fails past the retry budget →
      // query crash + restart from checkpoint (job-level recovery), then
      // both groups must still be complete and exactly-once
      val groupA = Seq("a", "b", "c", "d")
      val groupB = Seq("e", "f", "g", "h")
      val batch1 = (groupA.map(n => UnstableData(n, 1, 0, "A")) ++
        groupB.map(n => UnstableData(n, 1, 0, "B")))
      val batch2 = Seq(UnstableData("i", 5, 0, "A"), UnstableData("j", 0, 0, "B"))
      val (byGroup, restarts) = runKeyedConcat(dop, Seq(batch1, batch2))
      assert(restarts >= 1, "expected the 5-times-failing element to crash the query")
      assertFullGroup(byGroup("A"), groupA :+ "i")
      assertFullGroup(byGroup("B"), groupB :+ "j")
      assert(FailureRegistry.failures("i") == 5)
    }
  }

  test("mid-micro-batch kill at DOP 2 on RocksDB: duplicates at sink, exactly-once state") {
    // The reference's core subject is duplicate delivery after recovery
    // (TestFlinkStreamsRecover.java:99-107 observes it at ConcatenateSink).
    // The other cases in this suite crash in the SOURCE-side filter, so
    // the batch dies before any sink row is written and the replay shows
    // no duplicates. Here the failure is injected DOWNSTREAM of the
    // stateful operator — pipelined into the same task as the per-row
    // sink — so each attempt first WRITES the group's earlier prefixes,
    // then dies on the last one: the kill lands mid-micro-batch with
    // sink rows already out. Asserted split, on the production-grade
    // RocksDB state backend at input DOP 2:
    //  - the non-idempotent sink sees the pre-kill rows MORE THAN ONCE
    //    (at-least-once delivery, the reference's observed anomaly);
    //  - keyed state is EXACTLY-ONCE: task attempts that died had their
    //    state-store commits aborted, and the post-restart replay resumed
    //    from batch 1's checkpointed RocksDB state — the final concat is
    //    a clean permutation, not a double-applied "ababc…".
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    FailureRegistry.reset()
    CollectingSink.reset()
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ckpt = TempDirs.create("graft_midbatch_ckpt").toString
      val in = MemoryStream[UnstableData](numPartitions = 2)
      // poison AFTER the stateful concat: group A's final batch-2 prefix
      // "abcd" fails 5 times — 4 in-flight task attempts (each having
      // already written "abc" to the sink) exhaust local[4, 4]'s retry
      // budget and KILL the query mid-batch; the restarted query fails
      // once more (attempt 5), then drains
      def start() = StreamingOps.concatPrefixes(in.toDS())
        .map { t =>
          if (t._2 == "abcd")
            FailureRegistry.waitValidateOrFail(UnstableData("poison", 5, 0))
          t
        }
        .writeStream
        .foreach(new org.apache.spark.sql.ForeachWriter[(String, String)] {
          override def open(partitionId: Long, epochId: Long): Boolean = true
          override def process(t: (String, String)): Unit =
            CollectingSink.append(s"${t._1}:${t._2}")
          override def close(errorOrNull: Throwable): Unit = ()
        })
        .option("checkpointLocation", ckpt).outputMode("append")
        .start()
      // batch 1 (clean): establishes RocksDB state A→"ab", B→"ef"
      in.addData(UnstableData("a", 0, 0, "A"), UnstableData("b", 0, 0, "A"),
        UnstableData("e", 0, 0, "B"), UnstableData("f", 0, 0, "B"))
      assert(StreamingOps.runWithRestarts(20)(start _) == 0)
      // batch 2: two more A elements (c then d → prefixes "abc", "abcd",
      // the latter poisoned) and one B element
      in.addData(UnstableData("c", 0, 0, "A"), UnstableData("d", 0, 0, "A"),
        UnstableData("g", 0, 0, "B"))
      val restarts = StreamingOps.runWithRestarts(20)(start _)
      assert(restarts >= 1,
        "the poisoned prefix should have killed the query mid-batch")
      assert(FailureRegistry.failures("poison") == 5)
      val seen = CollectingSink.buffer.get()
      // at-least-once at the sink: "A:abc" was written by every attempt
      // that then died on "abcd" (4 pre-kill + 1 post-restart) plus the
      // final clean attempt — visibly duplicated
      assert(seen.count(_ == "A:abc") > 1,
        s"expected pre-kill sink rows to be replayed, saw: $seen")
      // exactly-once state: the longest concat per group is a clean
      // permutation — batch 1's state came back from the RocksDB
      // checkpoint and batch 2 applied exactly once despite 6 attempts
      val longestByGroup = seen.map(_.split(":")).collect {
        case Array(g, c) => (g, c)
      }.groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2).maxBy(_.length) }
      assert(longestByGroup("A").sorted == "abcd",
        s"group A state not exactly-once: ${longestByGroup("A")}")
      assert(longestByGroup("B").sorted == "efg",
        s"group B state not exactly-once: ${longestByGroup("B")}")
    } finally {
      saved match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("union of two unstable streams recovers with no element lost (ref TestFlinkStreamsRecover.java:84-96)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    FailureRegistry.reset()
    CollectingSink.reset()
    val ckpt = TempDirs.create("graft_union_ckpt").toString
    val in1 = MemoryStream[UnstableData]
    val in2 = MemoryStream[UnstableData]
    // stream 1: a, b, c each fail once (absorbed by task retries);
    // stream 2: d fails once, e fails past the retry budget → the unioned
    // query crashes and must recover BOTH legs from one checkpoint
    in1.addData(UnstableData("a", 1, 0), UnstableData("b", 1, 0),
      UnstableData("c", 1, 0))
    in2.addData(UnstableData("d", 1, 0), UnstableData("e", 5, 0))
    def start() = StreamingOps.unstableFilter(in1.toDS().union(in2.toDS()))
      .writeStream.foreach(new StreamingOps.CollectingForeachWriter)
      .option("checkpointLocation", ckpt).outputMode("append")
      .start()
    val restarts = StreamingOps.runWithRestarts(20)(start _)
    assert(restarts >= 1, "expected e's 5 failures to crash the unioned query")
    val seen = CollectingSink.buffer.get()
    // no element of either stream lost across the crash+restart
    assert(Set("a", "b", "c", "d", "e").subsetOf(seen.toSet),
      s"lost elements at the sink after union recovery: $seen")
    assert(FailureRegistry.failures("e") == 5)
  }
}
