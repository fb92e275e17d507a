package graft

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.CollectingSink
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Fault-tolerance semantics, porting the reference's recovery scenarios
  * (`TestFlinkStreamsRecover.java`, `TestFlinkStatefulStreamsRecover.java`)
  * with assertions instead of eyeballed prints (SURVEY.md §5c):
  *
  *  - batch: an unstable filter's task failures are absorbed by
  *    `spark.task.maxFailures` (master `local[4, 4]`) — the job still
  *    yields exactly the expected rows;
  *  - streaming: after a crash + restart from the same checkpoint, keyed
  *    state is exactly-once (each name concatenated exactly once) while
  *    the non-idempotent per-row sink may observe replays (at-least-once)
  *    — precisely the delivery split the reference's anomaly hunt
  *    observes at its ConcatenateSink. */
class RecoverySpec extends SparkTestBase {

  test("batch unstable filter recovers via task retries (P3/F2)") {
    import spark.implicits._
    FailureRegistry.reset()
    // (a..c fine, d and e each fail once) — Main.java:39-45 @ wait 0
    val data = Seq(
      UnstableData("a", 0, 0), UnstableData("b", 0, 0), UnstableData("c", 0, 0),
      UnstableData("d", 1, 0), UnstableData("e", 1, 0))
    val out = StreamingOps.unstableFilter(spark.createDataset(data))
      .collect().map(_.name).sorted
    assert(out.toSeq == Seq("a", "b", "c", "d", "e"))
    assert(FailureRegistry.failures("d") == 1 && FailureRegistry.failures("e") == 1)
  }

  test("streaming: exactly-once state, at-least-once sink across restart (F1)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    FailureRegistry.reset()
    CollectingSink.reset()
    StreamingOps.BatchCollector.reset()
    val ckpt = TempDirs.create("graft_recover_ckpt").toString
    val in = MemoryStream[UnstableData]
    // batch 1 clean; batch 2 contains one element failing past the task
    // retry budget (memory sink cannot recover from a checkpoint, so the
    // observation point is a foreachBatch collector — itself the
    // checkpoint-recoverable sink shape)
    in.addData(UnstableData("a", 0, 0, "g"), UnstableData("b", 0, 0, "g"))
    def start() = StreamingOps.concatPrefixes(
        StreamingOps.unstableFilter(in.toDS()))
      .writeStream
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[(String, String)], batchId: Long) =>
        StreamingOps.BatchCollector.put(batchId, ds.collect().toSeq)
      }
      .option("checkpointLocation", ckpt).outputMode("append")
      .start()
    val restarts0 = StreamingOps.runWithRestarts(10)(start _)
    assert(restarts0 == 0)
    // failureTimes=5 exceeds the 4-task-retry budget → the query itself
    // crashes once and must restart from the checkpoint (F1/F2)
    in.addData(UnstableData("c", 5, 0, "g"), UnstableData("d", 0, 0, "g"))
    val restarts = StreamingOps.runWithRestarts(10)(start _)
    assert(restarts >= 1, "expected at least one crash+restart")
    val prefixes = StreamingOps.BatchCollector.allRows.map(_._2)
    val longest = prefixes.maxBy(_.length)
    // exactly-once state: every name exactly once in the final concat —
    // state was restored from the checkpoint, not recomputed, so the
    // replayed batch continued from "ab"
    assert(longest.sorted == "abcd",
      s"state not exactly-once after recovery: $longest (all: $prefixes)")
  }

  test("streaming: non-idempotent per-row sink observes at-least-once delivery (O3)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    FailureRegistry.reset()
    CollectingSink.reset()
    val ckpt = TempDirs.create("graft_sink_ckpt").toString
    val in = MemoryStream[UnstableData]
    // d fails once mid-batch; a/b/c may already be written by the sink
    // when the failure aborts the batch → replay duplicates them
    in.addData(UnstableData("a", 0, 0), UnstableData("b", 0, 0),
      UnstableData("c", 0, 0), UnstableData("d", 1, 0))
    // coalesce(1) pins all four rows into one pipelined task in addData
    // order: the writer emits a,b,c, then d's filter throws, and the task
    // retry replays the whole partition → deterministic duplicates
    def start() = StreamingOps.unstableFilter(in.toDS().coalesce(1))
      .writeStream.foreach(new StreamingOps.CollectingForeachWriter)
      .option("checkpointLocation", ckpt).outputMode("append")
      .start()
    val restarts = StreamingOps.runWithRestarts(10)(start _)
    val seen = CollectingSink.buffer.get()
    // at-least-once: every element delivered ≥ 1 time ...
    assert(Set("a", "b", "c", "d").subsetOf(seen.toSet),
      s"lost elements at the sink: $seen")
    // ... and the pre-failure rows were delivered TWICE — the visible
    // at-least-once violation the reference reproduces at its sink
    assert(seen.size > seen.toSet.size,
      s"expected replay duplicates at the non-idempotent sink, saw: $seen")
    info(s"sink saw: $seen (restarts=$restarts) — duplicates = ${seen.size - seen.toSet.size}")
  }
}
