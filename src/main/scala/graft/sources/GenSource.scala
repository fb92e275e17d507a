package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A complete DataSource V2 connector (`spark.read.format("graftgen")`):
  * a deterministic generated table of `n` rows
  * `(id BIGINT, bucket INT, payload STRING)` with `payload =
  * md5(id as string)` — the full custom-source surface a real connector
  * (JDBC shard reader, object-store log ingester, feature service)
  * implements:
  *
  *  - [[TableProvider]] + `DataSourceRegister` (short name `graftgen`
  *    via META-INF/services),
  *  - PREDICATE PUSHDOWN ([[SupportsPushDownFilters]]): range/equality
  *    filters on `id` narrow the generated `[lo, hi)` interval INSIDE
  *    the source — the rows a pushed filter excludes are never
  *    materialized (at 100 TB this is the difference between scanning a
  *    shard and scanning the world). Accepted filters are removed from
  *    the residual so Catalyst plans no duplicate Filter node.
  *  - COLUMN PRUNING ([[SupportsPushDownRequiredColumns]]): the reader
  *    emits exactly the pruned schema; the md5 payload is only computed
  *    when the query actually reads it.
  *  - SPLIT PLANNING: the interval splits into `parts` contiguous
  *    [[InputPartition]]s — the executor-side parallelism contract.
  *
  * The whole pipeline is verified end-to-end: the oracle recomputes the
  * same rows from `range()` in DuckDB, and the test suite reaches into
  * `BatchScanExec.scan` to assert the narrowed interval and pruned
  * schema the planner actually shipped. */
class GenSource extends TableProvider with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graftgen"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = GenSource.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GenTable(
      properties.getOrDefault("n", "1000").toLong,
      properties.getOrDefault("parts", "4").toInt)
}

object GenSource {
  val schema: StructType = new StructType()
    .add("id", LongType, nullable = false)
    .add("bucket", IntegerType, nullable = false)
    .add("payload", StringType, nullable = false)

  private[sources] def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val sb = new StringBuilder(32)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }
}

final class GenTable(n: Long, parts: Int) extends Table with SupportsRead {
  override def name(): String = s"graftgen($n)"
  override def schema(): StructType = GenSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GenScanBuilder(n, parts,
      Option(options.get("batchRows")).map(_.toLong).getOrElse(256L))
}

final class GenScanBuilder(n: Long, parts: Int, batchRows: Long)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {
  private var lo: Long = 0L
  private var hi: Long = n
  private var accepted: Array[Filter] = Array.empty
  private var required: StructType = GenSource.schema
  private var aggFuncs: Option[Array[AggregateFunc]] = None

  /** Accept id-range/equality predicates by tightening [lo, hi); anything
    * else stays residual for Catalyst to evaluate post-scan. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def num(v: Any): Boolean = v.isInstanceOf[Long] || v.isInstanceOf[Int] ||
      v.isInstanceOf[java.lang.Long] || v.isInstanceOf[java.lang.Integer]
    val (ours, residual) = filters.partition {
      case GreaterThan("id", v)        => num(v)
      case GreaterThanOrEqual("id", v) => num(v)
      case LessThan("id", v)           => num(v)
      case LessThanOrEqual("id", v)    => num(v)
      case EqualTo("id", v)            => num(v)
      case _ => false
    }
    ours.foreach {
      case GreaterThan(_, v)        => lo = math.max(lo, toL(v) + 1)
      case GreaterThanOrEqual(_, v) => lo = math.max(lo, toL(v))
      case LessThan(_, v)           => hi = math.min(hi, toL(v))
      case LessThanOrEqual(_, v)    => hi = math.min(hi, toL(v) + 1)
      case EqualTo(_, v)            => lo = math.max(lo, toL(v)); hi = math.min(hi, toL(v) + 1)
      case _                        => ()
    }
    accepted = ours
    residual
  }
  private def toL(v: Any): Long = v match {
    case l: Long => l
    case i: Integer => i.toLong
    case other => throw new IllegalArgumentException(s"unexpected literal $other")
  }
  override def pushedFilters(): Array[Filter] = accepted
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** AGGREGATE PUSHDOWN ([[SupportsPushDownAggregates]]): global
    * count(*)/count(id)/min(id)/max(id)/sum(id) over the (already
    * filter-narrowed) id range are CLOSED FORMS of [lo, hi), so the
    * whole aggregation collapses to one arithmetic row on one task —
    * zero rows generated, zero shuffled. This is the contract a real
    * warehouse connector (JDBC, Iceberg metadata tables) implements:
    * filters push first, then Spark offers the agg, and a complete
    * pushdown replaces the whole Aggregate node with the scan's output.
    * Anything else (group-bys, distinct, payload aggs) is declined and
    * Catalyst keeps its own aggregation — declining must stay safe. */
  private def closedForm(f: AggregateFunc): Boolean = {
    def isId(e: org.apache.spark.sql.connector.expressions.Expression) =
      e match {
        case r: NamedReference => r.fieldNames.sameElements(Array("id"))
        case _ => false
      }
    f match {
      case _: CountStar => true
      case c: Count => !c.isDistinct && isId(c.column) // id is non-null
      case m: Min => isId(m.column)
      case m: Max => isId(m.column)
      case s: Sum => !s.isDistinct && isId(s.column)
      case _ => false
    }
  }
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    agg.groupByExpressions.isEmpty && agg.aggregateExpressions.forall(closedForm)
  override def pushAggregation(agg: Aggregation): Boolean = {
    // complete-or-nothing: partial pushdown would make Spark expect
    // per-partition intermediate rows, a different schema contract
    if (!supportCompletePushDown(agg)) return false
    aggFuncs = Some(agg.aggregateExpressions)
    true
  }

  override def build(): Scan = aggFuncs match {
    case Some(fs) => GenAggScan(lo, hi, fs, accepted.toIndexedSeq)
    case None => GenScan(lo, hi, parts, required, accepted, batchRows)
  }
}

/** The completely-pushed-down aggregate scan: ONE partition whose reader
  * emits the single closed-form result row (empty ranges yield SQL
  * semantics: count 0, null min/max/sum). */
final case class GenAggScan(lo: Long, hi: Long, funcs: Array[AggregateFunc],
    pushed: Seq[Filter]) extends Scan with Batch {
  override def readSchema(): StructType = StructType(funcs.map {
    case _: CountStar | _: Count => StructField("agg_count", LongType, nullable = false)
    case _ => StructField("agg_val", LongType, nullable = true)
  })
  override def toBatch: Batch = this
  override def description(): String =
    s"graftgen AGG range=[$lo,$hi) funcs=[${funcs.mkString(", ")}] " +
      s"pushed=[${pushed.mkString(", ")}]"
  override def planInputPartitions(): Array[InputPartition] =
    Array(GenPartition(0L, 1L))
  override def createReaderFactory(): PartitionReaderFactory =
    new GenAggReaderFactory(lo, hi, funcs.map {
      case _: CountStar | _: Count => 'c'
      case _: Min => 'n'
      case _: Max => 'x'
      case _: Sum => 's'
    })
}

/** Carries only primitive state (the funcs re-encoded as tags) so the
  * factory serializes without dragging connector expression classes. */
final class GenAggReaderFactory(lo: Long, hi: Long, tags: Array[Char])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = { val r = !emitted; emitted = true; r }
      override def get(): InternalRow = {
        val cnt = math.max(0L, hi - lo)
        val vals: Array[Any] = tags.map {
          case 'c' => cnt
          case 'n' => if (cnt == 0) null else lo
          case 'x' => if (cnt == 0) null else hi - 1
          // Gauss sum over [lo, hi) in BigInt, exact at any range
          case 's' => if (cnt == 0) null
            else ((BigInt(lo) + BigInt(hi - 1)) * BigInt(cnt) / 2).toLong
        }
        new GenericInternalRow(vals)
      }
      override def close(): Unit = ()
    }
  }
}

final case class GenScan(
    lo: Long, hi: Long, parts: Int,
    required: StructType, pushed: Seq[Filter],
    batchRows: Long = 256L) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graftgen range=[$lo,$hi) cols=[${required.fieldNames.mkString(",")}] " +
      s"pushed=[${pushed.mkString(", ")}]"
  override def planInputPartitions(): Array[InputPartition] =
    GenScan.slices(lo, hi, parts)
  override def createReaderFactory(): PartitionReaderFactory =
    new GenReaderFactory(required.fieldNames)
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GenMicroBatchStream(lo, hi, parts, batchRows, required.fieldNames)
}

object GenScan {
  /** Pushed filters are kept as a Seq, not the Array the DSv2 API hands
    * over: Array equals/hashCode are reference-based, which would make
    * two identical scans never compare equal and defeat plan
    * canonicalization (`sameResult`, ReuseExchange / scan reuse) for
    * queries reading the source twice. */
  def apply(lo: Long, hi: Long, parts: Int, required: StructType,
      pushed: Array[Filter], batchRows: Long): GenScan =
    new GenScan(lo, hi, parts, required, pushed.toSeq, batchRows)

  private[sources] def slices(lo: Long, hi: Long, parts: Int): Array[InputPartition] = {
    val span = math.max(0L, hi - lo)
    val k = math.max(1, parts)
    (0 until k).map { i =>
      GenPartition(lo + span * i / k, lo + span * (i + 1) / k)
    }.filter(p => p.from < p.until).toArray[InputPartition]
  }
}

/** The STREAMING half of the connector: the generated interval is
  * replayed as micro-batches of `batchRows` ids. Offsets are plain row
  * positions — `latestOffset` advances one batch per trigger until the
  * interval is exhausted (so `processAllAvailable` drains a bounded,
  * deterministic number of real micro-batches), `planInputPartitions`
  * splits each [start, end) offset window exactly like the batch path,
  * and committed offsets need no action because the generator is
  * idempotent by construction — the replayability contract (Kafka
  * offsets, file positions) that makes exactly-once recovery possible.
  *
  * RESTART SAFETY: an earlier version advanced a private high-water
  * var from `lo` inside the no-arg `latestOffset()`. A fresh instance
  * after a checkpoint recovery would then return an offset BEHIND the
  * committed one — the engine either stalls ("no new data") or
  * re-plans the regressed window, duplicating rows on an append sink.
  * And the no-arg form can't be fixed from inside the source: Spark
  * calls it before ever handing the source its restored offsets. So
  * the stream implements [[SupportsAdmissionControl]] instead —
  * `latestOffset(start, limit)` RECEIVES the engine's true start
  * offset every trigger and derives the next boundary from it,
  * stateless, so a restart resumes exactly where the checkpoint left
  * off. Verified by the checkpoint-restart test in `StreamingSpec`
  * (two Trigger.Once runs over one file sink → exactly [0, 600)). */
final class GenMicroBatchStream(
    lo: Long, hi: Long, parts: Int, batchRows: Long, fields: Array[String])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  override def initialOffset(): Offset = GenOffset(lo)

  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxRows(math.max(1L, batchRows))

  /** Next boundary = start + the admitted row budget, clamped to the
    * interval end — pure function of the engine-supplied start and
    * limit, no instance state. The engine usually echoes
    * [[getDefaultReadLimit]] back, but an explicit maxRows (or a
    * composite carrying one) is honored, and ReadAllAvailable admits
    * the whole remaining interval — the contract Trigger.AvailableNow
    * relies on to drain in one pass. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadAllAvailable, ReadMaxRows}
    def admitted(l: ReadLimit): Long = l match {
      case r: ReadMaxRows => r.maxRows()
      case _: ReadAllAvailable => Long.MaxValue
      case c: CompositeReadLimit =>
        c.getReadLimits.map(admitted).min
      case _ => math.max(1L, batchRows)
    }
    val from = start.asInstanceOf[GenOffset].pos
    val step = math.max(1L, admitted(limit))
    // saturating add: ReadAllAvailable admits Long.MaxValue rows
    val next = if (step > hi - from) hi else from + step
    GenOffset(next)
  }

  /** Engine must use the admission-control overload (same contract as
    * Kafka's source; reaching here would be a Spark regression). */
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def deserializeOffset(json: String): Offset = GenOffset(json.toLong)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    GenScan.slices(start.asInstanceOf[GenOffset].pos, end.asInstanceOf[GenOffset].pos, parts)
  override def createReaderFactory(): PartitionReaderFactory =
    new GenReaderFactory(fields)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class GenOffset(pos: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = pos.toString
}

final case class GenPartition(from: Long, until: Long) extends InputPartition

final class GenReaderFactory(fields: Array[String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GenPartition]
    new PartitionReader[InternalRow] {
      private var cur = p.from - 1
      override def next(): Boolean = { cur += 1; cur < p.until }
      override def get(): InternalRow = {
        val vals: Array[Any] = fields.map {
          case "id" => cur
          case "bucket" => (cur % 16).toInt
          case "payload" => UTF8String.fromString(GenSource.md5Hex(cur.toString))
        }
        new GenericInternalRow(vals)
      }
      override def close(): Unit = ()
    }
  }
}

/** Driver-contract queries over the custom source. */
object GenSourceOps {

  /** Range-filtered, pruned aggregate over the DSv2 source: the filter
    * lands in [[GenScanBuilder.pushFilters]] (rows outside [25000,
    * 75000) are never generated) and all three columns survive pruning
    * only because the query touches them. */
  def sourceDsv2Pushdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("graftgen")
      .option("n", "100000").option("parts", "8").load()
      .filter($"id" >= 25000L && $"id" < 75000L)
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"),
        min($"id").as("min_id"),
        max($"id").as("max_id"),
        sum(when(substring($"payload", 1, 1) === "a", 1L).otherwise(0L)).as("n_a"))
      .orderBy($"bucket")
  }

  val sourceDsv2PushdownSql: String =
    """SELECT CAST(id % 16 AS INT) AS bucket,
      |  count(*) AS n,
      |  min(id) AS min_id,
      |  max(id) AS max_id,
      |  CAST(sum(CASE WHEN substr(md5(CAST(id AS VARCHAR)), 1, 1) = 'a'
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_a
      |FROM range(25000, 75000) t(id)
      |GROUP BY CAST(id % 16 AS INT)
      |ORDER BY bucket""".stripMargin

  /** Aggregate-pushdown demonstration (`source_dsv2_agg_pushdown`): the
    * filter narrows the generated interval inside the source, then the
    * global count/min/max/sum collapse into [[GenAggScan]]'s closed-form
    * row — the executed plan carries NO aggregate at all (asserted by
    * the suite), the 97k-row interval is never generated. The 100 TB
    * reading: a metadata-capable source answers bounded summary queries
    * at catalog cost, and the engine must know to ask. */
  def sourceDsv2AggPushdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("graftgen")
      .option("n", "100000").option("parts", "8").load()
      .filter($"id" >= 1234L && $"id" < 98765L)
      .agg(count(lit(1)).as("n_rows"),
        min($"id").as("min_id"),
        max($"id").as("max_id"),
        sum($"id").as("sum_id"))
  }

  val sourceDsv2AggPushdownSql: String =
    """SELECT count(*) AS n_rows, min(id) AS min_id, max(id) AS max_id,
      |  CAST(sum(id) AS BIGINT) AS sum_id
      |FROM range(1234, 98765) t(id)""".stripMargin

  /** REAL streaming execution through the connector's
    * [[GenMicroBatchStream]]: 1000 generated rows replayed as ~300-row
    * micro-batches into a complete-mode aggregation. The final state is
    * independent of how the offset windows happened to batch — that
    * invariance (plus idempotent replay from offsets) is exactly what
    * the micro-batch contract promises. */
  def streamingDsv2Source(spark: SparkSession, dir: String): DataFrame = {
    val s = GraftSession.derived(spark, StreamingOps.StreamPartitions)
    import s.implicits._
    val name = "graft_dsv2s_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = s.readStream.format("graftgen")
      .option("n", "1000").option("batchRows", "300").option("parts", "2")
      .load()
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"), sum($"id").as("sum_id"))
      .writeStream.format("memory").queryName(name).outputMode("complete")
      .start()
    try q.processAllAvailable() finally q.stop()
    StreamingOps.readSink(s, name).orderBy($"bucket")
  }

  val streamingDsv2SourceSql: String =
    """SELECT CAST(id % 16 AS INT) AS bucket, count(*) AS n,
      |  CAST(sum(id) AS BIGINT) AS sum_id
      |FROM range(0, 1000) t(id)
      |GROUP BY CAST(id % 16 AS INT)
      |ORDER BY bucket""".stripMargin

  /** APPEND-mode event-time windows over the same stream — the
    * production shape for unbounded aggregation (complete mode re-emits
    * the whole state every trigger; append emits each window exactly
    * once, when the watermark closes it, and lets the store EVICT it —
    * bounded state on an unbounded stream). Ids double as event-time
    * seconds; the final watermark is max_ts − 10 s = 989, so windows
    * [0,100) … [800,900) close and emit while [900,1000) is still open
    * and withheld — asserting exactly that boundary is what pins the
    * semantics. The result is batching-invariant: watermarks advance
    * monotonically whatever the offset windows did. */
  def streamingDsv2AppendWindows(spark: SparkSession, dir: String): DataFrame = {
    val s = GraftSession.derived(spark, StreamingOps.StreamPartitions)
    import s.implicits._
    val name = "graft_dsv2w_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val base = 1700000000L
    val q = s.readStream.format("graftgen")
      .option("n", "1000").option("batchRows", "300").option("parts", "2")
      .load()
      .select($"id", timestamp_seconds(lit(base) + $"id").as("ts"))
      .withWatermark("ts", "10 seconds")
      .groupBy(window($"ts", "100 seconds"))
      .agg(count(lit(1)).as("n"), sum($"id").as("sum_id"))
      .select(unix_timestamp($"window.start").as("w_start"), $"n", $"sum_id")
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    StreamingOps.readSink(s, name).orderBy($"w_start")
  }

  /** Only the 9 watermark-closed windows appear; [900,1000) is open. */
  val streamingDsv2AppendWindowsSql: String =
    """SELECT 1700000000 + (id // 100) * 100 AS w_start,
      |  count(*) AS n, CAST(sum(id) AS BIGINT) AS sum_id
      |FROM range(0, 1000) t(id)
      |WHERE id < 900
      |GROUP BY id // 100
      |ORDER BY w_start""".stripMargin

  /** CHAINED event-time aggregations — two stateful windowed aggs in ONE
    * streaming query (the multiple-stateful-operator support that
    * landed with SPARK-40925): 100 s windows roll up into 200 s windows
    * downstream, with `window_time()` extracting the event time the
    * second `window()` groups on. The second tier only sees CLOSED
    * first-tier windows, so a 200 s window emits exactly once, when the
    * watermark passes ITS end — the final watermark is 989, so
    * [0,800) closes tier 2 (4 rows, 2 subwindows each) while [800,1000)
    * is withheld: its [800,900) input exists but [900,1000) is open.
    * This is the production shape for multi-resolution rollups (raw →
    * minute → hour) in one pass instead of one job per tier. */
  def streamingDsv2ChainedWindows(spark: SparkSession, dir: String): DataFrame = {
    val s = GraftSession.derived(spark, StreamingOps.StreamPartitions)
    import s.implicits._
    val name = "graft_dsv2c_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val base = 1700000000L
    val q = s.readStream.format("graftgen")
      .option("n", "1000").option("batchRows", "300").option("parts", "2")
      .load()
      .select($"id", timestamp_seconds(lit(base) + $"id").as("ts"))
      .withWatermark("ts", "10 seconds")
      .groupBy(window($"ts", "100 seconds"))
      .agg(count(lit(1)).as("n"), sum($"id").as("sum_id"))
      .groupBy(window(window_time($"window"), "200 seconds").as("w2"))
      .agg(sum($"n").as("n"), sum($"sum_id").as("sum_id"),
        count(lit(1)).as("n_subwindows"))
      .select(unix_timestamp($"w2.start").as("w_start"),
        $"n", $"sum_id", $"n_subwindows")
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    StreamingOps.readSink(s, name).orderBy($"w_start")
  }

  val streamingDsv2ChainedWindowsSql: String =
    """SELECT 1700000000 + (id // 200) * 200 AS w_start,
      |  count(*) AS n, CAST(sum(id) AS BIGINT) AS sum_id,
      |  count(DISTINCT id // 100) AS n_subwindows
      |FROM range(0, 800) t(id)
      |GROUP BY id // 200
      |ORDER BY w_start""".stripMargin
}
