package graft.operators

import java.nio.file.Files

import graft.{FailureRegistry, Person, Tables, TempDirs, UnstableData}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch ports of the reference's operator surface (SURVEY.md §2.1-2.6).
  * Streaming variants of the stateful/windowed ops live in
  * [[graft.streaming.StreamingOps]]; fault-recovery semantics are exercised
  * in the test suite.
  */
object ReferenceParity {

  /** Canonical fixture of `/root/reference/src/main/ru/hse/flinkanomaly/Main.java:39-45`
    * — names a..e with per-name failure budgets. Batch-registered queries
    * use waitMillis=0 so the correctness gate stays fast; the timing-
    * sensitive variants live in the streaming/fault tests. */
  val unstableFixture: Seq[UnstableData] = Seq(
    UnstableData("a", 0, 0), UnstableData("b", 0, 0), UnstableData("c", 0, 0),
    UnstableData("d", 1, 0), UnstableData("e", 1, 0))

  /** Grouped fixture, cf. `TestFlinkStatefulStreamsRecover.java:120-131`. */
  val groupedFixture: Seq[UnstableData] = Seq(
    UnstableData("a", 0, 0, "group A"), UnstableData("b", 0, 0, "group A"),
    UnstableData("c", 0, 0, "group A"), UnstableData("d", 0, 0, "group A"),
    UnstableData("e", 0, 0, "group B"), UnstableData("f", 0, 0, "group B"),
    UnstableData("g", 0, 0, "group B"), UnstableData("h", 0, 0, "group B"))

  /** S1: in-memory bounded source (`env.fromElements`, `Main.java:39-45`). */
  def sourceFromElements(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.createDataset(unstableFixture)
      .select($"name", $"failureTimes".as("failure_times"),
        $"waitMillis".as("wait_millis"))
      .orderBy($"name")
  }

  val sourceFromElementsSql: String =
    """SELECT * FROM (VALUES ('a', 0, 0), ('b', 0, 0), ('c', 0, 0),
      |                      ('d', 1, 0), ('e', 1, 0))
      |  AS t(name, failure_times, wait_millis)
      |ORDER BY name""".stripMargin

  /** S3: line-by-line text file source (`env.readTextFile`,
    * `TestFlinkStreams.java:104`). Writes the reference's 3-line fixture to
    * a temp file, then reads it back through the real text source. */
  def sourceReadText(spark: SparkSession, dir: String): DataFrame = {
    val tmp = TempDirs.create("graft_src_text")
    Files.write(tmp.resolve("input.txt"), "love\nflink\nhardly\n".getBytes("UTF-8"))
    spark.read.text(tmp.resolve("input.txt").toString).orderBy("value")
  }

  val sourceReadTextSql: String =
    "SELECT * FROM (VALUES ('flink'), ('hardly'), ('love')) AS t(value) ORDER BY value"

  /** O2: row-format text file sink + roundtrip read
    * (`TestFlinkStreams.java:99-128`). Asserts on content, not part-file
    * names (SURVEY.md §7.4). */
  def sinkTextRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = TempDirs.create("graft_sink_text").resolve("out").toString
    Seq("love", "flink", "hardly").toDF("value")
      .coalesce(1).write.mode("overwrite").text(out)
    spark.read.text(out).orderBy("value")
  }

  val sinkTextRoundtripSql: String = sourceReadTextSql

  /** O2 at scale: partitioned parquet sink roundtrip — write `documents`
    * hive-partitioned by `lang`, read it back through partition
    * discovery, aggregate per partition. Partition pruning on `lang`
    * is what a 100 TB corpus relies on; the driver-checked output is
    * the per-partition aggregate, asserted identical to aggregating the
    * source directly. */
  def sinkPartitionedParquet(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = TempDirs.create("graft_part_sink").resolve("docs").toString
    Tables.documents(spark, dir)
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    spark.read.parquet(out)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      .orderBy($"lang")
  }

  val sinkPartitionedParquetSql: String =
    """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** CSV source/sink roundtrip with an EXPLICIT schema (never
    * `inferSchema`, which scans the data a second time — at 100 TB the
    * inference pass costs as much as the query). Write nation as
    * headered CSV, read it back through the real CSV source; identity
    * roundtrip is the oracle. */
  def sourceCsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = TempDirs.create("graft_csv").resolve("nation").toString
    Tables.nation(spark, dir)
      .select($"n_nationkey", $"n_name", $"n_regionkey")
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(out)
    spark.read
      .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .option("header", "true").csv(out)
      .orderBy($"n_nationkey")
  }

  val sourceCsvRoundtripSql: String =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"

  /** JSON-lines source/sink roundtrip, explicit schema for the same
    * no-inference reason. Write region as JSONL, read it back through
    * the real JSON source. */
  def sourceJsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = TempDirs.create("graft_jsonl").resolve("region").toString
    Tables.region(spark, dir)
      .select($"r_regionkey", $"r_name")
      .coalesce(1).write.mode("overwrite").json(out)
    spark.read
      .schema("r_regionkey INT, r_name STRING")
      .json(out)
      .select($"r_regionkey", $"r_name")
      .orderBy($"r_regionkey")
  }

  val sourceJsonlRoundtripSql: String =
    "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"

  /** ORC source/sink roundtrip — the second columnar format Spark ships
    * natively. Same pushdown/pruning machinery as parquet (predicate
    * pushdown, column pruning, vectorized read), so at scale the choice
    * between them is ecosystem, not capability; a user of the reference
    * migrating ORC data switches with one format string. The read-back
    * states the schema explicitly like every other source here (ORC
    * carries its schema, but pinning it asserts the roundtrip preserved
    * the types, not just the values). */
  def sourceOrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = TempDirs.create("graft_orc").resolve("nation").toString
    Tables.nation(spark, dir)
      .select($"n_nationkey", $"n_name", $"n_regionkey")
      .coalesce(1).write.mode("overwrite").orc(out)
    spark.read
      .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .orc(out)
      .orderBy($"n_nationkey")
  }

  val sourceOrcRoundtripSql: String =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"

  /** Avro source/sink roundtrip — Spark 4 bundles the Avro datasource in
    * spark-sql, covering the row-oriented interchange format (Kafka
    * payloads, schema-registry pipelines). Columnar scans stay
    * parquet/ORC; Avro is the wire format a 100 TB ingest edge speaks,
    * and a reference user's Avro landing zone reads with one format
    * string. Schema pinned on read-back like every source here. (This
    * build's spark-sql jar carries the full Avro implementation but not
    * its `avro` shortname service registration, so the format is named
    * by its provider class — same datasource either way.) */
  def sourceAvroRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val avro = "org.apache.spark.sql.avro.AvroFileFormat"
    val out = TempDirs.create("graft_avro").resolve("nation").toString
    Tables.nation(spark, dir)
      .select($"n_nationkey", $"n_name", $"n_regionkey")
      .coalesce(1).write.mode("overwrite").format(avro).save(out)
    spark.read
      .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .format(avro).load(out)
      .orderBy($"n_nationkey")
  }

  val sourceAvroRoundtripSql: String =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"

  /** XML source/sink roundtrip — the spark-xml datasource merged into
    * Spark 4 core. XML is the long tail of enterprise feeds; `rowTag`
    * names the repeated record element, and the explicit read schema
    * keeps type inference (a per-file extra pass at scale) off. */
  def sourceXmlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = TempDirs.create("graft_xml").resolve("region").toString
    Tables.region(spark, dir)
      .select($"r_regionkey", $"r_name")
      .coalesce(1).write.mode("overwrite")
      .option("rowTag", "region").format("xml").save(out)
    spark.read
      .option("rowTag", "region")
      .schema("r_regionkey INT, r_name STRING")
      .format("xml").load(out)
      .orderBy($"r_regionkey")
  }

  val sourceXmlRoundtripSql: String =
    "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"

  /** P1: 1→1 map, uppercase (`TestFlinkStreams.java:56`) — expressed as the
    * codegen'd Catalyst `Upper` expression rather than a typed lambda. */
  def mapUppercase(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir)
      .select($"c_custkey", upper($"c_name").as("c_name_upper"))
      .orderBy($"c_custkey")
  }

  val mapUppercaseSql: String =
    "SELECT c_custkey, upper(c_name) AS c_name_upper FROM customer ORDER BY c_custkey"

  /** P2: pure-predicate filter `age >= 18` (`TestFlinkStreams.java:91`)
    * over the reference's Person fixture (`TestFlinkStreams.java:87-90`). */
  def filterAdults(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.createDataset(Seq(Person("Fred", 35), Person("Wilma", 35), Person("Pebbles", 2)))
      .filter($"age" >= 18)
      .toDF()
      .orderBy($"name")
  }

  val filterAdultsSql: String =
    """SELECT * FROM (VALUES ('Fred', 35), ('Wilma', 35), ('Pebbles', 2)) AS t(name, age)
      |WHERE age >= 18 ORDER BY name""".stripMargin

  /** P3: side-effecting unstable filter (`Main.java:48-49,101-111`) — a
    * typed filter through the JVM-static [[FailureRegistry]]. The batch
    * registration runs with failure budgets exhausted (failureTimes=0) so
    * the output is deterministic; fault-injection under task retries is
    * exercised in the test suite with master `local[n, maxFailures]`. */
  def filterUnstable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.createDataset(unstableFixture.map(_.copy(failureTimes = 0)))
      .filter((u: UnstableData) => FailureRegistry.waitValidateOrFail(u))
      .select($"name", $"failureTimes".as("failure_times"),
        $"waitMillis".as("wait_millis"))
      .orderBy($"name")
  }

  val filterUnstableSql: String =
    """SELECT * FROM (VALUES ('a', 0, 0), ('b', 0, 0), ('c', 0, 0),
      |                      ('d', 0, 0), ('e', 0, 0))
      |  AS t(name, failure_times, wait_millis)
      |ORDER BY name""".stripMargin

  /** U1: bag union, UNION ALL semantics (`TestFlinkStreamsRecover.java:92`)
    * — duplicates preserved (even-keyed customers appear twice). */
  def unionAll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir).select($"c_custkey", $"c_name")
    c.filter(pmod($"c_custkey", lit(2)) === 0).union(c)
      .orderBy($"c_custkey", $"c_name")
  }

  val unionAllSql: String =
    """SELECT * FROM (
      |  SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_name FROM customer) t
      |ORDER BY c_custkey, c_name""".stripMargin

  /** K1+K2 batch analog: per-key ordered string concatenation
    * (`StatefulConcatenate`, `Main.java:60-83`). Deterministic form:
    * sort names within the group before joining (SURVEY.md §7.4 —
    * arrival-order prefixes are streaming/test-only). */
  def statefulConcatFinal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.createDataset(groupedFixture)
      .groupBy($"group".as("group_id"))
      .agg(array_join(array_sort(collect_list($"name")), "").as("concat_names"))
      .orderBy($"group_id")
  }

  val statefulConcatFinalSql: String =
    """SELECT group_id, string_agg(name, '' ORDER BY name) AS concat_names
      |FROM (VALUES ('a','group A'),('b','group A'),('c','group A'),('d','group A'),
      |             ('e','group B'),('f','group B'),('g','group B'),('h','group B'))
      |  AS t(name, group_id)
      |GROUP BY group_id ORDER BY group_id""".stripMargin

  /** K2 prefix emission: the reference emits the cumulative concat after
    * every element (`Main.java:65-74`). Deterministic batch analog: running
    * concat over names sorted within the group. */
  def statefulConcatPrefixes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"group_id").orderBy($"name")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spark.createDataset(groupedFixture)
      .select($"group".as("group_id"), $"name")
      .withColumn("prefix", array_join(collect_list($"name").over(w), ""))
      .orderBy($"group_id", $"name")
  }

  val statefulConcatPrefixesSql: String =
    """SELECT group_id, name,
      |  string_agg(name, '') OVER (PARTITION BY group_id ORDER BY name
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
      |FROM (VALUES ('a','group A'),('b','group A'),('c','group A'),('d','group A'),
      |             ('e','group B'),('f','group B'),('g','group B'),('h','group B'))
      |  AS t(name, group_id)
      |ORDER BY group_id, name""".stripMargin

  /** W1+K3: event-time tumbling window + maxBy(value, ties→first)
    * (`TestFlinkStreams.java:62-83`), generalized to the events table:
    * per 5-minute window, the single event with the max value, ties broken
    * by lowest event_id (the reference's `maxBy(0, true)` keeps the first).
    *
    * Scale note: ranking within windows is a single hash-partitioned
    * shuffle on the window bucket; no global sort until the final (small)
    * per-window output. The streaming variant with watermarking lives in
    * [[graft.streaming.StreamingOps.tumblingWindowMax]]. */
  def tumblingWindowMax(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .select(window($"ts", "5 minutes").getField("start").as("w_ts"),
        $"event_id", $"event_type", $"value")
    val w = Window.partitionBy($"w_ts").orderBy($"value".desc, $"event_id".asc)
    e.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select(unix_timestamp($"w_ts").as("w_start"), $"event_id", $"event_type", $"value")
      .orderBy($"w_start")
  }

  val tumblingWindowMaxSql: String =
    """SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)) AS BIGINT) AS w_start,
      |       event_id, event_type, value
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY time_bucket(INTERVAL '5 minutes', ts)
      |        ORDER BY value DESC, event_id) AS rn
      |      FROM events) t
      |WHERE rn = 1
      |ORDER BY w_start""".stripMargin
}
