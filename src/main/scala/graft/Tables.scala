package graft

import graft.stages.Stages
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Central table catalog over the driver-provided parquet directories
  * (`TESTDATA.md`).
  *
  * Scale notes: every reader goes through `spark.read.parquet` so Catalyst
  * keeps predicate pushdown / column pruning / partition pruning on the
  * scan. The small dimension tables (`region`, `nation`, `supplier`,
  * `part`, `customer`) are broadcast-joined by the operators — on a real
  * cluster they stay far below the broadcast threshold even at 1000x the
  * test scale factors (region/nation are constant-size in TPC-H-style
  * schemas).
  *
  * Schema resolved once per session: inferring a parquet schema runs a
  * one-task Spark job. Constructing all 250 queries on a warm 4-core
  * session ran 403 such jobs; without them the pass took 37.7 s instead
  * of 66.7 s, about 70 ms per job. [[table]] infers each table's schema
  * on its first read, memoizes it with [[Stages.memo]] under
  * `schema:$dir/$name.parquet` on the [[GraftSession.root]] session (so
  * the per-call derived sessions of the streaming scenarios and the
  * broadcast-off joins share it), and hands it to every later read.
  * Building a DataFrame from the catalog then starts no job. Only the
  * schema is memoized, never the DataFrame: each call still builds a
  * fresh relation with new expression ids, so a self-join condition over
  * two reads of one table, `a("k") < b("k")`, names two distinct columns
  * (over one shared DataFrame Spark rejects it as ambiguous).
  *
  * Contract: data under `dir` does not change during a session, the same
  * contract as every other [[Stages.memo]] entry. A caller that rewrites
  * a table must write it to a new directory; a table rewritten in place
  * with another schema would be read with the stale one.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = Stages.memo(GraftSession.root(spark), s"schema:$path") {
      spark.read.parquet(path).schema
    }
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")

  /** `events.ts` has shipped as two different physical types across
    * driver testdata generations, so the reader adapts to the schema it
    * finds rather than assuming one:
    *
    *  - TIMESTAMP(NANOS), which vanilla Spark rejects
    *    (`PARQUET_TYPE_ILLEGAL`). We read it as a nanos-epoch long
    *    (`spark.sql.legacy.parquet.nanosAsLong`, session-settable) and
    *    convert to a microsecond `TimestampType` with integer division —
    *    `DIV 1000`, never a double divide: ns epochs (~1.7e18) exceed the
    *    53-bit double mantissa. This matches DuckDB's silent ns→µs
    *    truncation, keeping oracle parity.
    *  - TIMESTAMP(MICROS) without UTC adjustment, which Spark infers as
    *    `TIMESTAMP_NTZ`. Every graft session pins
    *    `spark.sql.session.timeZone=UTC`, so the NTZ→LTZ cast below is
    *    instant-preserving and matches DuckDB's naive read of the same
    *    column.
    *
    * Either way the catalog hands consumers one canonical shape: `ts` as
    * a microsecond `TimestampType`.
    *
    * SESSION-WIDE EFFECT (deliberate): the nanosAsLong flag stays set for
    * the life of the session, so any later parquet read of a
    * TIMESTAMP(NANOS) column also yields LongType. It cannot be safely
    * set/restored around this call — the conf is consulted lazily at
    * physical-plan/execution time, long after this method returns, so a
    * restore would race the read it scopes. No other catalog table
    * carries nanos, and every `events` consumer goes through this
    * method, which immediately normalizes to TimestampType — the flag is
    * therefore observable only as a no-op to the rest of the catalog.
    *
    * The memoized `events` schema ([[table]]) is the one inferred with
    * the flag set: without it a TIMESTAMP(NANOS) file fails inference, so
    * no other schema can be memoized for it, and for a micros file the
    * flag changes nothing. Every read still sets the flag on its own
    * session, which the scan consults at execution time. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(table(s, d, "events"))
  }

  /** Normalize an events-shaped frame's `ts` to microsecond
    * `TimestampType`, whatever physical type the parquet carried (see
    * [[events]]). Works on streaming frames too — the branch is decided
    * from the static schema, not the data. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType =>
        // A long ts is assumed to be a NANOS epoch (~1.7e18 for current
        // dates); if a future generation ships micros-as-long (~1.7e15)
        // the DIV 1000 would silently land every row near 1970 and
        // produce wrong-but-plausible windows. One codegen'd branch per
        // row turns that silent corruption into a loud error, matching
        // the loud IllegalStateException of the unknown-type branch.
        // Epoch 0 passes (a legitimate origin value the tests exercise).
        // KNOWN LIMIT: legitimate nanos instants in 1966-1973 (0 < |ts|
        // < 1e17) would trip this guard; TestdataContractSpec pins the
        // current-era assumption against the live testdata so such a
        // generation fails one named assertion, not every events scan.
        df.withColumn("ts", expr(
          """timestamp_micros(CASE
            |  WHEN ts IS NULL THEN NULL
            |  WHEN ts = 0 OR abs(ts) >= 100000000000000000 THEN ts DIV 1000
            |  ELSE raise_error(concat('events.ts long value ', CAST(ts AS STRING),
            |    ' is not nanos-magnitude; did the testdata switch to micros-as-long?'))
            |END)""".stripMargin))
      case TimestampType    => df
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(s"unsupported events.ts parquet type: $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
