package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-stream analytics over the `events` table (SURVEY.md §2.9):
  * tumbling-window stats, z-score anomaly flagging, exact dedup, JSON
  * extraction. All are deterministic against the DuckDB oracle: monetary/
  * measure sums go through DECIMAL(12,2) (order-independent), derived
  * doubles use identical expression trees in both engines so the IEEE
  * results are bit-equal.
  *
  * Scale notes: each query is one hash-partitioned shuffle on its group
  * key; stats joins broadcast the (tiny) per-group aggregate side, so the
  * fact scan streams through without a second shuffle.
  */
object EventOps {
  private val Dec = DecimalType(12, 2)

  /** Tumbling 5-minute window stats per event_type — the reference's W1
    * generalized from maxBy to multi-measure aggregation. */
  def eventsTumblingStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(window($"ts", "5 minutes").getField("start").as("w_ts"), $"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum($"value".cast(Dec)).cast("double").as("sum_value"),
        (sum($"value".cast(Dec)).cast("double") / count(lit(1))).as("avg_value"))
      .select(unix_timestamp($"w_ts").as("w_start"), $"event_type",
        $"n_events", $"sum_value", $"avg_value")
      .orderBy($"w_start", $"event_type")
  }

  val eventsTumblingStatsSql: String =
    """SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)) AS BIGINT) AS w_start,
      |       event_type,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
      |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_value
      |FROM events
      |GROUP BY time_bucket(INTERVAL '5 minutes', ts), event_type
      |ORDER BY w_start, event_type""".stripMargin

  /** Per-user velocity features (`events_velocity_features`): event
    * count, distinct active days, events per active day (exact
    * per-mille), peak events in any single minute, and the peak-to-mean
    * burstiness ratio — the feature row an abuse/fraud scorer consumes
    * (humans are diurnal and bursty-bounded; scripted traffic shows
    * flat-high velocity or pathological single-minute peaks).
    *
    * Plan shape: one (user, minute) pre-aggregation feeds the per-user
    * rollup — both are partial+final hash aggs on the user key, so the
    * second costs one co-partitioned pass over minute-bucket rows, and
    * the distinct-day count rides the same rollup. Output is one row
    * per user (the featurizer's contract); every ratio is exact-integer
    * per-mille so no float boundary flaps the hash compare. */
  def eventsVelocityFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perMinDay = Tables.events(spark, dir)
      .groupBy($"user_id",
        expr("unix_micros(ts) div 60000000").as("minute"))
      .agg(count(lit(1)).as("n_min"))
    val perDay = Tables.events(spark, dir)
      .select($"user_id", expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
      .groupBy($"user_id").agg(count(lit(1)).as("n_days"))
    perMinDay.groupBy($"user_id")
      .agg(sum($"n_min").as("n_events"), max($"n_min").as("peak_minute"),
        count(lit(1)).as("n_minutes"))
      .join(perDay, "user_id")
      .select($"user_id", $"n_events", $"n_days",
        expr("n_events * 1000 div n_days").as("events_per_day_x1000"),
        $"peak_minute",
        expr("peak_minute * n_minutes * 1000 div n_events")
          .as("burstiness_x1000"))
      .orderBy($"user_id")
  }

  val eventsVelocityFeaturesSql: String =
    """WITH permin AS (
      |  SELECT user_id, epoch_us(ts) // 60000000 AS minute,
      |         count(*) AS n_min
      |  FROM events GROUP BY 1, 2),
      |perday AS (
      |  SELECT user_id, count(*) AS n_days FROM (
      |    SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |    FROM events) t
      |  GROUP BY user_id),
      |rollup_u AS (
      |  SELECT user_id, CAST(sum(n_min) AS BIGINT) AS n_events,
      |         max(n_min) AS peak_minute, count(*) AS n_minutes
      |  FROM permin GROUP BY user_id)
      |SELECT r.user_id, r.n_events, d.n_days,
      |  r.n_events * 1000 // d.n_days AS events_per_day_x1000,
      |  r.peak_minute,
      |  r.peak_minute * r.n_minutes * 1000 // r.n_events AS burstiness_x1000
      |FROM rollup_u r JOIN perday d USING (user_id)
      |ORDER BY r.user_id""".stripMargin

  /** Top event-type trigrams (`events_top_paths`): the 10 most common
    * 3-step per-user event-type sequences — the "what do users actually
    * do" path-mining staple behind funnel design (the funnel queries
    * TEST a hypothesized path; this one DISCOVERS the paths worth
    * testing), and the sequence-modeling prep step one order up from
    * [[eventsMarkovTransitions]]' pair matrix.
    *
    * Plan shape: two `lead`s share ONE per-user window sort (the same
    * sort-shuffle budget as any sessionization pass), then a
    * partial+final count on the ≤|types|³ path key space and a global
    * top-10 via `TakeOrderedAndProject` — per-partition heaps, no
    * second full sort. Ties break lexicographically for determinism. */
  def eventsTopPaths(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("t2", lead($"event_type", 1).over(w))
      .withColumn("t3", lead($"event_type", 2).over(w))
      .filter($"t3".isNotNull)
      .groupBy($"event_type".as("step1"), $"t2".as("step2"), $"t3".as("step3"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy($"n_paths".desc, $"step1", $"step2", $"step3")
      .limit(10)
  }

  val eventsTopPathsSql: String =
    """SELECT step1, step2, step3, n_paths FROM (
      |  SELECT event_type AS step1, t2 AS step2, t3 AS step3,
      |         count(*) AS n_paths
      |  FROM (
      |    SELECT event_type,
      |      lead(event_type, 1) OVER w AS t2,
      |      lead(event_type, 2) OVER w AS t3
      |    FROM events
      |    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) t
      |  WHERE t3 IS NOT NULL
      |  GROUP BY 1, 2, 3) g
      |ORDER BY n_paths DESC, step1, step2, step3
      |LIMIT 10""".stripMargin

  /** CUSUM changepoint scan (`events_cusum_changepoint`, Page 1954):
    * per event-type stream, the classic cumulative-sum drift statistic
    * and the event where it peaks — the standard sequential test for
    * "did this metric's level shift?", complementing the per-event
    * z-score detectors (`events_rolling_anomaly`) which miss slow
    * drifts that never spike.
    *
    * The textbook recurrence `S_i = max(0, S_{i-1} + d_i)` is
    * NON-associative — as written it forces a sequential per-key fold
    * (array collect or iterative state), the shape that dies on a
    * 100 TB feed. This implementation uses the standard identity
    * `S_i = P_i − min_{j≤i} P_j` (P = prefix sum of deviations), and —
    * because a per-TYPE prefix scan still floors window parallelism at
    * the bounded type alphabet (the same single-task-per-key sort the
    * rolling detector had, r16) — evaluates BOTH prefix terms with the
    * classic two-level scan over (type, time-bucket) shards:
    * each shard computes its LOCAL prefix sum `ps` and local
    * prefix-min `pm` in one sharded sort; a bucket-summary table
    * (|types|·|buckets| rows) derives each bucket's incoming carry
    * `C_b = Σ_{b'<b} sum(d)` and incoming prefix-min
    * `M_b = min_{b'<b}(C_{b'} + min ps)` with tiny windows; then
    * `P_i = C_b + ps_i` and `min_{j≤i} P_j = min(M_b, C_b + pm_i)` —
    * exact because integer prefix sums and mins compose associatively
    * across contiguous ranges (no overlap or approximation; pinned
    * bit-identical to the single-window form down to 1-row shards).
    * Deviations are exact integers scaled by the type count
    * (`n·c_i − Σc`, DECIMAL(38,0) — no mean division, no float drift);
    * the reported peak casts to BIGINT, which a 10⁹-event×10⁶-cent
    * stream still fits. The ONE per-type aggregate supplies both the
    * deviation scaling and the shard parameters — still a 5-row
    * broadcast, no extra corpus pass. */
  def eventsCusumChangepoint(spark: SparkSession, dir: String): DataFrame =
    eventsCusumSharded(spark, dir, CusumRowsPerShard)

  /** Prefix-scan row budget per (type, time-bucket) shard; same 64k
    * rationale as [[RollingRowsPerShard]]. */
  private val CusumRowsPerShard = 65536L

  /** Floor on shards per type, so the carry composition runs at every
    * scale (incl. the sf0.01 oracle gate) instead of degenerating to
    * one bucket below 64k rows/type. */
  private val CusumMinShardsPerType = 8L

  /** The sharded scan body; `rowsPerShard` is a parameter only so the
    * spec can force 1-row shards and pin carry composition against the
    * plain single-window form. */
  private[graft] def eventsCusumSharded(
      spark: SparkSession, dir: String, rowsPerShard: Long): DataFrame = {
    import spark.implicits._
    val zero38 = lit(0).cast("decimal(38,0)")
    val ev = Tables.events(spark, dir)
      .select($"event_id", $"event_type", $"ts",
        ($"value".cast(Dec) * 100).cast("long").as("c"),
        unix_micros($"ts").as("tsu"))
    val typ = ev.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"c").as("s"),
        min($"tsu").as("t_lo"), max($"tsu").as("t_hi"))
      .select($"event_type", $"n", $"s", $"t_lo", $"t_hi",
        greatest(lit(CusumMinShardsPerType),
          expr(s"(n + ${rowsPerShard - 1}) div $rowsPerShard")).as("nb"))
    // bucket is a monotone non-decreasing function of tsu (uniform map
    // of the type's time span onto nb buckets, same construction as the
    // rolling detector's — equal timestamps always share a bucket, so a
    // boundary can never split a tie group the ordering resolves by
    // event_id); exact bucket sizes are a performance knob only
    val dev = ev.join(broadcast(typ), "event_type")
      .withColumn("bucket",
        least($"nb" - 1, floor(($"tsu" - $"t_lo").cast("double") /
          ($"t_hi" - $"t_lo" + 1).cast("double") * $"nb").cast("long")))
      .select($"event_id", $"event_type", $"bucket", $"ts",
        ($"n".cast("decimal(38,0)") * $"c" - $"s").as("d"))
    val wLoc = Window.partitionBy($"event_type", $"bucket")
      .orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val loc = dev
      .withColumn("ps", sum($"d").over(wLoc))
      .withColumn("pm", min($"ps").over(wLoc))
    // bucket summaries ride the shard partitioning (map-side partials,
    // tiny output): sum(d) = the bucket's prefix-sum increment, min(ps)
    // = its local prefix-min — everything carry composition needs
    val wPrev = Window.partitionBy($"event_type").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = loc.groupBy($"event_type", $"bucket")
      .agg(sum($"d").as("sb"), min($"ps").as("mb"))
      .withColumn("cb", coalesce(sum($"sb").over(wPrev), zero38))
      .withColumn("mprev", min($"cb" + $"mb").over(wPrev)) // null for b=0
      .select($"event_type", $"bucket", $"cb", $"mprev")
    val drift = loc.join(broadcast(carry), Seq("event_type", "bucket"))
      .withColumn("cs", $"cb" + $"ps")
      // the identity's prefix minimum includes the EMPTY prefix P_0 = 0
      // (an all-positive run must still measure from zero), hence the 0
      // term; least() skips the null mprev of each type's first bucket
      .withColumn("drift",
        $"cs" - least(zero38, $"mprev", $"cb" + $"pm"))
    drift.groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        max(struct($"drift", (-$"event_id").as("nid"))).as("p"))
      .select($"event_type", $"n_events",
        (-$"p.nid").as("peak_event_id"),
        $"p.drift".cast("bigint").as("peak_drift"))
      .orderBy($"event_type")
  }

  val eventsCusumChangepointSql: String =
    """WITH ev AS (
      |  SELECT event_id, event_type, ts,
      |         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
      |  FROM events),
      |typ AS (
      |  SELECT event_type, count(*) AS n, CAST(sum(c) AS BIGINT) AS s
      |  FROM ev GROUP BY event_type),
      |dev AS (
      |  SELECT e.event_id, e.event_type, e.ts,
      |         CAST(t.n AS HUGEINT) * e.c - t.s AS d
      |  FROM ev e JOIN typ t USING (event_type)),
      |cums AS (
      |  SELECT event_id, event_type, ts,
      |    sum(d) OVER (PARTITION BY event_type ORDER BY ts, event_id
      |                 ROWS UNBOUNDED PRECEDING) AS cs
      |  FROM dev),
      |drift AS (
      |  SELECT event_id, event_type,
      |    cs - least(CAST(0 AS HUGEINT),
      |               min(cs) OVER (PARTITION BY event_type ORDER BY ts, event_id
      |                             ROWS UNBOUNDED PRECEDING)) AS drift
      |  FROM cums),
      |sel AS (
      |  SELECT event_type, event_id, drift,
      |    count(*) OVER (PARTITION BY event_type) AS n_events,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY drift DESC, event_id) AS rk
      |  FROM drift)
      |SELECT event_type, n_events, event_id AS peak_event_id,
      |       CAST(drift AS BIGINT) AS peak_drift
      |FROM sel WHERE rk = 1
      |ORDER BY event_type""".stripMargin

  /** Daily/weekly active users (`events_active_users`): per observed
    * day, the exact distinct-user counts for that day (DAU) and the
    * trailing 7-day window (WAU) — the canonical engagement pair every
    * product dashboard opens with, EXACT rather than sketched so the
    * DuckDB oracle pins it (the HLL swap for 100 TB dashboards is the
    * same one `curation_corpus_report_sketch` demonstrates).
    *
    * Scale shape: the corpus-sized work is ONE distinct over
    * (day, user) — a hash agg whose output is active pairs, not events.
    * WAU contributions come from a BOUNDED ×7 fan-out of those pairs
    * (`sequence(day, day+6)` explode) into a second distinct agg — an
    * equi-key plan end to end, deliberately avoiding the
    * `datediff BETWEEN 0 AND 6` range self-join a naive WAU writes,
    * which Spark can only execute as a nested-loop join. The trailing
    * semi join keeps only days that exist in the feed. */
  def eventsActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = Tables.events(spark, dir)
      .select(to_date($"ts").as("day"), $"user_id").distinct()
    val days = pairs.select($"day").distinct()
    val dau = pairs.groupBy($"day").agg(count(lit(1)).as("dau"))
    val wau = pairs
      .select(explode(sequence($"day", date_add($"day", 6))).as("day"),
        $"user_id")
      .join(days, Seq("day"), "left_semi")
      .groupBy($"day").agg(countDistinct($"user_id").as("wau"))
    dau.join(wau, "day")
      .select(datediff($"day", lit("1970-01-01").cast("date"))
          .cast("bigint").as("day_num"),
        $"dau", $"wau")
      .orderBy($"day_num")
  }

  val eventsActiveUsersSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |days AS (SELECT DISTINCT day FROM pairs),
      |contrib AS (
      |  SELECT CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
      |           CAST(day AS TIMESTAMP) + INTERVAL 6 DAY,
      |           INTERVAL 1 DAY)) AS DATE) AS day,
      |         user_id
      |  FROM pairs),
      |wau AS (
      |  SELECT c.day, count(DISTINCT c.user_id) AS wau
      |  FROM contrib c JOIN days d ON d.day = c.day
      |  GROUP BY c.day),
      |dau AS (SELECT day, count(*) AS dau FROM pairs GROUP BY day)
      |SELECT CAST(date_diff('day', DATE '1970-01-01', dau.day) AS BIGINT)
      |         AS day_num,
      |       dau.dau, wau.wau
      |FROM dau JOIN wau ON dau.day = wau.day
      |ORDER BY day_num""".stripMargin

  /** Cohort retention matrix (`events_retention_cohorts`): users are
    * cohorted by their FIRST active day; for each cohort and horizon
    * 0..7 days, the count still active at cohort_day + horizon and the
    * exact per-mille retention — THE growth-analytics artifact (D1/D7
    * retention) every event-stream deployment reads, and the batch twin
    * of the DAU/WAU report ([[eventsActiveUsers]]).
    *
    * Scale shape: ONE distinct (day, user) projection; first-day via a
    * partial+final min aggregation keyed by user; activity joins the
    * cohort frame on user_id (both sides hash-partitioned by the join
    * key — the shuffle carries distinct user-days, never raw events);
    * everything after is bounded by #days × 8 horizons. Retention
    * ratios are exact integer per-mille (`retained * 1000 div size`),
    * engine-portable by construction. Every user is active on their
    * first day, so the horizon-0 row IS the cohort size — no second
    * pass to size cohorts. */
  def eventsRetentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = Tables.events(spark, dir)
      .select(to_date($"ts").as("day"), $"user_id").distinct()
    val firsts = pairs.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    val acts = pairs.join(firsts, "user_id")
      .select($"cohort_day", datediff($"day", $"cohort_day").as("horizon"))
      .filter($"horizon" <= 7)
    val ret = acts.groupBy($"cohort_day", $"horizon")
      .agg(count(lit(1)).as("retained"))
    val sizes = ret.filter($"horizon" === 0)
      .select($"cohort_day", $"retained".as("cohort_size"))
    ret.join(sizes, "cohort_day")
      .select(
        datediff($"cohort_day", lit("1970-01-01").cast("date"))
          .cast("bigint").as("cohort_day_num"),
        $"cohort_size",
        $"horizon".cast("bigint").as("horizon"),
        $"retained",
        expr("retained * 1000 div cohort_size").as("retention_permille"))
      .orderBy($"cohort_day_num", $"horizon")
  }

  val eventsRetentionCohortsSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |firsts AS (
      |  SELECT user_id, min(day) AS cohort_day FROM pairs GROUP BY user_id),
      |acts AS (
      |  SELECT f.cohort_day,
      |         date_diff('day', f.cohort_day, p.day) AS horizon
      |  FROM pairs p JOIN firsts f USING (user_id)
      |  WHERE date_diff('day', f.cohort_day, p.day) <= 7),
      |ret AS (
      |  SELECT cohort_day, horizon, count(*) AS retained
      |  FROM acts GROUP BY cohort_day, horizon),
      |sizes AS (
      |  SELECT cohort_day, retained AS cohort_size FROM ret WHERE horizon = 0)
      |SELECT CAST(date_diff('day', DATE '1970-01-01', r.cohort_day) AS BIGINT)
      |         AS cohort_day_num,
      |       CAST(s.cohort_size AS BIGINT) AS cohort_size,
      |       CAST(r.horizon AS BIGINT) AS horizon,
      |       CAST(r.retained AS BIGINT) AS retained,
      |       CAST(r.retained * 1000 // s.cohort_size AS BIGINT)
      |         AS retention_permille
      |FROM ret r JOIN sizes s ON r.cohort_day = s.cohort_day
      |ORDER BY cohort_day_num, horizon""".stripMargin

  /** Telemetry decimation (`events_downsample`): keep the LAST event per
    * (user, minute) — the standard high-frequency-stream downsampling
    * before retention/cohort analytics, cutting a per-second feed ~60×
    * while preserving each user's most recent state per bucket. Ties
    * (same timestamp) break to the highest event_id, so the kept row is
    * engine-independent.
    *
    * Scale shape: ONE partial+final `max(struct(ts, event_id, …))`
    * hash aggregation — map-side combine collapses each partition to
    * one candidate row per (user, minute) BEFORE the exchange, so the
    * shuffle carries the output size, not the input. The naive
    * keep-last formulation (`row_number() OVER (PARTITION BY …)` then
    * `rk = 1`, which the oracle uses as an independent restatement)
    * sort-shuffles the ENTIRE feed — the agg form is why this survives
    * a 100× feed. */
  def eventsDownsample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"user_id",
        window($"ts", "1 minute").getField("start").as("m_ts"))
      .agg(max(struct($"ts", $"event_id", $"event_type", $"value")).as("last"))
      .select($"user_id", unix_timestamp($"m_ts").as("m_start"),
        $"last.event_id".as("event_id"), $"last.event_type".as("event_type"),
        unix_micros($"last.ts").as("ts_us"), $"last.value".as("value"))
      .orderBy($"user_id", $"m_start")
  }

  val eventsDownsampleSql: String =
    """SELECT user_id,
      |       CAST(epoch(time_bucket(INTERVAL '1 minute', ts)) AS BIGINT) AS m_start,
      |       event_id, event_type,
      |       CAST(epoch_us(ts) AS BIGINT) AS ts_us, value
      |FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY user_id, time_bucket(INTERVAL '1 minute', ts)
      |    ORDER BY ts DESC, event_id DESC) AS rk
      |  FROM events) t
      |WHERE rk = 1
      |ORDER BY user_id, m_start""".stripMargin

  /** Z-score anomaly detection per event_type: flag events more than 3
    * standard deviations from their type's mean. Mean/stddev are derived
    * from exact decimal sums (sum, sum-of-squares) so both engines compute
    * identical doubles — a direct `stddev_samp` would be
    * summation-order-dependent.
    *
    * Scale note: the per-type stats dataframe is a handful of rows —
    * broadcast join against the full events scan, no shuffle of the facts. */
  def eventsSessionAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
    val d = $"value".cast(Dec)
    val stats = e.groupBy($"event_type")
      .agg(sum(d).cast("double").as("s"),
        sum(d * d).cast("double").as("s2"),
        count(lit(1)).as("n"))
      .select($"event_type",
        ($"s" / $"n").as("mean_v"),
        sqrt(($"s2" - ($"s" * $"s") / $"n") / ($"n" - 1)).as("std_v"))
    val z = ($"value" - $"mean_v") / $"std_v"
    e.join(broadcast(stats), "event_type")
      .filter(abs(z) > 3)
      .select($"event_id", $"event_type", $"value", z.as("z"))
      .transform(Presentation.ordered(_, $"event_id"))
  }

  val eventsSessionAnomalySql: String =
    """WITH stats AS (
      |  SELECT event_type,
      |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS s,
      |    CAST(sum(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS s2,
      |    count(*) AS n
      |  FROM events GROUP BY event_type),
      |st AS (
      |  SELECT event_type, s / n AS mean_v,
      |         sqrt((s2 - (s * s) / n) / (n - 1)) AS std_v
      |  FROM stats)
      |SELECT e.event_id, e.event_type, e.value,
      |       (e.value - st.mean_v) / st.std_v AS z
      |FROM events e JOIN st USING (event_type)
      |WHERE abs((e.value - st.mean_v) / st.std_v) > 3
      |ORDER BY e.event_id""".stripMargin

  /** Exact deduplication: keep the earliest event per (user_id, event_type),
    * ties broken by event_id — `dropDuplicates` made deterministic via
    * ranking (dropDuplicates itself keeps an arbitrary row). */
  def dedupEvents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"ts".asc, $"event_id".asc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"event_id", expr("unix_micros(ts)").as("ts_us"),
        $"user_id", $"event_type", $"value", $"props")
      .orderBy($"user_id", $"event_type")
  }

  val dedupEventsSql: String =
    """SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
      |       user_id, event_type, value, props
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      |      FROM events) t
      |WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin

  /** Sliding (hopping) windows: 10-minute windows every 5 minutes — each
    * event lands in two windows. Spark's `window(ts, "10 minutes",
    * "5 minutes")` generates the window set at the scan (narrow), then one
    * hash aggregation; the oracle enumerates the same windows with a
    * 2-row range cross join. */
  def eventsSlidingStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(window($"ts", "10 minutes", "5 minutes").getField("start").as("w_ts"))
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast(Dec)).cast("double").as("sum_value"))
      .select(unix_timestamp($"w_ts").as("w_start"), $"n_events", $"sum_value")
      .orderBy($"w_start")
  }

  val eventsSlidingStatsSql: String =
    """SELECT CAST(w_start AS BIGINT) AS w_start, count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM (
      |  SELECT epoch(time_bucket(INTERVAL '5 minutes', ts)) - k.k * 300 AS w_start,
      |         ts, value
      |  FROM events CROSS JOIN range(2) k(k)) t
      |WHERE epoch(ts) >= w_start AND epoch(ts) < w_start + 600
      |GROUP BY w_start
      |ORDER BY w_start""".stripMargin

  /** Session windows: per-user sessions closed by a 30-minute inactivity
    * gap — Spark's `session_window` merges events server-side in one
    * aggregation; the oracle derives identical sessions with the classic
    * gaps-and-islands window SQL. */
  def eventsSessionWindows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"user_id", session_window($"ts", "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast(Dec)).cast("double").as("sum_value"),
        expr("unix_micros(min(ts))").as("s_start_us"))
      .select($"user_id", $"s_start_us", $"n_events", $"sum_value")
      .orderBy($"user_id", $"s_start_us")
  }

  val eventsSessionWindowsSql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, value, event_id,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
      |              >= 1800000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events),
      |sess AS (
      |  SELECT user_id, ts, value,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked)
      |SELECT user_id, CAST(epoch_us(min(ts)) AS BIGINT) AS s_start_us,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM sess
      |GROUP BY user_id, sid
      |ORDER BY user_id, s_start_us""".stripMargin

  /** JSON scalar extraction over `events.props` + aggregation: histogram of
    * the extracted `k` with a decimal-exact value sum per bucket. */
  def jsonPropsExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select(get_json_object($"props", "$.k").cast("int").as("k"),
        $"value")
      .groupBy($"k")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(Dec)).cast("double").as("sum_value"))
      .orderBy($"k")
  }

  val jsonPropsExtractSql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
      |       count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1
      |ORDER BY k""".stripMargin

  /** VARIANT-typed semi-structured extraction: `props` is parsed ONCE
    * into Spark 4's binary VARIANT encoding (`parse_json`), then fields
    * are read with typed `variant_get` paths. Against string JSON
    * (`get_json_object`, [[jsonPropsExtract]]) every path re-parses the
    * text; a variant column parses at ingest and each extraction is a
    * binary offset lookup — the difference between O(paths × parse) and
    * O(parse + paths) per row, which at 100 TB of logs is why the
    * shredded-variant layout exists (and why engines store VARIANT
    * columnar). Extracted values are exact ints, so the aggregate is
    * oracle-deterministic. */
  def jsonVariantShred(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_type", parse_json($"props").as("pv"))
      .select($"event_type", variant_get($"pv", "$.k", "int").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"k".cast("long")).as("sum_k"),
        min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  val jsonVariantShredSql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
      |  min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
      |  max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** CEP-style funnel: per user, the first view → first later click →
    * first later purchase (strict temporal order). The reference has no
    * CEP; this is the declarative composition Spark answers it with —
    * three conditional min-aggregations chained by joins on user_id, no
    * per-row state machine. The per-user aggregates carry NO broadcast
    * hint: user cardinality is unbounded, so AQE must stay free to pick a
    * shuffle join at scale (it still broadcasts at small SF on its own). */
  def eventsUserFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
    val v = e.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t_view"))
    val c = e.filter($"event_type" === "click").join(v, "user_id")
      .filter($"ts" > $"t_view")
      .groupBy($"user_id").agg(min($"ts").as("t_click"))
    val p = e.filter($"event_type" === "purchase").join(c, "user_id")
      .filter($"ts" > $"t_click")
      .groupBy($"user_id").agg(min($"ts").as("t_purchase"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select($"user_id",
        expr("unix_micros(t_view)").as("view_us"),
        expr("unix_micros(t_click)").as("click_us"),
        expr("unix_micros(t_purchase)").as("purchase_us"),
        $"t_purchase".isNotNull.cast("int").as("funnel_complete"))
      .orderBy($"user_id")
  }

  val eventsUserFunnelSql: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS t_click
      |  FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t_view
      |  WHERE e.event_type = 'click' GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS t_purchase
      |  FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t_click
      |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      |SELECT v.user_id,
      |  CAST(epoch_us(v.t_view) AS BIGINT) AS view_us,
      |  CAST(epoch_us(c.t_click) AS BIGINT) AS click_us,
      |  CAST(epoch_us(p.t_purchase) AS BIGINT) AS purchase_us,
      |  CAST(p.t_purchase IS NOT NULL AS INT) AS funnel_complete
      |FROM v LEFT JOIN c ON c.user_id = v.user_id
      |       LEFT JOIN p ON p.user_id = v.user_id
      |ORDER BY v.user_id""".stripMargin

  /** Cohort retention: users grouped by first-seen day; distinct active
    * users per (cohort_day, day_offset). All day math is exact integer
    * floor division on microsecond epochs (double division would round
    * differently across engines). */
  def eventsCohortRetention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val days = Tables.events(spark, dir)
      .select($"user_id", expr("unix_micros(ts) DIV 86400000000").as("day"))
    // cohorts is one row per user (unbounded cardinality) — no broadcast
    // hint; AQE picks the join strategy per actual size
    val cohorts = days.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    days.join(cohorts, "user_id")
      .groupBy($"cohort_day", ($"day" - $"cohort_day").as("day_offset"))
      .agg(countDistinct($"user_id").as("n_active_users"))
      .orderBy($"cohort_day", $"day_offset")
  }

  val eventsCohortRetentionSql: String =
    """WITH days AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |cohorts AS (
      |  SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id)
      |SELECT c.cohort_day, d.day - c.cohort_day AS day_offset,
      |       count(DISTINCT d.user_id) AS n_active_users
      |FROM days d JOIN cohorts c ON c.user_id = d.user_id
      |GROUP BY c.cohort_day, d.day - c.cohort_day
      |ORDER BY cohort_day, day_offset""".stripMargin

  /** Per-user inter-arrival gap statistics via `lag` — the classic
    * sessionization precursor. Gaps are exact microsecond integers; the
    * mean is the same double division on both engines. */
  def eventsInterarrival(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us".asc, $"event_id".asc)
    Tables.events(spark, dir)
      .select($"user_id", expr("unix_micros(ts)").as("us"), $"event_id")
      .withColumn("gap", $"us" - lag($"us", 1).over(w))
      .filter($"gap".isNotNull)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_gaps"),
        min($"gap").as("min_gap_us"),
        max($"gap").as("max_gap_us"),
        (sum($"gap").cast("double") / count(lit(1))).as("avg_gap_us"))
      .orderBy($"user_id")
  }

  val eventsInterarrivalSql: String =
    """SELECT user_id, count(*) AS n_gaps,
      |       min(gap) AS min_gap_us, max(gap) AS max_gap_us,
      |       CAST(sum(gap) AS DOUBLE) / count(*) AS avg_gap_us
      |FROM (
      |  SELECT user_id,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS gap
      |  FROM events) t
      |WHERE gap IS NOT NULL
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Two-stage salted aggregation: stage 1 groups on (key, salt) so a
    * hot key spreads over 16 reducers; stage 2 merges the partials.
    * Decimal partials keep the merge exact, so the result is identical
    * to the direct GROUP BY the oracle runs — the point is the shuffle
    * shape, which survives skewed keys at 100 TB. */
  def aggSaltedSkew(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .withColumn("salt", pmod($"event_id", lit(16)))
      .groupBy($"event_type", $"salt")
      .agg(count(lit(1)).as("pn"), sum($"value".cast(Dec)).as("ps"))
      .groupBy($"event_type")
      .agg(sum($"pn").as("n_events"),
        sum($"ps").cast("double").as("sum_value"))
      .orderBy($"event_type")
  }

  val aggSaltedSkewSql: String =
    """SELECT event_type, count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Schema-typed JSON parsing (`from_json` with an explicit struct
    * schema, vs the path-probing `get_json_object` above): one parse per
    * row into a typed column, then typed field access — the shape a real
    * pipeline uses when props carry many fields. */
  def jsonPropsSchema(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .withColumn("p", from_json($"props",
        org.apache.spark.sql.types.StructType.fromDDL("k INT")))
      .select($"event_id", $"p.k".as("k"))
      .filter($"k" >= 90)
      .orderBy($"event_id")
  }

  val jsonPropsSchemaSql: String =
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
      |FROM events
      |WHERE CAST(json_extract_string(props, '$.k') AS INT) >= 90
      |ORDER BY event_id""".stripMargin

  /** Time-series gap filling: resample each user's event stream onto a
    * dense daily calendar spine — days with no events appear with an
    * explicit zero (plus the running total), which is what rolling-
    * window models and feature stores need (a missing row and a zero row
    * are different facts).
    *
    * The spine is generated per user with `sequence(min_day, max_day)`
    * (array of dates, narrow explode) — never a driver-side calendar
    * loop, never a cross join against a global date table: each user
    * contributes exactly their own span, the explode is bounded by it,
    * and the left join back to the daily aggregate is an equi-join on
    * (user, day). The cumulative sum is one sort within the user
    * partition. All values are exact integers. */
  def eventsGapFill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .filter($"user_id" % 10 === 0)
      .groupBy($"user_id", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val spine = daily.groupBy($"user_id")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
      .select($"user_id", explode(sequence($"d0", $"d1")).as("day"))
    val cum = Window.partitionBy($"user_id").orderBy($"epoch_day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day"), "left")
      .select($"user_id",
        datediff($"day", lit("1970-01-01").cast("date")).cast("long").as("epoch_day"),
        coalesce($"n_events", lit(0L)).as("n_events"))
      .withColumn("cum_events", sum($"n_events").over(cum))
      .orderBy($"user_id", $"epoch_day")
  }

  val eventsGapFillSql: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events
      |  FROM events WHERE user_id % 10 = 0
      |  GROUP BY user_id, CAST(ts AS DATE)),
      |spine AS (
      |  SELECT user_id,
      |         CAST(unnest(generate_series(min(day), max(day),
      |                                     INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM daily GROUP BY user_id)
      |SELECT s.user_id,
      |  CAST(s.day - DATE '1970-01-01' AS BIGINT) AS epoch_day,
      |  CAST(coalesce(d.n_events, 0) AS BIGINT) AS n_events,
      |  CAST(sum(coalesce(d.n_events, 0)) OVER (
      |    PARTITION BY s.user_id ORDER BY s.day
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_events
      |FROM spine s LEFT JOIN daily d USING (user_id, day)
      |ORDER BY user_id, epoch_day""".stripMargin

  /** First-order Markov transition matrix over per-user event sequences
    * (`events_markov_transitions`) — the sequence-modeling prep that
    * turns a clickstream into `P(next | current)`: one `lead()` window
    * per user (hash-partitioned on user_id — each user's sequence sorts
    * locally, no global sort), integer pair counts, then ONE double
    * division per matrix cell against the per-source-state total. The
    * matrix itself is |event_types|² ≤ 25 rows — the normalize join is
    * a trivial broadcast however big the event log is. Ordering ties
    * break on event_id, so the sequence (and the matrix) is total-order
    * deterministic on both engines. */
  def eventsMarkovTransitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val cnt = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .filter($"next_type".isNotNull)
      .groupBy($"event_type", $"next_type")
      .agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy($"event_type").agg(sum($"n").as("t"))
    cnt.join(tot, "event_type")
      .select($"event_type", $"next_type", $"n",
        ($"n".cast("double") / $"t".cast("double")).as("p"))
      .orderBy($"event_type", $"next_type")
  }

  val eventsMarkovTransitionsSql: String =
    """WITH pairs AS (
      |  SELECT event_type,
      |         lead(event_type) OVER (
      |           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |cnt AS (
      |  SELECT event_type, next_type, count(*) AS n
      |  FROM pairs WHERE next_type IS NOT NULL
      |  GROUP BY event_type, next_type),
      |tot AS (SELECT event_type, sum(n) AS t FROM cnt GROUP BY event_type)
      |SELECT c.event_type, c.next_type, CAST(c.n AS BIGINT) AS n,
      |  CAST(c.n AS DOUBLE) / CAST(t.t AS DOUBLE) AS p
      |FROM cnt c JOIN tot t USING (event_type)
      |ORDER BY c.event_type, c.next_type""".stripMargin

  /** Rolling-baseline anomaly flags (`events_rolling_anomaly`): each
    * event scored against the trailing 50 events of its OWN type (frame
    * excludes the current row), flagged when it sits more than 3 sample
    * standard deviations from that trailing mean. Unlike the global
    * z-score of [[eventsSessionAnomaly]], the baseline here adapts to
    * drift — a level shift stops alarming once the window absorbs it,
    * which is the detector a monitoring pipeline actually runs. Rows
    * need ≥ 20 trailing observations and strictly positive variance
    * (decided in exact integer math) before they can alarm.
    *
    * Engine parity: values are fixed-pointed to integer cents
    * (`DECIMAL(12,2)·100 → BIGINT`) so the trailing window sums are
    * exact integers in both engines regardless of accumulation order;
    * the variance guard `n·s2 − s² > 0` is exact BIGINT arithmetic; the
    * doubles (mean, sample std, z) derive from those identical integers
    * through identical IEEE-correctly-rounded expression trees (`/`,
    * `sqrt`, `*` — no libm transcendentals), so the flag predicate and
    * the emitted z are bit-equal across engines.
    *
    * Scale shape (resharded r16): the natural single window
    * `PARTITION BY event_type` runs the per-type sort on
    * TYPE-CARDINALITY tasks — with 5 event types that is 5 tasks
    * however many cores or executors exist, and the r15 isolation probe
    * (`git show 8074e4b:BENCH_r15_iso_rolling.json`) measured exactly
    * that: task CPU LINEAR (7.3/22.2/84.5 s on 10×/30×/100×) while the
    * sf10 wall flooded to 36.9 s as the #1 headline line — the classic
    * single-task-per-key window sort a bounded type alphabet produces
    * at cluster scale. The frame is BOUNDED (trailing 50 rows), so the
    * window shards exactly: rows split into (type, time-bucket) ranges
    * — bucket count per type follows ⌈n_type / 64k⌉ with a floor of
    * [[RollingMinShardsPerType]] so the carry path is exercised at
    * every scale — and each shard's first rows see their true trailing
    * history through a CARRY of the ≤ 50 rows that precede the shard.
    * The carry construction is exact (see the in-body lemma comments);
    * the result is bit-identical to the single-window form
    * (property-pinned in OperatorSpec against both the plain-window
    * rebuild and a tiny-shard stress parameterization), the oracle SQL
    * keeps the textbook one-window formulation, and the sort now runs
    * on Σ⌈n_type/64k⌉ tasks — parallelism grows with DATA, not with
    * the type alphabet. The streaming twin's bounded 50-value state is
    * untouched. */
  def eventsRollingAnomaly(spark: SparkSession, dir: String): DataFrame =
    eventsRollingAnomalySharded(spark, dir, RollingRowsPerShard)

  /** Trailing-frame row budget per (type, time-bucket) shard. 64k rows
    * sort in ~ms and amortize the ≤ 50·(shards) carry rows to noise;
    * at sf10 (2M rows/type) it yields ~31 shards/type = 155 tasks where
    * the unsharded window had 5. */
  private val RollingRowsPerShard = 65536L

  /** Floor on shards per type: keeps the carry machinery on the hot
    * path (and under the sf0.01 oracle gate) at every scale instead of
    * degenerating to one bucket below 64k rows/type, and bounds small-n
    * latency by cores/type rather than 1. */
  private val RollingMinShardsPerType = 8L

  /** The sharded window body; `rowsPerShard` is a parameter only so the
    * spec can force many tiny shards on the 1k-row fixture and pin the
    * carry path against the plain single-window form. */
  private[graft] def eventsRollingAnomalySharded(
      spark: SparkSession, dir: String, rowsPerShard: Long): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_id", $"ts", $"event_type", $"value",
        expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("c"),
        unix_micros($"ts").as("tsu"))
    // per-type shard parameters: a 5-row broadcast. Bucketing maps the
    // type's time span uniformly onto nb buckets in DOUBLE (monotone
    // non-decreasing in tsu, so the (ts, event_id) order is respected;
    // equal timestamps always share a bucket — a boundary can never
    // split the tie-group the ordering resolves by event_id). Exact
    // bucket SIZES don't matter for correctness, only that every row
    // gets one bucket and buckets order by time.
    val params = ev.groupBy($"event_type")
      .agg(count(lit(1)).as("n_ty"), min($"tsu").as("t_lo"), max($"tsu").as("t_hi"))
      .select($"event_type", $"t_lo", $"t_hi",
        greatest(lit(RollingMinShardsPerType),
          expr(s"(n_ty + ${rowsPerShard - 1}) div $rowsPerShard")).as("nb"))
    val withB = ev.join(broadcast(params), "event_type")
      .withColumn("bucket",
        least($"nb" - 1, floor(($"tsu" - $"t_lo").cast("double") /
          ($"t_hi" - $"t_lo" + 1).cast("double") * $"nb").cast("long")))
      .select($"event_type", $"bucket", $"ts", $"event_id", $"value", $"c")
    // Per-shard tails: a row of bucket k can sit in the trailing-50
    // frame of a LATER bucket's row only if < 50 rows follow it in the
    // type's global order before that bucket starts — in particular
    // ≤ 49 rows of its OWN bucket follow it, so every possible carry
    // row is within its bucket's last 50. The shard sort computing rn
    // is itself sharded (the very parallelism being bought).
    val wShard = Window.partitionBy($"event_type", $"bucket")
      .orderBy($"ts".asc, $"event_id".asc)
    val wShardAll = Window.partitionBy($"event_type", $"bucket")
    val marked = withB
      .withColumn("rn", row_number().over(wShard))
      .withColumn("cnt", count(lit(1)).over(wShardAll))
    val tails = marked.filter($"rn" > $"cnt" - 50)
      .select($"event_type", $"bucket".as("src_bucket"),
        $"ts", $"event_id", $"c")
    // Which source buckets must carry into which target buckets: src
    // carries into tgt iff fewer than 50 rows sit strictly between them
    // (otherwise nothing in src can reach tgt's frame). Cumulative
    // bucket counts make that a bucket-level predicate; the whole table
    // is |types|·|buckets| rows — broadcast-sized by construction.
    val wCum = Window.partitionBy($"event_type").orderBy($"bucket".asc)
    val bcum = withB.groupBy($"event_type", $"bucket")
      .agg(count(lit(1)).as("bn"))
      .withColumn("cum", sum($"bn").over(wCum)) // inclusive prefix count
    val pairs = bcum.select($"event_type", $"bucket".as("src_bucket"),
        $"cum".as("cum_src"))
      .join(bcum.select($"event_type", $"bucket".as("tgt_bucket"),
        ($"cum" - $"bn").as("cum_before")), Seq("event_type"))
      .filter($"src_bucket" < $"tgt_bucket" &&
        $"cum_before" - $"cum_src" < 50)
      .select($"event_type", $"src_bucket", $"tgt_bucket")
    // The carry set for a target bucket is a contiguous SUFFIX of the
    // type's preceding rows that covers its last 50: (a) any row within
    // the last 50 of the prefix is in its own bucket's last 50 (≤ 49
    // bucket-mates follow it) and its bucket passes the < 50
    // rows-between test — so nothing is missed; (b) over-carried OLDER
    // rows are harmless — a gap above a bucket's tail only exists when
    // that bucket has > 50 rows, and then its 50 carried rows separate
    // everything older from every owner row by ≥ 50 positions, outside
    // the frame. Hence the trailing-50 frame over (carries ∪ owners)
    // equals the frame over the type's full order, row for row.
    val carries = tails
      .join(broadcast(pairs), Seq("event_type", "src_bucket"))
      .select($"event_type", $"tgt_bucket".as("bucket"), $"ts",
        $"event_id", lit(null).cast("double").as("value"), $"c",
        lit(true).as("is_carry"))
    val owners = marked.select($"event_type", $"bucket", $"ts",
      $"event_id", $"value", $"c", lit(false).as("is_carry"))
    val w = Window.partitionBy($"event_type", $"bucket")
      .orderBy($"ts".asc, $"event_id".asc)
      .rowsBetween(-50, -1)
    owners.unionByName(carries)
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", sum($"c").over(w))
      .withColumn("s2", sum($"c" * $"c").over(w))
      .filter(!$"is_carry")
      .filter($"n" >= 20 && $"n" * $"s2" - $"s" * $"s" > 0)
      .filter(expr(
        """abs(c - CAST(s AS DOUBLE) / n) >
          |  3 * sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1))""".stripMargin))
      .select($"event_id", $"event_type", $"value", $"n".as("baseline_n"),
        expr(
          """(c - CAST(s AS DOUBLE) / n) /
            |  sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1))""".stripMargin).as("z"))
      // barriered presentation sort ([[Presentation.ordered]]): without
      // it the orderBy's range-sampling job re-ran this whole window
      // chain — a hidden second full pass worth ~half the query's task
      // CPU (61.5 → 29.7 best-run CPU-s at the 30× rung). A full
      // single-sort rework of this operator (bounded last-k tail
      // aggregate + broadcast carry ranks) was built and probed against
      // this formulation and came out 2× WORSE converged CPU with the
      // same barrier — the union's second sort is cheap next to the
      // window passes, so this shape stays.
      .transform(Presentation.ordered(_, $"event_id"))
  }

  val eventsRollingAnomalySql: String =
    """WITH ev AS (
      |  SELECT event_id, ts, event_type, value,
      |         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
      |  FROM events),
      |hist AS (
      |  SELECT event_id, event_type, value, c,
      |    count(*) OVER w AS n,
      |    sum(c) OVER w AS s,
      |    sum(c * c) OVER w AS s2
      |  FROM ev
      |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
      |               ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING))
      |SELECT event_id, event_type, value, n AS baseline_n,
      |  (c - CAST(s AS DOUBLE) / n) /
      |    sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1)) AS z
      |FROM hist
      |WHERE n >= 20 AND n * s2 - s * s > 0
      |  AND abs(c - CAST(s AS DOUBLE) / n) >
      |    3 * sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1))
      |ORDER BY event_id""".stripMargin

  /** Audience overlap matrix (`events_audience_overlap`): for every
    * unordered event-type pair, how many distinct users did BOTH, plus
    * the overlap as a permille of the smaller audience (the containment
    * coefficient — 1000 means one audience is a subset of the other).
    * The product-analytics cousin of the dedup containment report: it
    * decides whether two event streams measure the same cohort or
    * different ones before anyone builds a funnel between them.
    *
    * Scale shape: dedup to distinct (user, type) first (hash agg — the
    * only pass over raw events), then a self-join keyed on user_id whose
    * per-user fan-out is bounded by the TYPE-ALPHABET choose 2 (≤10 here),
    * never by event volume; per-type audience sizes are a 5-row broadcast
    * joined twice. All counts exact integers; the permille is integer
    * division. At 100 TB the same plan holds because every intermediate
    * is either (users × alphabet) rows or alphabet-bounded. */
  def eventsAudienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ut = Tables.events(spark, dir)
      .select($"user_id", $"event_type").distinct()
    val sizes = ut.groupBy($"event_type").agg(count(lit(1)).as("n_users"))
    val both = ut.as("a").join(ut.as("b"),
        $"a.user_id" === $"b.user_id" && $"a.event_type" < $"b.event_type")
      .groupBy($"a.event_type".as("type_a"), $"b.event_type".as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    both
      .join(broadcast(sizes.select($"event_type".as("type_a"), $"n_users".as("n_a"))), "type_a")
      .join(broadcast(sizes.select($"event_type".as("type_b"), $"n_users".as("n_b"))), "type_b")
      .select($"type_a", $"type_b", $"n_a", $"n_b", $"n_both",
        expr("n_both * 1000 div least(n_a, n_b)").as("containment_permille"))
      .orderBy($"type_a", $"type_b")
  }

  val eventsAudienceOverlapSql: String =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |sizes AS (SELECT event_type, count(*) AS n_users FROM ut GROUP BY event_type),
      |ov AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
      |  FROM ut a JOIN ut b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, sa.n_users AS n_a, sb.n_users AS n_b, n_both,
      |       n_both * 1000 // least(sa.n_users, sb.n_users) AS containment_permille
      |FROM ov
      |JOIN sizes sa ON sa.event_type = type_a
      |JOIN sizes sb ON sb.event_type = type_b
      |ORDER BY type_a, type_b""".stripMargin

  /** Per-user activity streaks (`events_user_streaks`): the classic
    * gaps-and-islands rollup — for each user, total distinct active
    * days, the number of maximal runs of CONSECUTIVE days, and the
    * length of the longest such run. The engagement artifact behind
    * "7-day streak" product features and the churn-model feature the
    * retention matrix ([[eventsRetentionCohorts]]) doesn't expose
    * (retention says WHO came back; streaks say how uninterruptedly).
    *
    * Islands via the textbook trick: within a user, sort distinct days
    * and subtract `row_number`; consecutive days share the difference,
    * so the island key is `(user_id, day_num - rn)` and never needs a
    * self-join or a recursive pass.
    *
    * Scale shape: ONE distinct (user, day) projection is the only pass
    * over raw events (hash agg, map-side partial). The window sort is
    * partitioned by user_id — per-partition state is bounded by days
    * in the feed (≤ retention horizon, never event volume), and the
    * island + per-user aggs reuse the same user_id hash partitioning,
    * so the whole tail after the distinct is one shuffle. All counts
    * exact integers. */
  def eventsUserStreaks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val days = Tables.events(spark, dir)
      .select($"user_id",
        datediff(to_date($"ts"), lit("1970-01-01").cast("date"))
          .cast("bigint").as("day_num"))
      .distinct()
    val islands = days
      .withColumn("rn",
        row_number().over(Window.partitionBy($"user_id").orderBy($"day_num")))
      .groupBy($"user_id", ($"day_num" - $"rn").as("island"))
      .agg(count(lit(1)).as("run_len"))
    islands.groupBy($"user_id")
      .agg(
        sum($"run_len").as("active_days"),
        count(lit(1)).as("n_streaks"),
        max($"run_len").as("longest_streak"))
      .orderBy($"user_id")
  }

  val eventsUserStreaksSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id,
      |         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day_num
      |  FROM events),
      |keyed AS (
      |  SELECT user_id,
      |         day_num - row_number() OVER (PARTITION BY user_id ORDER BY day_num) AS island
      |  FROM days),
      |islands AS (
      |  SELECT user_id, island, count(*) AS run_len
      |  FROM keyed
      |  GROUP BY user_id, island)
      |SELECT user_id, CAST(sum(run_len) AS BIGINT) AS active_days,
      |       count(*) AS n_streaks,
      |       max(run_len) AS longest_streak
      |FROM islands
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Hour-of-day seasonal baseline + spike flags
    * (`events_seasonal_baseline`): traffic is periodic, so a global or
    * trailing-window z-score ([[eventsRollingAnomaly]]) mistakes every
    * daily peak for an anomaly. The standard fix is a SEASONAL
    * baseline: compare each (day, hour-slot, type) bucket against the
    * average of the SAME hour-of-day slot for that type across the
    * whole feed, and flag buckets more than 2x their slot baseline.
    *
    * The spike predicate is exact integer cross-multiplication
    * (`cnt * n_days > 2 * slot_total`), never a floating-point mean —
    * engine-portable by construction, and the per-mille load factor is
    * integer division for the same reason.
    *
    * Scale shape: one partial+final hash agg over raw events keyed by
    * (day, hour, type) — the only corpus-sized pass; the slot baseline
    * re-aggregates THAT bounded frame (days x 24 x alphabet rows) by
    * (hour, type), and joins back as a broadcast (24 x alphabet rows).
    * Output is bounded by the calendar, not event volume. */
  def eventsSeasonalBaseline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourly = Tables.events(spark, dir)
      .select(
        datediff(to_date($"ts"), lit("1970-01-01").cast("date"))
          .cast("bigint").as("day_num"),
        hour($"ts").cast("bigint").as("hod"),
        $"event_type")
      .groupBy($"day_num", $"hod", $"event_type")
      .agg(count(lit(1)).as("cnt"))
    val slots = hourly.groupBy($"hod", $"event_type")
      .agg(sum($"cnt").as("slot_total"), count(lit(1)).as("n_days"))
    hourly.join(broadcast(slots), Seq("hod", "event_type"))
      .select($"day_num", $"hod", $"event_type", $"cnt",
        expr("cnt * n_days * 1000 div slot_total").as("load_permille"),
        ($"cnt" * $"n_days" > $"slot_total" * lit(2L)).as("is_spike"))
      .orderBy($"day_num", $"hod", $"event_type")
  }

  val eventsSeasonalBaselineSql: String =
    """WITH hourly AS (
      |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day_num,
      |         CAST(hour(ts) AS BIGINT) AS hod, event_type, count(*) AS cnt
      |  FROM events
      |  GROUP BY 1, 2, 3),
      |slots AS (
      |  SELECT hod, event_type, CAST(sum(cnt) AS BIGINT) AS slot_total,
      |         count(*) AS n_days
      |  FROM hourly GROUP BY hod, event_type)
      |SELECT day_num, h.hod, h.event_type, cnt,
      |       CAST(cnt * n_days * 1000 // slot_total AS BIGINT) AS load_permille,
      |       cnt * n_days > slot_total * 2 AS is_spike
      |FROM hourly h JOIN slots s ON h.hod = s.hod AND h.event_type = s.event_type
      |ORDER BY day_num, h.hod, h.event_type""".stripMargin
}
