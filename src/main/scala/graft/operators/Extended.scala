package graft.operators

import graft.{GraftSession, Tables, TempDirs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Extended relational surface beyond the reference (§2.8's "absent"
  * list, implemented Spark-first): as-of join, semi/anti joins, range
  * join, rollup, distinct aggregation, set operations, scalar function
  * library, window frames.
  *
  * Scale notes: the as-of join deliberately avoids the O(rows×candidates)
  * range-scan formulation — it is the union-tag + ordered-window pattern
  * (one sort-shuffle per side on the join key, then a linear pass), which
  * is how as-of joins stay tractable on 100 TB of ticks/events. Semi/anti
  * joins broadcast the small side; rollup/count-distinct are single
  * hash-aggregate pipelines (Spark expands distinct aggregates into a
  * two-phase plan automatically).
  */
object Extended {
  private val Dec = DecimalType(12, 2)

  /** Once-per-(JVM, dir) partitioned-layout fixtures for
    * [[joinDppPruned]] — see its scaladoc. */
  private val DppFixtureDirs =
    scala.collection.mutable.Map.empty[String, java.nio.file.Path]

  /** As-of join: for every event, the most recent order of the mapped
    * customer at-or-before the event time (ties on order date broken by
    * max orderkey, made explicit on both engines).
    *
    * Spark has no ASOF JOIN operator — this is the scalable composition:
    * tag both streams, union, and carry the latest order payload forward
    * with `last_value(..., ignoreNulls)` over an ordered per-key window.
    * DuckDB oracles it with its native `ASOF LEFT JOIN`. */
  def joinAsof(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // one order per (custkey, orderdate): keep max orderkey — removes
    // tie ambiguity both here and in the oracle's ASOF semantics
    val orders = Tables.orders(spark, dir)
      .groupBy($"o_custkey", $"o_orderdate")
      .agg(max($"o_orderkey").as("o_orderkey"))
    val oTagged = orders.select(
      $"o_custkey".as("k"), $"o_orderdate".cast("timestamp").as("t"),
      lit(1).as("is_order"), $"o_orderkey",
      lit(null).cast("bigint").as("event_id"))
    val events = Tables.events(spark, dir)
    val eTagged = events.select(
      (pmod($"user_id", lit(100)) + 1).as("k"), $"ts".as("t"),
      lit(0).as("is_order"), lit(null).cast("bigint").as("o_orderkey"),
      $"event_id")
    // at equal t the order row sorts first (is_order desc) so an event at
    // exactly the order date sees it (>= semantics)
    val w = Window.partitionBy($"k")
      .orderBy($"t".asc, $"is_order".desc, $"event_id".asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    oTagged.unionByName(eTagged)
      .withColumn("matched_orderkey", last($"o_orderkey", ignoreNulls = true).over(w))
      .filter($"is_order" === 0)
      .select($"event_id", $"k".as("custkey"),
        expr("unix_micros(t)").as("ts_us"), $"matched_orderkey")
      .orderBy($"event_id")
  }

  val joinAsofSql: String =
    """WITH o AS (
      |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      |  FROM orders GROUP BY o_custkey, o_orderdate),
      |e AS (
      |  SELECT event_id, user_id % 100 + 1 AS custkey, ts FROM events)
      |SELECT e.event_id, e.custkey, CAST(epoch_us(e.ts) AS BIGINT) AS ts_us,
      |       o.o_orderkey AS matched_orderkey
      |FROM e ASOF LEFT JOIN o
      |  ON e.custkey = o.o_custkey AND e.ts >= o.o_orderdate
      |ORDER BY event_id""".stripMargin

  /** As-of join WITH a staleness tolerance (`join_asof_tolerance`) — the
    * sensor/market-data variant: a match older than 30 days is no match
    * (a stale quote must not price today's trade). Same union+ordered-
    * window composition as [[joinAsof]], additionally carrying the
    * matched order's own timestamp forward; the tolerance is applied as
    * a post-filter on the exact microsecond staleness, which is correct
    * because the as-of match is the LATEST at-or-before row — if IT is
    * too old, no in-tolerance match exists. Staleness arithmetic is
    * exact integer microseconds on both engines (no interval types in
    * the compared output).
    *
    * Scale shape: identical to the base as-of join — one hash-partitioned
    * ordered window per key, no range join, no explosion; the tolerance
    * adds two narrow column expressions. */
  private val AsofTolUs = 30L * 86400L * 1000000L // 30 days in microseconds

  def joinAsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
      .groupBy($"o_custkey", $"o_orderdate")
      .agg(max($"o_orderkey").as("o_orderkey"))
    val oTagged = orders.select(
      $"o_custkey".as("k"), $"o_orderdate".cast("timestamp").as("t"),
      lit(1).as("is_order"), $"o_orderkey",
      lit(null).cast("bigint").as("event_id"))
    val eTagged = Tables.events(spark, dir).select(
      (pmod($"user_id", lit(100)) + 1).as("k"), $"ts".as("t"),
      lit(0).as("is_order"), lit(null).cast("bigint").as("o_orderkey"),
      $"event_id")
    val w = Window.partitionBy($"k")
      .orderBy($"t".asc, $"is_order".desc, $"event_id".asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    oTagged.unionByName(eTagged)
      .withColumn("matched_orderkey", last($"o_orderkey", ignoreNulls = true).over(w))
      .withColumn("matched_t",
        last(when($"is_order" === 1, $"t"), ignoreNulls = true).over(w))
      .filter($"is_order" === 0)
      .withColumn("stale_us", expr("unix_micros(t) - unix_micros(matched_t)"))
      .select($"event_id", $"k".as("custkey"),
        expr("unix_micros(t)").as("ts_us"),
        when($"stale_us" <= AsofTolUs, $"matched_orderkey").as("matched_orderkey"),
        when($"stale_us" <= AsofTolUs, $"stale_us").as("staleness_us"))
      .orderBy($"event_id")
  }

  lazy val joinAsofToleranceSql: String =
    s"""WITH o AS (
       |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
       |  FROM orders GROUP BY o_custkey, o_orderdate),
       |e AS (
       |  SELECT event_id, user_id % 100 + 1 AS custkey, ts FROM events)
       |SELECT e.event_id, e.custkey, CAST(epoch_us(e.ts) AS BIGINT) AS ts_us,
       |  CASE WHEN epoch_us(e.ts) - epoch_us(CAST(o.o_orderdate AS TIMESTAMP))
       |            <= $AsofTolUs
       |       THEN o.o_orderkey END AS matched_orderkey,
       |  CASE WHEN epoch_us(e.ts) - epoch_us(CAST(o.o_orderdate AS TIMESTAMP))
       |            <= $AsofTolUs
       |       THEN CAST(epoch_us(e.ts) - epoch_us(CAST(o.o_orderdate AS TIMESTAMP))
       |            AS BIGINT) END AS staleness_us
       |FROM e ASOF LEFT JOIN o
       |  ON e.custkey = o.o_custkey AND e.ts >= o.o_orderdate
       |ORDER BY event_id""".stripMargin

  /** Left-semi join (EXISTS): customers with at least one large (>450k)
    * order. The large-order predicate keeps both semi and anti results
    * non-trivial at every scale factor (every customer has SOME order). */
  def joinSemiCustomers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter($"o_totalprice" > 450000).select($"o_custkey".as("c_custkey"))
    c.join(o, Seq("c_custkey"), "left_semi")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  val joinSemiCustomersSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no large (>450k) order. */
  def joinAntiCustomers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter($"o_totalprice" > 450000).select($"o_custkey".as("c_custkey"))
    c.join(o, Seq("c_custkey"), "left_anti")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  val joinAntiCustomersSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
      |ORDER BY c_custkey""".stripMargin

  /** Equi + range join: lineitems shipped within 90 days of their order's
    * date — the range predicate rides on the equi-join key, so the plan
    * stays a hash/sort-merge join with a post-filter (no interval blowup). */
  def joinRangeShipping(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    li.join(o, $"l_orderkey" === $"o_orderkey" &&
        $"l_shipdate" >= $"o_orderdate" &&
        $"l_shipdate" <= $"o_orderdate" + expr("INTERVAL 90 DAYS"))
      .groupBy($"o_orderkey")
      .agg(count(lit(1)).as("n_shipped_90d"),
        sum($"l_quantity".cast(Dec)).cast("double").as("qty_90d"))
      .orderBy($"o_orderkey")
  }

  val joinRangeShippingSql: String =
    """SELECT o_orderkey, count(*) AS n_shipped_90d,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty_90d
      |FROM orders JOIN lineitem
      |  ON l_orderkey = o_orderkey
      | AND l_shipdate >= o_orderdate
      | AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
      |GROUP BY o_orderkey
      |ORDER BY o_orderkey""".stripMargin

  /** ROLLUP aggregation: revenue at (flag, status), (flag), and grand
    * total levels — subtotal rows carry NULL group keys on both engines. */
  def aggRollupRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r17: partial-aggregate to the FINEST grouping first, then rollup
    // the bounded partial table — Spark plans a bare rollup as
    // Expand(×3) → partial agg, so the fact stream was materialized and
    // aggregated three times over; pre-aggregation is exact because both
    // aggregates are algebraic over exact types (count → sum of longs,
    // sum of DECIMAL(12,2) → sum of exact decimals; the double cast
    // happens once, on the same exact total). Guide §2.3 (aggregate
    // before you expand/shuffle). Subtotal NULL-key semantics are
    // unchanged: the outer rollup sees the base keys exactly as the
    // fact rows carried them.
    val base = Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), sum($"l_extendedprice".cast(Dec)).as("rev"))
    base.rollup($"l_returnflag", $"l_linestatus")
      .agg(sum($"n").as("n_items"),
        sum($"rev").cast("double").as("gross_revenue"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  val aggRollupRevenueSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n_items,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS gross_revenue
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** CUBE aggregation: all 2^2 grouping combinations of (status,
    * priority) — completes the grouping-sets family next to ROLLUP. */
  def aggCubeOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r17: pre-aggregate before the ×4 cube expand (see aggRollupRevenue)
    val base = Tables.orders(spark, dir)
      .groupBy($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), sum($"o_totalprice".cast(Dec)).as("rev"))
    base.cube($"o_orderstatus", $"o_orderpriority")
      .agg(sum($"n").as("n_orders"),
        sum($"rev").cast("double").as("total_price"))
      .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  val aggCubeOrdersSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** Distinct aggregation: per market segment, distinct nations and
    * customers alongside plain counts (two-phase distinct-agg plan). */
  def aggCountDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir)
      .groupBy($"c_mktsegment")
      .agg(countDistinct($"c_nationkey").as("n_nations"),
        count(lit(1)).as("n_customers"))
      .orderBy($"c_mktsegment")
  }

  val aggCountDistinctSql: String =
    """SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations,
      |       count(*) AS n_customers
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** INTERSECT: customers who placed at least one large (>450k) order.
    * (The large-order subset keeps both set results non-trivial at every
    * scale factor — plain customer∖orders is empty at sf0.001.) */
  def setIntersect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir).select($"c_custkey".as("custkey"))
      .intersect(Tables.orders(spark, dir)
        .filter($"o_totalprice" > 450000).select($"o_custkey".as("custkey")))
      .orderBy($"custkey")
  }

  val setIntersectSql: String =
    """SELECT c_custkey AS custkey FROM customer
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_totalprice > 450000
      |ORDER BY custkey""".stripMargin

  /** EXCEPT: customers who never placed a large (>450k) order. */
  def setExcept(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir).select($"c_custkey".as("custkey"))
      .except(Tables.orders(spark, dir)
        .filter($"o_totalprice" > 450000).select($"o_custkey".as("custkey")))
      .orderBy($"custkey")
  }

  val setExceptSql: String =
    """SELECT c_custkey AS custkey FROM customer
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_totalprice > 450000
      |ORDER BY custkey""".stripMargin

  /** FULL OUTER join: per-customer large-order counts vs small-order
    * counts — keys exist on either side only, so both null patterns
    * appear. */
  def joinFullOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    val big = o.filter($"o_totalprice" > 450000)
      .groupBy($"o_custkey".as("custkey")).agg(count(lit(1)).as("n_big"))
    val small = o.filter($"o_totalprice" < 100000)
      .groupBy($"o_custkey".as("custkey")).agg(count(lit(1)).as("n_small"))
    big.join(small, Seq("custkey"), "full_outer")
      .select($"custkey",
        coalesce($"n_big", lit(0L)).as("n_big"),
        coalesce($"n_small", lit(0L)).as("n_small"))
      .orderBy($"custkey")
  }

  val joinFullOuterSql: String =
    """WITH big AS (
      |  SELECT o_custkey AS custkey, count(*) AS n_big FROM orders
      |  WHERE o_totalprice > 450000 GROUP BY o_custkey),
      |small AS (
      |  SELECT o_custkey AS custkey, count(*) AS n_small FROM orders
      |  WHERE o_totalprice < 100000 GROUP BY o_custkey)
      |SELECT coalesce(big.custkey, small.custkey) AS custkey,
      |       coalesce(n_big, 0) AS n_big,
      |       coalesce(n_small, 0) AS n_small
      |FROM big FULL OUTER JOIN small ON big.custkey = small.custkey
      |ORDER BY custkey""".stripMargin

  /** Explicit cross join over the two constant-size dimensions — the one
    * place a cartesian product is legitimate (5 × 25 rows). */
  def crossJoinRegions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.region(spark, dir).select($"r_name")
      .crossJoin(Tables.nation(spark, dir).select($"n_name"))
      .orderBy($"r_name", $"n_name")
  }

  val crossJoinRegionsSql: String =
    """SELECT r_name, n_name FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""".stripMargin

  /** Rank budget per (key, value-bucket) shard in the sharded-window
    * restatements (ntile, percent_rank, cume_dist); same 64k rationale
    * as the event scans'. */
  private val NtileRowsPerShard = 65536L

  /** Floor on shards per key, so the rank-carry path is exercised at
    * every scale (incl. the sf0.01 oracle gate) instead of
    * degenerating to one bucket below 64k rows/key. */
  private val NtileMinShardsPerKey = 8L

  /** NTILE window function: revenue quartiles of orders per order
    * priority (even-split buckets, earlier buckets larger on remainder —
    * identical SQL-standard semantics on both engines).
    *
    * r17: `o_orderpriority` is a 5-value alphabet, so the textbook
    * window (`ntile(4) OVER (PARTITION BY priority ORDER BY price DESC,
    * key)`) sorts each priority's full stream on ONE task — the same
    * bounded-cardinality parallelism floor the event scans shed in r16.
    * Restated as a two-level scan: the global per-priority row_number
    * comes from (priority, price-bucket) shards — bucket is a monotone
    * non-decreasing function of DESCENDING price (equal prices always
    * share a bucket, so a boundary can never split a tie group the
    * ordering resolves by orderkey), each shard sorts locally, and a
    * tiny bucket-summary carry supplies the count of rows in earlier
    * buckets — and the tile is then pure integer arithmetic on
    * (rank, n): SQL-standard NTILE gives the first n mod 4 tiles
    * ceil(n/4) rows and the rest floor(n/4). Bit-identical to the plain
    * window (spec-pinned down to 1-row shards); the oracle keeps the
    * textbook SQL. */
  def windowNtileQuartiles(spark: SparkSession, dir: String): DataFrame =
    windowNtileSharded(spark, dir, NtileRowsPerShard)

  /** The sharded body; `rowsPerShard` is a parameter only so the spec
    * can force tiny shards and pin rank-carry composition against the
    * plain single-window form. */
  private[graft] def windowNtileSharded(
      spark: SparkSession, dir: String, rowsPerShard: Long): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice")
    val keyStats = ord.groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        min($"o_totalprice").as("v_lo"), max($"o_totalprice").as("v_hi"))
      .select($"o_orderpriority", $"n", $"v_lo", $"v_hi",
        greatest(lit(NtileMinShardsPerKey),
          expr(s"(n + ${rowsPerShard - 1}) div $rowsPerShard")).as("nb"))
    // bucket sizes are a performance knob only: the decimal difference
    // is exact, its double cast order-preserving, and equal prices land
    // in the same bucket by construction
    val bucketed = ord.join(broadcast(keyStats), "o_orderpriority")
      .withColumn("bucket",
        when($"v_hi" === $"v_lo", lit(0L)).otherwise(
          least($"nb" - 1,
            floor(($"v_hi" - $"o_totalprice").cast("double") /
              ($"v_hi" - $"v_lo").cast("double") * $"nb").cast("long"))))
    val wLoc = Window.partitionBy($"o_orderpriority", $"bucket")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    val wPrev = Window.partitionBy($"o_orderpriority").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    // bucket summary rides the shard partitioning (map-side partials,
    // |priorities|·|buckets| rows): off = rows in all earlier buckets
    val carry = bucketed.groupBy($"o_orderpriority", $"bucket")
      .agg(count(lit(1)).as("cb"))
      .withColumn("off", coalesce(sum($"cb").over(wPrev), lit(0L)))
      .select($"o_orderpriority", $"bucket", $"off")
    // ceil(a/b) = (a + b - 1) div b on positive longs; the untaken CASE
    // branch is never evaluated, so n < 4 (q = 0) cannot divide by zero
    val ranked = bucketed
      .withColumn("rn_loc", row_number().over(wLoc))
      .join(broadcast(carry), Seq("o_orderpriority", "bucket"))
      .withColumn("rn", $"off" + $"rn_loc")
      .withColumn("quartile",
        when($"rn" <= (expr("n div 4") + 1) * expr("n % 4"),
          expr("(rn + n div 4) div (n div 4 + 1)"))
          .otherwise(expr(
            "n % 4 + (rn - (n div 4 + 1) * (n % 4) + n div 4 - 1) div (n div 4)"))
          .cast("int"))
    ranked.groupBy($"o_orderpriority", $"quartile")
      .agg(count(lit(1)).as("n_orders"),
        min($"o_orderkey").as("first_orderkey"))
      .orderBy($"o_orderpriority", $"quartile")
  }

  val windowNtileQuartilesSql: String =
    """SELECT o_orderpriority, quartile, count(*) AS n_orders,
      |       min(o_orderkey) AS first_orderkey
      |FROM (
      |  SELECT o_orderpriority, o_orderkey,
      |    ntile(4) OVER (PARTITION BY o_orderpriority
      |                   ORDER BY o_totalprice DESC, o_orderkey) AS quartile
      |  FROM orders) t
      |GROUP BY o_orderpriority, quartile
      |ORDER BY o_orderpriority, quartile""".stripMargin

  /** Ordered group string concatenation over a real table (the K2 batch
    * analog at data scale): nation-level roster of customer names in key
    * order. */
  def groupConcatNames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir)
      .groupBy($"c_nationkey")
      .agg(expr("array_join(transform(array_sort(collect_list(struct(c_custkey, c_name))), x -> x.c_name), ',')")
        .as("roster"),
        count(lit(1)).as("n_customers"))
      .orderBy($"c_nationkey")
  }

  val groupConcatNamesSql: String =
    """SELECT c_nationkey,
      |       string_agg(c_name, ',' ORDER BY c_custkey) AS roster,
      |       count(*) AS n_customers
      |FROM customer
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  /** Scalar function library sweep: string / date / math / conditional
    * functions with identical cross-engine semantics, in one codegen'd
    * projection. */
  def scalarFunctions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select($"o_orderkey",
        upper($"o_orderpriority").as("prio_upper"),
        substring($"o_orderstatus", 1, 1).as("status_c"),
        length($"o_orderpriority").cast("bigint").as("prio_len"),
        concat_ws("#", $"o_orderstatus", $"o_orderpriority").as("tag"),
        year($"o_orderdate").as("o_year"),
        month($"o_orderdate").as("o_month"),
        dayofmonth($"o_orderdate").as("o_day"),
        floor($"o_totalprice").cast("bigint").as("price_floor"),
        ceil($"o_totalprice").cast("bigint").as("price_ceil"),
        pmod($"o_orderkey", lit(7)).as("key_mod7"),
        when($"o_totalprice" > 100000, "big").otherwise("small").as("size_class"),
        coalesce(nullif($"o_orderstatus", lit("O")), lit("open")).as("status_or_open"))
      .orderBy($"o_orderkey")
  }

  val scalarFunctionsSql: String =
    """SELECT o_orderkey,
      |  upper(o_orderpriority) AS prio_upper,
      |  substr(o_orderstatus, 1, 1) AS status_c,
      |  CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
      |  concat_ws('#', o_orderstatus, o_orderpriority) AS tag,
      |  CAST(year(o_orderdate) AS INT) AS o_year,
      |  CAST(month(o_orderdate) AS INT) AS o_month,
      |  CAST(day(o_orderdate) AS INT) AS o_day,
      |  CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
      |  CAST(ceil(o_totalprice) AS BIGINT) AS price_ceil,
      |  o_orderkey % 7 AS key_mod7,
      |  CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END AS size_class,
      |  coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_or_open
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** Window frame: per-customer running revenue ordered by order date
    * (exact decimal cumulative sum, cast to double per row). */
  def windowRunningSum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderkey",
        sum($"o_totalprice".cast(Dec)).over(w).cast("double").as("running_revenue"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val windowRunningSumSql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_revenue
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Pivot (long→wide): order counts per priority pivoted by status.
    * The value set is EXPLICIT (`pivot(col, values)`) — with an inferred
    * value set Spark must run an extra distinct job, and an unbounded
    * status domain would make the output schema data-dependent; a fixed
    * value list keeps the pivot a single pass. The oracle is the
    * classical conditional-aggregation rewrite. */
  def pivotOrdersStatus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy($"o_orderpriority")
  }

  val pivotOrdersStatusSql: String =
    """SELECT o_orderpriority,
      |  count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
      |  count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
      |  count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Unpivot (wide→long, the melt operation): per-returnflag decimal
    * revenue/quantity totals unpivoted to (flag, measure, value) rows —
    * `Dataset.unpivot` is the Spark-native inverse of pivot (narrow, no
    * extra shuffle after the aggregate). */
  def unpivotLineitemMeasures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        sum($"l_quantity".cast(Dec)).cast("double").as("sum_qty"),
        sum($"l_extendedprice".cast(Dec)).cast("double").as("sum_price"))
      .unpivot(Array($"l_returnflag"), Array($"sum_qty", $"sum_price"),
        "measure", "value")
      .orderBy($"l_returnflag", $"measure")
  }

  val unpivotLineitemMeasuresSql: String =
    """WITH agg AS (
      |  SELECT l_returnflag,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM agg
      |UNION ALL
      |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM agg
      |ORDER BY l_returnflag, measure""".stripMargin

  /** Relative-rank window functions: percent_rank and cume_dist of each
    * customer's balance within its nation. Both are rank-derived rational
    * doubles — (rank-1)/(n-1) and rows≤current/n — so the values are
    * bit-equal across engines given the same total window order. */
  def windowPercentRank(spark: SparkSession, dir: String): DataFrame =
    windowPercentRankSharded(spark, dir, NtileRowsPerShard)

  /** r17: `c_nationkey` is a 25-value alphabet, so the textbook window
    * sorted each nation's customers on one task — the same
    * bounded-cardinality floor the ntile rework sheds, on a smaller
    * table. The window's (acctbal, custkey) order is TOTAL, so both
    * functions are row-number arithmetic: percent_rank = (rn−1)/(n−1)
    * (0 when n = 1, as Spark defines it) and cume_dist = rn/n — the
    * global rn comes from the same (key, value-bucket) two-level scan
    * as the ntile rework (equal balances share a bucket; ties inside a
    * bucket resolve by custkey). Divisions are the identical IEEE
    * double ops Spark's PercentRank/CumeDist evaluate, so the output
    * is bit-identical (spec-pinned down to 1-row shards). The oracle
    * keeps the textbook window SQL. */
  private[graft] def windowPercentRankSharded(
      spark: SparkSession, dir: String, rowsPerShard: Long): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
      .select($"c_nationkey", $"c_custkey", $"c_acctbal")
    val keyStats = cust.groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n"),
        min($"c_acctbal").as("v_lo"), max($"c_acctbal").as("v_hi"))
      .select($"c_nationkey", $"n", $"v_lo", $"v_hi",
        greatest(lit(NtileMinShardsPerKey),
          expr(s"(n + ${rowsPerShard - 1}) div $rowsPerShard")).as("nb"))
    val bucketed = cust.join(broadcast(keyStats), "c_nationkey")
      .withColumn("bucket",
        when($"v_hi" === $"v_lo", lit(0L)).otherwise(
          least($"nb" - 1,
            floor(($"c_acctbal" - $"v_lo").cast("double") /
              ($"v_hi" - $"v_lo").cast("double") * $"nb").cast("long"))))
    val wLoc = Window.partitionBy($"c_nationkey", $"bucket")
      .orderBy($"c_acctbal".asc, $"c_custkey".asc)
    val wPrev = Window.partitionBy($"c_nationkey").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = bucketed.groupBy($"c_nationkey", $"bucket")
      .agg(count(lit(1)).as("cb"))
      .withColumn("off", coalesce(sum($"cb").over(wPrev), lit(0L)))
      .select($"c_nationkey", $"bucket", $"off")
    bucketed
      .withColumn("rn_loc", row_number().over(wLoc))
      .join(broadcast(carry), Seq("c_nationkey", "bucket"))
      .withColumn("rn", $"off" + $"rn_loc")
      .select($"c_nationkey", $"c_custkey", $"c_acctbal",
        when($"n" > 1, ($"rn" - 1).cast("double") /
          ($"n" - 1).cast("double")).otherwise(lit(0.0)).as("pr"),
        ($"rn".cast("double") / $"n".cast("double")).as("cd"))
      .orderBy($"c_nationkey", $"c_custkey")
  }

  val windowPercentRankSql: String =
    """SELECT c_nationkey, c_custkey, c_acctbal,
      |  percent_rank() OVER (
      |    PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS pr,
      |  cume_dist() OVER (
      |    PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS cd
      |FROM customer
      |ORDER BY c_nationkey, c_custkey""".stripMargin

  /** Bucketed sink + co-located join: both fact tables are written as
    * managed parquet tables bucketed AND sorted by the join key (8
    * buckets), then joined bucket-to-bucket — the scan-side plan has NO
    * shuffle exchange on either side, which is THE technique for joining
    * two 100 TB fact tables repeatedly without paying the shuffle every
    * query (pre-shuffle once at write time, join many times for free).
    * The plan shape (no Exchange above the bucketed scans) is asserted in
    * OperatorSpec; the oracle checks the join result itself against the
    * raw tables. */
  /** Drops a managed table AND its warehouse location: the default
    * session catalog is in-memory, so a table written by a previous JVM
    * leaves an orphaned directory that a fresh CREATE refuses to reuse
    * (LOCATION_ALREADY_EXISTS). */
  private def dropBucketTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val loc = java.nio.file.Paths.get(wh).resolve(table)
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  def sinkBucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    dropBucketTable(spark, "graft_b_orders")
    dropBucketTable(spark, "graft_b_lineitem")
    Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderpriority")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").format("parquet").saveAsTable("graft_b_orders")
    Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_extendedprice")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").format("parquet").saveAsTable("graft_b_lineitem")
    bucketedJoinPlan(spark)
  }

  /** The read side of [[sinkBucketedJoin]], split out so tests can assert
    * the exchange-free plan without re-writing the tables. */
  private[graft] def bucketedJoinPlan(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.table("graft_b_lineitem")
      .join(spark.table("graft_b_orders"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum($"l_extendedprice".cast(Dec)).cast("double").as("revenue"))
      .orderBy($"o_orderpriority")
  }

  val sinkBucketedJoinSql: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Small-file compaction: the maintenance job every large lake needs —
    * a fragmented dataset (repartition(64) simulating many-small-files
    * ingest) is rewritten at a target file count (coalesce(4): a NARROW
    * repartitioning, no shuffle — each output file concatenates 16
    * inputs). Returns the post-compaction accounting row (file count +
    * row/key conservation); OperatorSpec asserts the on-disk counts. */
  def sinkCompactedParquet(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val frag = TempDirs.create("graft_frag").toString
    val out = TempDirs.create("graft_compact").toString
    val events = Tables.events(spark, dir).select($"event_id", $"event_type", $"value")
    events.repartition(64).write.mode("overwrite").parquet(frag)
    spark.read.schema(events.schema).parquet(frag)
      .coalesce(4).write.mode("overwrite").parquet(out)
    // the compacted rewrite is eager — the fragmented staging copy can go
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(frag)).iterator().asScala
      .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    val nFiles = new java.io.File(out).listFiles()
      .count(f => f.getName.startsWith("part-"))
    spark.read.schema(events.schema).parquet(out)
      .agg(count(lit(1)).as("n_rows"), countDistinct($"event_id").as("n_ids"))
      .select(lit(nFiles).as("n_files"), $"n_rows", $"n_ids")
  }

  val sinkCompactedParquetSql: String =
    """SELECT 4 AS n_files, count(*) AS n_rows,
      |       count(DISTINCT event_id) AS n_ids
      |FROM events""".stripMargin

  /** Explicit GROUPING SETS (the general form that rollup and cube
    * desugar to) with `grouping_id()` disambiguating the aggregation
    * level — sets: (status, priority), (status), (). One expand +
    * aggregate pass, same shuffle shape as rollup. */
  def aggGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r17: pre-aggregate before the ×3 expand (see aggRollupRevenue);
    // the finest requested set IS (status, priority), so the expansion
    // runs over the bounded partial table
    val base = Tables.orders(spark, dir)
      .groupBy($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("nn"), sum($"o_totalprice".cast(Dec)).as("rev"))
    base.groupingSets(
        Seq(Seq($"o_orderstatus", $"o_orderpriority"), Seq($"o_orderstatus"), Seq()),
        $"o_orderstatus", $"o_orderpriority")
      .agg(grouping_id().cast("bigint").as("gid"),
        sum($"nn").as("n"),
        sum($"rev").cast("double").as("revenue"))
      .orderBy($"gid", $"o_orderstatus".asc_nulls_first,
        $"o_orderpriority".asc_nulls_first)
  }

  val aggGroupingSetsSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
      |  count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
      |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** Nested-type aggregation: lineitems rolled up into a per-order
    * sorted array of structs (`collect_list(struct)` + `sort_array` —
    * struct arrays sort lexicographically by field order, so sorting on
    * the leading l_linenumber is total), then scalar derivations off the
    * nested column. The oracle reads the same first/last facts from a
    * list ordered by the SAME (linenumber, quantity) key — linenumbers
    * are not unique per order in the testdata, so a bare arg_min would
    * tie-break differently; nested values themselves can't hash-compare
    * across engines, scalar projections of them can. */
  def nestedOrderLines(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_list(struct($"l_linenumber", $"l_quantity"))).as("lines"))
      .select($"l_orderkey",
        size($"lines").as("n_lines"),
        $"lines"(0).getField("l_quantity").as("first_qty"),
        element_at($"lines", -1).getField("l_quantity").as("last_qty"))
      .orderBy($"l_orderkey")
  }

  val nestedOrderLinesSql: String =
    """SELECT l_orderkey,
      |  CAST(count(*) AS INT) AS n_lines,
      |  (list(l_quantity ORDER BY l_linenumber, l_quantity))[1] AS first_qty,
      |  (list(l_quantity ORDER BY l_linenumber, l_quantity))[-1] AS last_qty
      |FROM lineitem
      |GROUP BY l_orderkey
      |ORDER BY l_orderkey""".stripMargin

  /** Array (vector-column) statistics per embedding: native array
    * expressions over the fixed-point ints — size/min/max are codegen'd
    * array ops, the exact sum rides the codegen'd `graft_dot` against a
    * ones vector, and the mean is the same double division both sides.
    * Narrow projection: the 100 TB shape is a map-only pass over the
    * vector column. */
  def arrayStatsEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    SimilarityOps.quantized(spark, dir)
      .select($"vec_id",
        size($"q").as("n_dims"),
        array_min($"q").as("min_q"),
        array_max($"q").as("max_q"),
        expr(s"graft_dot(q, array_repeat(1L, 64))").as("sum_q"))
      .withColumn("mean_q", $"sum_q".cast("double") / $"n_dims")
      .orderBy($"vec_id")
  }

  lazy val arrayStatsEmbeddingsSql: String =
    s"""WITH ${SimilarityOps.quantizedCte}
       |SELECT vec_id,
       |  CAST(len(q) AS INT) AS n_dims,
       |  list_min(q) AS min_q,
       |  list_max(q) AS max_q,
       |  CAST(list_sum(q) AS BIGINT) AS sum_q,
       |  CAST(list_sum(q) AS DOUBLE) / len(q) AS mean_q
       |FROM n
       |ORDER BY vec_id""".stripMargin

  /** Shuffle join with a runtime-injected bloom filter: the selective
    * predicate on orders builds a bloom filter that is pushed into the
    * lineitem scan side, pruning fact rows BEFORE the shuffle — the
    * mechanism that saves the exchange when the dim side is too large to
    * broadcast (the 100 TB regime this query models by disabling the
    * broadcast threshold in a cloned session; session confs never leak to
    * other queries). Output is the plain join result — the bloom filter
    * is a performance rewrite with identical semantics, which is exactly
    * what the oracle checks. */
  def joinBloomPruned(spark: SparkSession, dir: String): DataFrame = {
    val s = GraftSession.derived(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtimeFilter.number.threshold" -> "10")
    import s.implicits._
    val hot = Tables.orders(s, dir).filter($"o_totalprice" > 450000)
    Tables.lineitem(s, dir)
      .join(hot, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        sum($"l_quantity".cast(Dec)).cast("double").as("sum_qty"))
      .orderBy($"o_orderpriority")
  }

  val joinBloomPrunedSql: String =
    """SELECT o_orderpriority, count(*) AS n_lines,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_totalprice > 450000
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Salted skew JOIN — the join-side companion to
    * [[EventOps.aggSaltedSkew]]'s two-stage aggregation. When one join
    * key is hot enough that its shuffle partition alone blows an
    * executor (the 100 TB celebrity-key problem AQE's skew split can't
    * always save — it only splits the FACT side, and only post-shuffle),
    * salt the fact side into [[SaltBuckets]] sub-keys and replicate the
    * dimension row once per salt: the hot key's rows now land on 8
    * reducers instead of 1. Each fact row matches EXACTLY the one dim
    * replica carrying its salt, so the join result — and the oracle,
    * which states the plain unsalted join — is identical. Broadcast is
    * disabled in a cloned session (same device as [[joinBloomPruned]]):
    * at the scale this models, the dim side does not fit. */
  private val SaltBuckets = 8
  def joinSaltedSkew(spark: SparkSession, dir: String): DataFrame = {
    val s = GraftSession.derived(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    import s.implicits._
    val fact = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_quantity",
        pmod($"l_orderkey" + $"l_linenumber", lit(SaltBuckets)).as("salt"))
    val dim = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderpriority")
      .withColumn("salt", explode(array((0 until SaltBuckets).map(i => lit(i.toLong)): _*)))
    fact.join(dim, fact("l_orderkey") === dim("o_orderkey") && fact("salt") === dim("salt"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        sum($"l_quantity".cast(Dec)).cast("double").as("total_qty"))
      .orderBy($"o_orderpriority")
  }

  val joinSaltedSkewSql: String =
    """SELECT o_orderpriority, count(*) AS n_lines,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Native as-of join — the same query (and the same DuckDB `ASOF LEFT
    * JOIN` oracle) as [[joinAsof]], planned onto the custom whole-operator
    * path instead of the union-tag + window composition: a resolved
    * [[graft.plans.AsOfJoin]] logical node, matched by the injected
    * [[graft.plans.AsOfJoinStrategy]] onto [[graft.plans.AsOfJoinExec]]
    * (co-partitioned, co-sorted, O(1)-state per-partition merge — see that
    * file for the 100 TB rationale). Both variants stay registered on
    * purpose: identical hashes prove the custom operator against the
    * composable formulation AND the external oracle. */
  def joinAsofNative(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
      .groupBy($"o_custkey", $"o_orderdate")
      .agg(max($"o_orderkey").as("o_orderkey"))
      .select($"o_custkey", $"o_orderdate".cast("timestamp").as("o_time"), $"o_orderkey")
    val events = Tables.events(spark, dir)
      .select($"event_id", (pmod($"user_id", lit(100)) + 1).as("custkey"), $"ts")
    graft.plans.GraftOps.asofJoin(events, orders, "custkey", "o_custkey", "ts", "o_time")
      .select($"event_id", $"custkey", expr("unix_micros(ts)").as("ts_us"),
        $"o_orderkey".as("matched_orderkey"))
      .orderBy($"event_id")
  }

  val joinAsofNativeSql: String = joinAsofSql

  /** Top-k-dimension join under the maxRows-based broadcast rule
    * ([[graft.plans.BroadcastBoundedLimit]]). Stats-based broadcasting is
    * disabled in a cloned session (at 100 TB size estimates are routinely
    * unusable or turned off); the rule alone must recognize that a
    * `Sort + LIMIT 10` side is PROVABLY ≤ 10 rows and hint it broadcast —
    * plan-asserted in OperatorSpec. Without it, the fact table pays a full
    * shuffle to meet 10 rows in a sort-merge join. */
  def joinLimitBroadcast(spark: SparkSession, dir: String): DataFrame = {
    val s = GraftSession.derived(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    graft.plans.GraftOps.ensureInjected(s)
    import s.implicits._
    val topOrders = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_totalprice")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .limit(10)
      .select($"o_orderkey")
    Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_quantity")
      .join(topOrders, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderkey")
      .agg(count(lit(1)).as("n_lines"),
        sum($"l_quantity".cast(Dec)).cast("double").as("total_qty"))
      .orderBy($"o_orderkey")
  }

  val joinLimitBroadcastSql: String =
    """WITH top_orders AS (
      |  SELECT o_orderkey FROM orders
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 10)
      |SELECT o_orderkey, count(*) AS n_lines,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
      |FROM lineitem JOIN top_orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderkey
      |ORDER BY o_orderkey""".stripMargin

  /** Value-based window frame (RANGE BETWEEN): per order, the customer's
    * trailing-90-day order value. Completes the frame coverage next to
    * [[windowRunningSum]]'s ROWS frame — RANGE frames are the correct tool
    * whenever the window is defined by the ORDER-BY VALUE (days here), not
    * a row count, and they make ties well-defined: all same-day orders of
    * a customer fall in each other's frame, so the sum is deterministic
    * under any intra-day row order (decimal-exact on both engines). Day
    * arithmetic is exact integer epoch-days on both sides. */
  def windowRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"d").rangeBetween(-90, 0)
    Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey",
        expr("unix_date(to_date(o_orderdate))").cast("long").as("d"),
        $"o_totalprice".cast(Dec).as("price"))
      .withColumn("trailing_90d", sum($"price").over(w).cast("double"))
      .select($"o_orderkey", $"o_custkey", $"d", $"trailing_90d")
      .orderBy($"o_orderkey")
  }

  val windowRangeFrameSql: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
      |    PARTITION BY o_custkey
      |    ORDER BY CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
      |    RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_90d
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** Pure interval join (NO equi key) made distributable by binning: how
    * many orders are "open" (ordered, not yet fully shipped) at each
    * biweekly probe date of 1997 (mid-range of the data's 1995-2001
    * order-date span), and their total value.
    *
    * The naive plan for `od <= p AND p < dd` is a broadcast nested-loop
    * join — fine for 27 probe points, fatal when BOTH sides are large
    * (point-in-interval joins over IP ranges, time ranges, genomic
    * intervals). The scale shape used here: quantize the time axis into
    * fixed 64-day bins, explode each interval to the bins it covers
    * (bounded fan-out: order-fulfillment spans are weeks-to-months, so
    * ≤ ~4 bins each), map each probe point to its single bin, equi-join
    * on the bin, then re-check the exact predicate as a residual filter.
    * The join is a plain hash join on `bin` — partitionable, AQE-
    * splittable, no cartesian anywhere (plan-asserted). The oracle states
    * the pure interval-join semantics directly. */
  def joinIntervalBinned(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val done = Tables.lineitem(spark, dir).groupBy($"l_orderkey")
      .agg(max(expr("unix_date(to_date(l_shipdate))").cast("long")).as("dd"))
    val lo = expr("unix_date(date'1997-01-01')").cast("long")
    val hi = expr("unix_date(date'1997-12-31')").cast("long")
    val iv = Tables.orders(spark, dir)
      .select($"o_orderkey",
        expr("unix_date(to_date(o_orderdate))").cast("long").as("od"), $"o_totalprice")
      .join(done, $"o_orderkey" === $"l_orderkey")
      .filter($"od" <= hi && $"dd" > lo)
      .withColumn("bin", explode(expr("sequence(od div 64, dd div 64)")))
    val probes = spark.range(1)
      .select(explode(sequence(lo, hi, lit(14L))).as("p"))
      .withColumn("bin", expr("p div 64"))
    iv.join(probes, "bin")
      .filter($"od" <= $"p" && $"p" < $"dd")
      .groupBy($"p")
      .agg(count(lit(1)).as("n_open"),
        sum($"o_totalprice".cast(Dec)).cast("double").as("open_value"))
      .orderBy($"p")
  }

  val joinIntervalBinnedSql: String =
    """WITH done AS (
      |  SELECT l_orderkey,
      |         CAST(max(CAST(l_shipdate AS DATE)) - DATE '1970-01-01' AS BIGINT) AS dd
      |  FROM lineitem GROUP BY l_orderkey),
      |iv AS (
      |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS od,
      |         dd, o_totalprice
      |  FROM orders JOIN done ON o_orderkey = l_orderkey),
      |probes AS (
      |  SELECT unnest(generate_series(
      |    CAST(DATE '1997-01-01' - DATE '1970-01-01' AS BIGINT),
      |    CAST(DATE '1997-12-31' - DATE '1970-01-01' AS BIGINT), 14)) AS p)
      |SELECT p, count(*) AS n_open,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS open_value
      |FROM probes JOIN iv ON od <= p AND p < dd
      |GROUP BY p
      |ORDER BY p""".stripMargin

  /** Top-3 orders per status through the CUSTOM BOUNDED-STATE AGGREGATE
    * `graft_topk` ([[graft.functions.TopKPairs]], a TypedImperativeAggregate):
    * the partial (map-side) aggregate already truncates to k pairs of
    * longs, so the shuffle carries O(groups × k) regardless of group size
    * — unlike the window formulation (`sample_topk_per_group`), which
    * shuffles and sorts every row of every group. The aggregate's output
    * order is total (price DESC, orderkey ASC), so the exploded result is
    * deterministic; the oracle states the same top-k with a row_number
    * window. Prices are exact integer cents. */
  def aggTopkCustom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.TopKPairs.register(spark)
    Tables.orders(spark, dir)
      .select($"o_orderstatus",
        ($"o_totalprice".cast(Dec) * 100).cast("long").as("price_cents"), $"o_orderkey")
      .groupBy($"o_orderstatus")
      .agg(expr("graft_topk(price_cents, o_orderkey, 3)").as("top3"))
      .select($"o_orderstatus", posexplode($"top3"))
      .select($"o_orderstatus", ($"pos" + 1).cast("long").as("rank"),
        $"col.sort_val".as("price_cents"), $"col.tie_val".as("okey"))
      .orderBy($"o_orderstatus", $"rank")
  }

  val aggTopkCustomSql: String =
    """SELECT o_orderstatus, rank, price_cents, okey FROM (
      |  SELECT o_orderstatus,
      |    CAST(row_number() OVER (PARTITION BY o_orderstatus
      |      ORDER BY CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) DESC,
      |               o_orderkey) AS BIGINT) AS rank,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price_cents,
      |    o_orderkey AS okey
      |  FROM orders) t
      |WHERE rank <= 3
      |ORDER BY o_orderstatus, rank""".stripMargin

  /** Dynamic partition pruning over a hive-partitioned fact layout: the
    * orders measures are first laid out partitioned by order priority
    * (the canonical date-key layout of a 100 TB fact table, modeled on
    * the 5-value priority column so the fixture stays small), then
    * joined to a tiny priority-dimension filtered to one class. The dim
    * filter is NOT a literal predicate on the fact side — statically
    * Spark must scan all partitions — but DPP turns the broadcast dim
    * into a runtime partition filter (`dynamicpruningexpression` in the
    * scan, reusing the join's own broadcast exchange, so the filter
    * costs nothing), and the fact scan reads 2 of 5 partition
    * directories. At 100 TB that is the difference between scanning a
    * week and scanning five years; the plan shape is asserted in
    * OperatorSpec.
    *
    * The partitioned layout is a FIXTURE of the input dir, not part of
    * the measured operator — it is written once per (JVM, dir) and
    * reused across runs (r16 continuation: the per-run rewrite of the
    * whole orders table dominated the bench line and its ladder growth
    * measured the write path, not the pruned scan). */
  def joinDppPruned(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the partition column is already last, where partition discovery
    // puts it, so the written schema is the one to read back with
    val written = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
    val base = DppFixtureDirs.synchronized {
      DppFixtureDirs.getOrElseUpdate(dir, {
        val b = TempDirs.create("graft_dpp")
        written.write.mode("overwrite").partitionBy("o_orderpriority")
          .parquet(b.resolve("orders_by_priority").toString)
        // the dim must be a STORED relation: a filter over an in-memory
        // LocalRelation is constant-folded away before the pruning rule
        // runs, and DPP requires a surviving selective predicate on the
        // build side
        Seq(("1-URGENT", "expedite"), ("2-HIGH", "expedite"),
            ("3-MEDIUM", "routine"), ("4-NOT SPECIFIED", "routine"),
            ("5-LOW", "routine")).toDF("p_priority", "p_class")
          .coalesce(1).write.mode("overwrite")
          .parquet(b.resolve("priority_dim").toString)
        b
      })
    }
    val out = base.resolve("orders_by_priority").toString
    val dimPath = base.resolve("priority_dim").toString
    val fact = spark.read.schema(written.schema).parquet(out)
    val dim = spark.read
      .schema("p_priority STRING, p_class STRING").parquet(dimPath)
    fact.join(dim.filter($"p_class" === "expedite"),
        $"o_orderpriority" === $"p_priority")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum($"o_totalprice".cast(Dec)).cast("double").as("sum_price"))
      .orderBy($"o_orderpriority")
  }

  /** AQE runtime skew-join split — the ADAPTIVE counterpart of the
    * hand-salted [[joinSaltedSkew]]. The fact side funnels ~75 % of
    * lineitem onto one join key (the celebrity-key shape), the dim side
    * is too big to broadcast (threshold off), so statically this is a
    * sort-merge join with one reducer drowning. AQE measures the actual
    * shuffle-partition sizes at the stage boundary and SPLITS the skewed
    * partition into advisory-sized slices, replicating the matching dim
    * partition per slice (`skew=true` on the join in the executed plan,
    * asserted in OperatorSpec) — no code changes, no salt columns. The
    * thresholds are scaled down to fixture sizes; on a real cluster the
    * defaults (256 MB/partition, factor 5) do the same job. Salting
    * remains the tool when skew must be fixed BEFORE the shuffle (AQE
    * splits post-shuffle map output); this query is the runtime half of
    * that story. */
  def joinAqeSkew(spark: SparkSession, dir: String): DataFrame = {
    val s = GraftSession.derived(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB")
    import s.implicits._
    // AQE splits a skewed partition along MAPPER boundaries, so the fact
    // side must come from several map tasks — the fixture's single-row-
    // group parquet collapses to ONE mapper (whose block can't be split),
    // where a real 100 TB fact side has thousands; the round-robin
    // repartition models that many-mapper shape explicitly
    val fact = Tables.lineitem(s, dir).select(
      when(pmod($"l_orderkey", lit(8)) < 6, lit(1L))
        .otherwise(pmod($"l_orderkey", lit(1000))).as("sk"),
      $"l_quantity")
      .repartition(8)
    // dim side must stay Sort(shuffle-stage) for the skew rule to match —
    // a post-shuffle agg (e.g. distinct) between them defeats it, so the
    // dim is the naturally-unique customer key, filtered map-side only
    val dim = Tables.customer(s, dir)
      .filter($"c_custkey" <= 1000).select($"c_custkey".as("k"))
    fact.join(dim, $"sk" === $"k")
      .groupBy(pmod($"k", lit(7)).as("grp"))
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast(Dec)).cast("double").as("sum_qty"))
      .orderBy($"grp")
  }

  val joinAqeSkewSql: String =
    """WITH fact AS (
      |  SELECT CASE WHEN l_orderkey % 8 < 6 THEN 1
      |              ELSE l_orderkey % 1000 END AS sk, l_quantity
      |  FROM lineitem),
      |dim AS (SELECT c_custkey AS k FROM customer WHERE c_custkey <= 1000)
      |SELECT k % 7 AS grp, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM fact JOIN dim ON sk = k
      |GROUP BY 1
      |ORDER BY grp""".stripMargin

  val joinDppPrunedSql: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |JOIN (SELECT * FROM (VALUES ('1-URGENT', 'expedite'), ('2-HIGH', 'expedite'),
      |        ('3-MEDIUM', 'routine'), ('4-NOT SPECIFIED', 'routine'),
      |        ('5-LOW', 'routine')) AS m(p_priority, p_class)
      |      WHERE p_class = 'expedite') d
      |  ON o_orderpriority = d.p_priority
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Slowly-changing-dimension type-2 build: treat each customer's order
    * stream as dimension-version changes and derive the validity
    * intervals — `valid_from` = this version's date, `valid_to` = the
    * next version's date (NULL ⇒ current row). The lag/lead family is
    * the idiomatic Spark shape for interval derivation: one sort-shuffle
    * per customer partition, then a linear pass — no self-join on
    * "next row", which is the O(n²) trap.
    *
    * Scale notes: partitionBy(customer) distributes the window across
    * executors (no global sort); an SCD2 build over 100 TB of change
    * events shuffles once on the dimension key, exactly this plan. The
    * window order tie-breaks equal dates on o_orderkey, so versions are
    * total and both engines agree. Epochs are BIGINT seconds. */
  def windowScd2Orders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables.orders(spark, dir)
      .filter($"o_custkey" % 100 === 0)
      .select($"o_custkey", $"o_orderkey",
        row_number().over(w).cast("long").as("version"),
        unix_timestamp($"o_orderdate").as("valid_from"),
        lead(unix_timestamp($"o_orderdate"), 1).over(w).as("valid_to"))
      .withColumn("is_current", $"valid_to".isNull)
      .orderBy($"o_custkey", $"version")
  }

  val windowScd2OrdersSql: String =
    """SELECT o_custkey, o_orderkey, version, valid_from, valid_to,
      |       valid_to IS NULL AS is_current
      |FROM (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(row_number() OVER w AS BIGINT) AS version,
      |    CAST(epoch(o_orderdate) AS BIGINT) AS valid_from,
      |    CAST(lead(epoch(o_orderdate)) OVER w AS BIGINT) AS valid_to
      |  FROM orders
      |  WHERE o_custkey % 100 = 0
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)) t
      |ORDER BY o_custkey, version""".stripMargin

  /** CUME_DIST window function (`window_cume_dist`): per market segment,
    * each customer's cumulative-distribution position on account balance
    * — the "you are richer than X% of your segment" percentile readout,
    * completing the ranking-window family (row_number / percent_rank /
    * ntile already covered). cume_dist = (#rows ≤ current)/n is a pure
    * rational of two ints, so the doubles agree bit-for-bit across
    * engines with no rounding dance.
    *
    * Scale: one hash-partitioned window sort per segment — the same
    * shape as every other ranking window here; no global sort. */
  def windowCumeDist(spark: SparkSession, dir: String): DataFrame =
    windowCumeDistSharded(spark, dir, NtileRowsPerShard)

  /** r17: `c_mktsegment` is a 5-value alphabet — same bounded-alphabet
    * window floor as [[windowNtileSharded]] / the percent_rank pair.
    * This order (acctbal only) HAS ties, and cume_dist counts every
    * peer: count(rows with bal ≤ current) / n. The bucket is a function
    * of the VALUE alone, so an entire tie group always lands in one
    * bucket and the local ordered count over the default RANGE frame
    * (unbounded preceding → current row, peers included) plus the
    * earlier-bucket carry is exactly the global ≤-count. The division
    * is the same IEEE double op Spark's CumeDist evaluates —
    * bit-identical, spec-pinned down to 1-row shards. Oracle keeps the
    * textbook window SQL. */
  private[graft] def windowCumeDistSharded(
      spark: SparkSession, dir: String, rowsPerShard: Long): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
      .select($"c_mktsegment", $"c_custkey", $"c_acctbal")
    val keyStats = cust.groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        min($"c_acctbal").as("v_lo"), max($"c_acctbal").as("v_hi"))
      .select($"c_mktsegment", $"n", $"v_lo", $"v_hi",
        greatest(lit(NtileMinShardsPerKey),
          expr(s"(n + ${rowsPerShard - 1}) div $rowsPerShard")).as("nb"))
    val bucketed = cust.join(broadcast(keyStats), "c_mktsegment")
      .withColumn("bucket",
        when($"v_hi" === $"v_lo", lit(0L)).otherwise(
          least($"nb" - 1,
            floor(($"c_acctbal" - $"v_lo").cast("double") /
              ($"v_hi" - $"v_lo").cast("double") * $"nb").cast("long"))))
    // default frame of an ordered window = RANGE unbounded → current
    // row: the count includes every peer of the current balance
    val wLoc = Window.partitionBy($"c_mktsegment", $"bucket")
      .orderBy($"c_acctbal")
    val wPrev = Window.partitionBy($"c_mktsegment").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = bucketed.groupBy($"c_mktsegment", $"bucket")
      .agg(count(lit(1)).as("cb"))
      .withColumn("off", coalesce(sum($"cb").over(wPrev), lit(0L)))
      .select($"c_mktsegment", $"bucket", $"off")
    bucketed
      .withColumn("le_loc", count(lit(1)).over(wLoc))
      .join(broadcast(carry), Seq("c_mktsegment", "bucket"))
      .select($"c_mktsegment", $"c_custkey", $"c_acctbal",
        (($"off" + $"le_loc").cast("double") / $"n".cast("double"))
          .as("bal_cume"))
      .orderBy($"c_mktsegment", $"c_acctbal", $"c_custkey")
  }

  val windowCumeDistSql: String =
    """SELECT c_mktsegment, c_custkey, c_acctbal,
      |       cume_dist() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal) AS bal_cume
      |FROM customer
      |ORDER BY c_mktsegment, c_acctbal, c_custkey""".stripMargin

  /** Deterministic per-group mode (`agg_mode_priority`): the modal order
    * priority per order status, tie broken to the lexicographically
    * smallest value. Spark 4 and DuckDB both ship a `mode()` aggregate,
    * but neither pins tie-breaks — so the engine restates mode as
    * count + max_by(struct) with an explicit total order, which is both
    * hash-comparable and the only form safe to run twice in production
    * (a nondeterministic mode flips downstream diffs on every run).
    *
    * Scale: two stacked hash aggs — (status, priority) counts (bounded
    * key space), then one max_by per status; no window, no sort of the
    * fact table. */
  def aggModePriority(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
      .groupBy($"o_orderstatus")
      .agg(
        // composite min-key as a zero-padded string: (10^12 − cnt) sorts
        // larger counts FIRST, then priority ascending breaks ties —
        // DuckDB's min_by takes no ROW key, and one shared VARCHAR
        // encoding beats two engine-specific struct orderings
        min_by($"o_orderpriority",
          concat(lpad((lit(1000000000000L) - $"cnt").cast("string"), 13, "0"),
            lit("|"), $"o_orderpriority")).as("mode_priority"),
        max($"cnt").as("mode_count"))
      .orderBy($"o_orderstatus")
  }

  val aggModePrioritySql: String =
    """WITH counts AS (
      |  SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
      |  FROM orders GROUP BY 1, 2)
      |SELECT o_orderstatus,
      |       min_by(o_orderpriority,
      |              lpad(CAST(1000000000000 - cnt AS VARCHAR), 13, '0')
      |                || '|' || o_orderpriority) AS mode_priority,
      |       max(cnt) AS mode_count
      |FROM counts GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin
}
