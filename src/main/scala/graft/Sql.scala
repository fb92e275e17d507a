package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL entry point: registers every testdata table as a temp view (plus
  * graft's SQL functions, [[graft.plans.GraftOps.ensureInjected]], for a
  * session graft did not build) so users can run plain Spark SQL against
  * the same catalog the operator library uses:
  *
  * {{{
  *   graft.Sql.register(spark, "/root/testdata/sf0.01")
  *   spark.sql("SELECT l_returnflag, sum(l_quantity) FROM lineitem GROUP BY 1")
  * }}}
  *
  * Views are lazy — registering costs one parquet footer read per table;
  * Catalyst still pushes filters/pruning into the scans underneath. */
object Sql {
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def register(spark: SparkSession, dir: String): Unit = {
    tableNames.filterNot(_ == "events").foreach { t =>
      Tables.table(spark, dir, t).createOrReplaceTempView(t)
    }
    // events goes through the nanos→micros conversion reader
    Tables.events(spark, dir).createOrReplaceTempView("events")
    graft.plans.GraftOps.ensureInjected(spark)
  }

  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    register(spark, dir)
    spark.sql(query)
  }

  /** TPC-H Q3-style shipping-priority query, registered to prove the SQL
    * entry point end-to-end: ONE shared ANSI text runs verbatim on both
    * Spark (via [[sql]]) and the DuckDB oracle — the revenue sum rides
    * the exact-decimal pattern, the date literal and LIMIT are portable,
    * and the total order (revenue DESC, l_orderkey) is tie-broken. */
  val shippingPrioritySql: String =
    """SELECT l_orderkey,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |           * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
      |  o_orderpriority
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING'
      |  AND c_custkey = o_custkey
      |  AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
      |GROUP BY l_orderkey, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q13-style customer order-count distribution: how many
    * customers placed exactly k orders, INCLUDING the zero-order
    * customers the left outer join preserves. ONE shared ANSI text on
    * both engines. Plan shape: outer hash join on the customer key, then
    * two cascaded aggregations whose second input is one row per customer
    * — the histogram never sees the fact table again. */
  val customerDistributionSql: String =
    """SELECT c_count, count(*) AS custdist
      |FROM (
      |  SELECT c.c_custkey AS ck, count(o.o_orderkey) AS c_count
      |  FROM customer c LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
      |  GROUP BY c.c_custkey) t
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H Q2-style correlated scalar subquery (adapted to this schema:
    * lineitem doubles as the part-supplier price list): for every large
    * part, the supplier(s) selling it at the minimum observed price.
    * ONE shared ANSI text on both engines. Catalyst decorrelates the
    * scalar subquery into a per-part min aggregate + equi-join — no
    * per-row re-execution — and the outer three-way join stays on key
    * columns. `min_price` is a SELECTED parquet double (no arithmetic),
    * so equality and ordering are exact on both engines; DISTINCT makes
    * rows unique on (p_partkey, s_name), which the ORDER BY totally
    * orders. */
  val minCostSupplierSql: String =
    """SELECT DISTINCT p.p_partkey, p.p_brand, s.s_name,
      |       l.l_extendedprice AS min_price
      |FROM part p, lineitem l, supplier s
      |WHERE l.l_partkey = p.p_partkey
      |  AND s.s_suppkey = l.l_suppkey
      |  AND p.p_size >= 40
      |  AND l.l_extendedprice = (
      |    SELECT min(l2.l_extendedprice) FROM lineitem l2
      |    WHERE l2.l_partkey = p.p_partkey)
      |ORDER BY p_partkey, s_name""".stripMargin

  /** TPC-H Q5-style local-supplier volume: revenue per nation for one
    * region and one order year, where the lineitem's supplier and the
    * order's customer share a nation. ONE shared ANSI text on both
    * engines. This is the join-REORDER showcase: six relations in an
    * unordered comma list, and Catalyst must (and does) build the tree
    * selective-first — region filter → nation → broadcast down the
    * customer/supplier sides, never materializing the unconstrained
    * cross products the syntactic order implies. The revenue expression
    * rides the exact-decimal pattern; ties break on n_name. */
  val localSupplierVolumeSql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |           * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey
      |  AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey
      |  AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey
      |  AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** TPC-H Q4-style correlated EXISTS (adapted: this lineitem has no
    * commit/receipt dates, so "late" orders become orders with a returned
    * line). ONE shared ANSI text on both engines. Catalyst rewrites the
    * correlated EXISTS into a LEFT SEMI hash join on `l_orderkey` — the
    * subquery never re-executes per row — and only then aggregates, so
    * the fact table is touched exactly once. The count is an exact
    * integer; the 5-priority output is totally ordered. */
  val orderPriorityExistsSql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_returnflag = 'R')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q10-style returned-item revenue: top-20 customers by revenue
    * lost to returns in a six-month window. ONE shared ANSI text on both
    * engines. The selective pieces (date range on orders, returnflag on
    * lineitem) sit in the WHERE clause as pushable conjuncts — both
    * reach their parquet scans — and the revenue sum rides the
    * exact-decimal pattern. Top-20 plans as TakeOrderedAndProject (no
    * global sort); revenue DESC ties break on c_custkey. */
  val returnedItemRevenueSql: String =
    """SELECT c.c_custkey, c.c_name, n.n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |           * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM customer c, orders o, lineitem l, nation n
      |WHERE c.c_custkey = o.o_custkey
      |  AND l.l_orderkey = o.o_orderkey
      |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      |  AND l.l_returnflag = 'R'
      |  AND c.c_nationkey = n.n_nationkey
      |GROUP BY c.c_custkey, c.c_name, n.n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** TPC-H Q14-style promotion share: one month of lineitem joined to
    * part, split into promo vs total revenue by conditional aggregation.
    * ONE shared ANSI text on both engines. Numerator and denominator are
    * emitted as separate exact-decimal sums instead of a ratio — decimal
    * division rounds differently across engines, and a downstream reader
    * dividing two exact doubles gets the same IEEE result everywhere.
    * Part (the dimension side) broadcasts; the one-month shipdate filter
    * is pushed into the lineitem scan. */
  val promoRevenueSql: String =
    """SELECT
      |  CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
      |       THEN CAST(l_extendedprice AS DECIMAL(12,2))
      |            * (1 - CAST(l_discount AS DECIMAL(12,2)))
      |       ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS promo_revenue,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |           * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS total_revenue,
      |  count(*) AS n_lines
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |  AND l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""".stripMargin

  /** TPC-H Q15-style top supplier: a revenue CTE reused twice — once as
    * the join side, once inside a scalar `max` subquery. ONE shared ANSI
    * text on both engines. Catalyst plans the CTE once per reference but
    * the scalar max collapses to a 1-row broadcast; the revenue equality
    * compares two decimal-derived doubles that are bit-identical on both
    * engines (same exact-decimal sum, cast once). */
  val topSupplierSql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |             * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
      |      AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier, revenue
      |WHERE s_suppkey = supplier_no
      |  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q18-style large-volume orders: a HAVING-filtered aggregate
    * subquery (orders whose line quantities sum past a threshold) feeds
    * an IN predicate — Catalyst rewrites it to a LEFT SEMI join against
    * the aggregated side, so the HAVING filter prunes BEFORE the 3-way
    * join. ONE shared ANSI text on both engines; quantity sums ride the
    * exact-decimal pattern and the top-20 is tie-broken on o_orderkey. */
  val largeOrdersSql: String =
    """SELECT c_name, c_custkey, o_orderkey,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
      |FROM customer, orders, lineitem
      |WHERE o_orderkey IN (
      |    SELECT l_orderkey FROM lineitem
      |    GROUP BY l_orderkey
      |    HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 250)
      |  AND c_custkey = o_custkey
      |  AND o_orderkey = l_orderkey
      |GROUP BY c_name, c_custkey, o_orderkey
      |ORDER BY total_qty DESC, o_orderkey
      |LIMIT 20""".stripMargin

  /** TPC-H Q6-style revenue forecast: the canonical PURE-PUSHDOWN query
    * — single table, three conjunctive range predicates, one aggregate,
    * no join, no group. All three predicates reach the parquet scan as
    * PushedFilters (row groups outside the year are skipped on
    * min/max stats), which is the whole point of the shape at 100 TB:
    * the scan, not the agg, is the query. ONE shared ANSI text; the
    * revenue product rides the exact-decimal pattern, and BETWEEN on
    * parquet doubles compares stored values exactly. */
  val forecastRevenueSql: String =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |             * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** TPC-H Q7-style bilateral trade volume: revenue shipped between two
    * specific nations, per direction per year. The interesting plan
    * property is the SYMMETRIC disjunction on the two nation dims —
    * Catalyst can't split the OR across the joins, but both `nation`
    * sides are tiny bounded dims (broadcast), so the OR is evaluated
    * post-join at broadcast-hash-join speed while the big
    * lineitem⋈orders⋈customer spine stays a pure key-equi-join tree —
    * exactly the shape you want when lineitem is 100 TB and nation is
    * 25 rows. ONE shared ANSI text on both engines; the year is
    * extracted and CAST to INT on both, revenue rides the exact-decimal
    * pattern, and (supp_nation, cust_nation, l_year) totally orders. */
  val nationTradeVolumeSql: String =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(sum(volume) AS DOUBLE) AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |         CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
      |         CAST(l_extendedprice AS DECIMAL(12,2))
      |           * (1 - CAST(l_discount AS DECIMAL(12,2))) AS volume
      |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
      |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
      |    AND c_nationkey = n2.n_nationkey
      |    AND ((n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_12')
      |      OR (n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_11'))
      |    AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
      |                       AND TIMESTAMP '1997-12-31 00:00:00'
      |) shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** TPC-H Q12-style priority-by-class counts (adapted: this schema has
    * no l_shipmode, so l_returnflag plays the class column): one pass
    * over a date-windowed lineitem⋈orders join producing two
    * conditional sums — the shipdate range is the only selective
    * predicate and it reaches the parquet scan as PushedFilters, so at
    * 100 TB the query reads one year of row groups, joins on the order
    * key, and never materializes a CASE column. ONE shared ANSI text. */
  val shipmodePrioritySql: String =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders, lineitem
      |WHERE o_orderkey = l_orderkey
      |  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** TPC-H Q17-style small-quantity revenue: a correlated scalar AVG
    * subquery (lines below 20% of their part's average quantity).
    * Catalyst decorrelates it into ONE per-part average aggregate plus
    * an equi-join — the subquery runs once over lineitem, not once per
    * outer row, which is the difference between O(n) and O(n²) at
    * 100 TB. Quantities are whole numbers stored as doubles, so the
    * per-part average is order-independent (integer sums are exact in
    * binary64) and the 0.2× threshold compares identically on both
    * engines; the revenue sum rides the exact-decimal pattern. */
  val smallQuantityRevenueSql: String =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
      |    AS avg_yearly
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey
      |  AND p_brand = 'Brand#13'
      |  AND p_size < 5
      |  AND l_quantity < (
      |    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
      |    WHERE l2.l_partkey = p_partkey)""".stripMargin

  /** TPC-H Q19-style disjunctive-predicate revenue (adapted: p_size
    * ranges replace the container lists): three OR'd conjunctions
    * spanning both join sides. The optimizer-shape point: Catalyst
    * extracts the COMMON parts of the disjunction per side (brand/size
    * reach the part scan, quantity bounds reach the lineitem scan as a
    * pushed `(q>=1 AND q<=11) OR ... ` filter), so each scan prunes on
    * the union envelope BEFORE the join and only the residual OR is
    * evaluated post-join — the difference between scanning three
    * slivers and scanning the world, twice. ONE shared ANSI text. */
  val disjunctiveRevenueSql: String =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |         * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey
      |  AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
      |        AND l_quantity >= 1 AND l_quantity <= 11)
      |    OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 25
      |        AND l_quantity >= 10 AND l_quantity <= 20)
      |    OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 35
      |        AND l_quantity >= 20 AND l_quantity <= 30))""".stripMargin

  /** TPC-H Q21-style waiting-suppliers (adapted: "late" = shipped more
    * than 60 days after the order date, since this schema has no
    * commit/receipt dates): for finished orders, suppliers whose line
    * was the ONLY late one in a multi-supplier order. The ANSI text is
    * the full correlated-quantifier gauntlet — one EXISTS (another
    * supplier participated) and one NOT EXISTS (no OTHER supplier was
    * late), both correlated on the order key — and stays the oracle's
    * query verbatim; (numwait DESC, s_name) totally orders. */
  val waitingSuppliersSql: String =
    """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM supplier, lineitem l1, orders, nation
      |WHERE s_suppkey = l1.l_suppkey
      |  AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL '60' DAY
      |  AND s_nationkey = n_nationkey
      |  AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
      |  AND EXISTS (
      |    SELECT * FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT * FROM lineitem l3, orders o2
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND o2.o_orderkey = l3.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_shipdate > o2.o_orderdate + INTERVAL '60' DAY)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name""".stripMargin

  /** Engine formulation of [[waitingSuppliersSql]] (r17). Catalyst
    * planned the quantifier pair as a left-semi plus a left-anti join,
    * which scans lineitem THREE times (base + semi probe + anti probe)
    * and orders twice (the NOT EXISTS re-derives each line's lateness
    * through its own orders join) — 102 task-CPU-s at the 30× rung.
    * The published Q21 restatement computes both quantifiers from ONE
    * lineitem ⋈ orders pass: per order,
    * EXISTS(other supplier)      ⟺ countDistinct(suppkey) ≥ 2, and
    * NOT EXISTS(other late supp) ⟺ (given this row is late) the
    * distinct LATE-supplier set is exactly {this supplier}, i.e.
    * countDistinct(late suppkey) = 1 — both counted over unfiltered
    * orders exactly like the subqueries (the status filter applies only
    * to the outer row). Row multiplicity is preserved: the outer query
    * counts qualifying l1 ROWS and so does the filtered single pass,
    * and suppkey → (s_name, nation) is single-valued so the broadcast
    * join duplicates nothing. Same-JVM A/B at the 30× rung: wall
    * 6.54 → 2.95 s, CPU 102 → 45 s, result bit-identical (spec-pinned
    * against the ANSI text run through Spark). */
  def sqlWaitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    register(spark, dir)
    val o = spark.table("orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderdate"))
    val l = spark.table("lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val w = Window.partitionBy(col("l_orderkey"))
    val flagged = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        expr("l_shipdate > o_orderdate + INTERVAL '60' DAY"))
      .withColumn("n_supp", size(collect_set(col("l_suppkey")).over(w)))
      .withColumn("n_late", size(collect_set(
        when(col("late"), col("l_suppkey"))).over(w)))
    val sn = spark.table("supplier").join(spark.table("nation"),
        col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))
      .select(col("s_suppkey"), col("s_name"))
    flagged.filter(col("late") && col("o_orderstatus") === "F" &&
        col("n_supp") >= 2 && col("n_late") === 1)
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  /** TPC-H Q22-style dormant high-balance accounts (adapted: the
    * custkey's last digit plays the phone country code, and "never
    * ordered" becomes "no order since 2000" — every customer in this
    * dataset has SOME order): ONE uncorrelated one-row aggregate sets
    * the balance bar (count and sum fused into a single customer scan,
    * cross-joined), a correlated NOT EXISTS prunes recently-active
    * customers (→ left anti join on o_custkey with the date filter
    * pushed into the orders scan), and the survivors aggregate by
    * segment. The "above average" bar is stated in EXACT cross-multiplied
    * decimal arithmetic — `bal · count > sum` instead of `bal > avg` —
    * because avg(DECIMAL(12,2)) itself is engine-dependent (Spark yields
    * a rounded DECIMAL(16,6), DuckDB a raw DOUBLE), so a cent-grid
    * balance within 5e-7 of the bar could flip membership between
    * engines; the decimal product and sum are order-independent and
    * identical everywhere. ONE shared text. */
  val dormantAccountsSql: String =
    """SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
      |FROM (
      |  SELECT CAST(c_custkey % 10 AS INT) AS cntrycode, c_acctbal, c_custkey
      |  FROM customer, (
      |    SELECT count(*) AS bar_cnt,
      |           sum(CAST(c_acctbal AS DECIMAL(12,2))) AS bar_tot
      |    FROM customer
      |    WHERE c_acctbal > 0.00 AND c_custkey % 10 IN (1, 3, 5, 7)) bar
      |  WHERE c_custkey % 10 IN (1, 3, 5, 7)
      |    AND CAST(c_acctbal AS DECIMAL(12,2)) * bar_cnt > bar_tot
      |    AND NOT EXISTS (
      |      SELECT * FROM orders
      |      WHERE o_custkey = c_custkey
      |        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      |) custsale
      |GROUP BY cntrycode
      |ORDER BY cntrycode""".stripMargin

  /** TPC-H Q8-style market share: one nation's slice of regional PROMO
    * revenue per order year — an 8-relation join where everything but
    * the lineitem⋈orders spine is a bounded broadcast dim, then a
    * conditional-sum ratio. Both sums are exact decimals; the single
    * double division at the end is deterministic on both engines. */
  val marketShareSql: String =
    """SELECT o_year,
      |  CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END) AS DOUBLE)
      |    / CAST(sum(volume) AS DOUBLE) AS mkt_share
      |FROM (
      |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (1 - CAST(l_discount AS DECIMAL(12,2))) AS volume,
      |    n2.n_name AS nation
      |  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
      |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
      |    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
      |    AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
      |    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
      |                        AND TIMESTAMP '1997-12-31 00:00:00'
      |    AND p_type = 'PROMO'
      |) all_nations
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  /** TPC-H Q9-style product-line profit (adapted: cost =
    * 0.1 × p_retailprice × quantity stands in for the missing
    * partsupp.ps_supplycost): profit per supplier nation per year over
    * a LIKE-filtered part subset. The amount expression is a pure
    * decimal tree (two products, one subtraction — all exact), so the
    * per-group sums are bit-identical on both engines. */
  val productProfitSql: String =
    """SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
      |FROM (
      |  SELECT n_name AS nation,
      |    CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (1 - CAST(l_discount AS DECIMAL(12,2)))
      |      - CAST(p_retailprice AS DECIMAL(12,2))
      |        * CAST(l_quantity AS DECIMAL(12,2)) * 0.1 AS amount
      |  FROM part, supplier, lineitem, orders, nation
      |  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
      |    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      |    AND p_name LIKE '%widget%'
      |) profit
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin

  /** TPC-H Q11-style important stock (adapted: per-part lineitem value
    * stands in for partsupp value): parts whose value exceeds a fixed
    * fraction of the GLOBAL total — the aggregate CTE is used both as
    * the row source and inside the scalar threshold subquery, so the
    * plan reuses one aggregation with a 1-row broadcast for the bar.
    * All values stay exact decimals until the final output cast. */
    // threshold 0.0008: ~2000 parts at uniform ~0.0005 share each →
    // only the heavy tail passes (6 rows at sf0.01); 0.001 passes none
  val importantStockSql: String =
    """WITH val AS (
      |  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS v
      |  FROM lineitem GROUP BY l_partkey)
      |SELECT l_partkey, CAST(v AS DOUBLE) AS part_value
      |FROM val
      |WHERE v > (SELECT sum(v) * 0.0008 FROM val)
      |ORDER BY part_value DESC, l_partkey""".stripMargin

  /** TPC-H Q16-style supplier count (adapted: suppliers with negative
    * balances play the complaints blacklist): distinct suppliers per
    * (brand, type, size) over an IN-list size filter, minus a NOT IN
    * subquery — planned as a null-aware anti join against the tiny
    * blacklist while the distinct count shuffles once on the group key. */
  val supplierCountSql: String =
    """SELECT p_brand, p_type, p_size,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey
      |  AND p_brand <> 'Brand#13'
      |  AND p_type <> 'PROMO'
      |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** TPC-H Q20-style high-volume part suppliers (adapted: "shipped more
    * than 50 units of one PROMO part in 1997" stands in for the
    * partsupp availability correlation): an IN predicate over a
    * grouped-HAVING subquery — Catalyst plans the inner aggregate once
    * and semi-joins suppliers against its distinct key set; the date
    * window is pushed into the lineitem scan. */
  val excessSuppliersSql: String =
    """SELECT s_suppkey, s_name, n_name
      |FROM supplier, nation
      |WHERE s_suppkey IN (
      |    SELECT l_suppkey FROM lineitem, part
      |    WHERE l_partkey = p_partkey AND p_type = 'PROMO'
      |      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |    GROUP BY l_suppkey, l_partkey
      |    HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 50)
      |  AND s_nationkey = n_nationkey
      |ORDER BY s_suppkey""".stripMargin
}
