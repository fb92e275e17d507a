package graft.operators

import graft.Tables
import graft.stages.Stages
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators beyond the core dedup/similarity
  * families: TF-IDF term scoring, reproducible hash sampling (plain and
  * stratified), text normalization, and near-dup cluster canonicalization
  * via connected components.
  *
  * Determinism: every score is derived from exact integer counts with
  * identical expression trees on both engines (IEEE ops on identical
  * inputs are bit-equal); sampling keys are md5-derived integers, never
  * `rand()` — the same rows are kept on any cluster size, partitioning,
  * or engine, which is what makes a 100 TB sample reproducible.
  */
object PipelineOps {

  /** TF-IDF top-3 terms per document, with a BM25-style RATIONAL idf
    * `(N - df + 0.5) / (df + 0.5)` instead of `ln(N/df)`: transcendentals
    * are not correctly-rounded IEEE ops, so `ln` differs between the JVM
    * and DuckDB by 1 ulp and flaps the hash compare — the rational form
    * uses only +,-,*,/ on integer-derived doubles, bit-equal by
    * construction (measured: the ln form mismatched 48 values at 1-2 ulp).
    *
    * Plan shape: one partial+final aggregation per (doc, token) for TF,
    * one per token for DF (computed FROM the tf aggregate — never a
    * second pass over the token stream), a broadcast of the 1-row corpus
    * count, and a per-doc top-k window. The tf→df chain shares the token
    * hash partitioning, so the join back is co-partitioned. */
  def textTfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val tokens = docs
      .select($"doc_id", explode(split(lower($"text"), " ")).as("token"))
      .filter($"token" =!= "")
    val tf = tokens.groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"token").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "token").crossJoin(broadcast(nDocs))
      .select($"doc_id", $"token", $"tf",
        ($"tf".cast("double") *
          (($"n_docs" - $"df" + lit(0.5)) / ($"df" + lit(0.5)))).as("tfidf"))
    val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"token".asc)
    scored.withColumn("rk", row_number().over(w)).filter($"rk" <= 3)
      .orderBy($"doc_id", $"rk")
  }

  val textTfidfTopTermsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, token, count(*) AS tf FROM toks
      |  WHERE token <> '' GROUP BY doc_id, token),
      |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      |nd AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.token, tf.tf,
      |         CAST(tf.tf AS DOUBLE) * ((nd.n_docs - df.df + 0.5) / (df.df + 0.5)) AS tfidf
      |  FROM tf JOIN df USING (token) CROSS JOIN nd)
      |SELECT doc_id, token, tf, tfidf, rk FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rk
      |  FROM scored) t
      |WHERE rk <= 3
      |ORDER BY doc_id, rk""".stripMargin

  /** Reproducible 10% document sample keyed on md5(doc_id) — never
    * `rand()`: the kept set is identical on any engine, partitioning, or
    * rerun, which is the contract a training-data sample needs. Pure
    * narrow filter — no shuffle before the output sort. */
  def sampleHashDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .filter(
        conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
          .cast("long") % 10 === 0)
      .select($"doc_id", length($"text").cast("bigint").as("len_chars"))
      .orderBy($"doc_id")
  }

  val sampleHashDocsSql: String =
    """SELECT doc_id, CAST(length(text) AS BIGINT) AS len_chars
      |FROM documents
      |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 0
      |ORDER BY doc_id""".stripMargin

  /** Stratified sampling accounting: per event_type, the total count and
    * the deterministically-kept 10% (md5(event_id) bucket < 10). One
    * partial+final aggregation — the kept/total ratio per stratum is the
    * audit row a pipeline logs next to every sampled extract. */
  def sampleStratifiedEvents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_type",
        (conv(substring(md5($"event_id".cast("string")), 1, 8), 16, 10)
          .cast("long") % 100).as("h"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_total"),
        count(when($"h" < 10, 1)).as("n_kept"))
      .withColumn("kept_ratio", $"n_kept".cast("double") / $"n_total")
      .orderBy($"event_type")
  }

  val sampleStratifiedEventsSql: String =
    """SELECT event_type, count(*) AS n_total,
      |       count(*) FILTER (WHERE h < 10) AS n_kept,
      |       CAST(count(*) FILTER (WHERE h < 10) AS DOUBLE) / count(*) AS kept_ratio
      |FROM (
      |  SELECT event_type,
      |    CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS h
      |  FROM events) t
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Fixed-SIZE uniform sample (`sample_bottomk_docs`): the 100
    * smallest md5(doc_id) keys — the distributed equivalent of
    * reservoir sampling, and the complement of [[sampleHashDocs]]'
    * fixed-RATE bucket filter: a monitoring/eval probe usually wants
    * "exactly 100 documents" whatever the corpus size, and bottom-k by
    * a content-independent hash key delivers that deterministically
    * (same 100 docs on any engine, partitioning, or rerun).
    *
    * Plan shape: `TakeOrderedAndProject` — each partition keeps a
    * 100-row heap and the driver merges #partitions×100 candidates;
    * there is NO global sort of the corpus, which is what makes a
    * fixed-size sample affordable at any width. */
  def sampleBottomkDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", md5($"doc_id".cast("string")).as("sample_key"),
        $"lang", $"source")
      .orderBy($"sample_key", $"doc_id")
      .limit(100)
      .orderBy($"doc_id")
  }

  val sampleBottomkDocsSql: String =
    """SELECT doc_id, sample_key, lang, source FROM (
      |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS sample_key,
      |         lang, source
      |  FROM documents
      |  ORDER BY sample_key, doc_id
      |  LIMIT 100) t
      |ORDER BY doc_id""".stripMargin

  /** Expected sample size for [[sampleWeightedDocs]] — the K in
    * p_i = K·w_i/W. Shared with the oracle string so both engines state
    * the same inclusion rule. */
  private val WeightedSampleK = 64L

  /** Weighted (length-proportional) Bernoulli document sample
    * (`sample_weighted_docs`): each document is kept with probability
    * p_i = K·n_chars_i/Σn_chars — the sampler a mixture/epoch plan
    * actually calls once shares are decided in char or token mass rather
    * than doc count (a 10× longer document should be 10× as likely to
    * represent its stratum). K = 64 expected picks.
    *
    * Determinism and exactness: the coin is the md5-derived u32 (never
    * `rand()` — same kept set on any engine/partitioning/rerun, the
    * [[sampleHashDocs]] contract), and the inclusion test
    * `u32·W < K·n_chars·2³²` is EXACT integer arithmetic in
    * DECIMAL(38,0)/HUGEINT — u32·W overflows BIGINT at corpus char
    * masses beyond ~2⁶³/2³² ≈ 2 G chars, i.e. well under 100 TB — so no
    * float boundary can flap a row (the [[CurationOps.curationEpochSample]]
    * rule). Documents with K·n_chars ≥ W saturate at p = 1
    * automatically (u32 < 2³² always).
    *
    * Plan shape: ONE 1-row total-mass aggregate broadcast back, then a
    * narrow codegen'd filter — no corpus-sized shuffle at any scale.
    * `weight_ppm` (exact integer parts-per-million of the char mass)
    * rides along for the audit log. */
  def sampleWeightedDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"source", $"n_chars")
    val tot = docs.agg(sum($"n_chars").as("total_chars"))
    docs.crossJoin(broadcast(tot))
      .withColumn("u32",
        conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
          .cast("long"))
      .filter(
        $"u32".cast("decimal(20,0)") * $"total_chars".cast("decimal(20,0)") <
          (lit(WeightedSampleK) * $"n_chars").cast("decimal(20,0)") *
            lit(4294967296L).cast("decimal(20,0)"))
      .select($"doc_id", $"lang", $"source", $"n_chars",
        expr("(1000000 * n_chars) div total_chars").as("weight_ppm"))
      .orderBy($"doc_id")
  }

  lazy val sampleWeightedDocsSql: String =
    s"""WITH tot AS (
       |  SELECT CAST(sum(n_chars) AS BIGINT) AS total_chars FROM documents)
       |SELECT doc_id, lang, source, n_chars,
       |       (1000000 * n_chars) // total_chars AS weight_ppm
       |FROM documents, tot
       |WHERE CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS HUGEINT)
       |        * total_chars
       |      < CAST($WeightedSampleK AS HUGEINT) * n_chars * 4294967296
       |ORDER BY doc_id""".stripMargin

  /** Text normalization (the cleaning pass before dedup/tokenization):
    * lowercase → strip non-alphanumerics → collapse whitespace → trim,
    * fingerprinted with md5. Narrow projection, fully codegen'd — the
    * 100 TB shape is a map-only pass. The chain runs in the
    * [[graft.functions.NormalizeText]] kernel (r15): the lower+regex
    * expression tower allocated ~6 transient string copies per row and
    * its per-char task-CPU grew with task concurrency (155 ns at 2
    * concurrent tasks → ~2,900 ns at 32 — allocation-bandwidth
    * saturation that read as a super-linear growth law on the packed
    * ladder, 5.9 → 44.3 → 482 CPU-s); the kernel is byte-exact to the
    * tower (parity-pinned) and allocates once per row. */
  def textNormalize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", expr("graft_normalize_text(text)").as("norm"))
      .select($"doc_id", md5($"norm").as("norm_hash"),
        length($"norm").cast("bigint").as("norm_len"))
      .orderBy($"doc_id")
  }

  val textNormalizeSql: String =
    """SELECT doc_id, md5(norm) AS norm_hash,
      |       CAST(length(norm) AS BIGINT) AS norm_len
      |FROM (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |         ' +', ' ', 'g')) AS norm
      |  FROM documents) t
      |ORDER BY doc_id""".stripMargin

  /** Near-dup cluster canonicalization: connected components over the
    * MinHash candidate-pair graph (est_jaccard >= 0.5), labeling every
    * clustered document with the smallest doc_id reachable from it — the
    * step that turns pairwise near-dup hits into keep/drop decisions.
    *
    * Execution: Pregel-style smallest-label propagation — each iteration
    * is one distributed join + min-aggregation over the (tiny) edge set;
    * the driver only orchestrates (one convergence CHECK per iteration,
    * never a row collect). Iterations are bounded by component diameter,
    * logarithmic-ish on real dup clusters, capped defensively. The
    * oracle computes the same fixpoint with a recursive CTE.
    *
    * The labels are memoized per (session, dir) like the dedup-family
    * sketches: five queries consume them (`dedup_connected_components`,
    * `dedup_canonical_pick`, `dedup_cluster_sizes`,
    * `curation_training_extract_neardup`,
    * `curation_dedup_rate_by_source`), and without memoization each
    * re-ran the whole iterative fixpoint — ~3 join+agg jobs plus a
    * convergence-witness aggregate per iteration, the most job-heavy
    * build in the library. The memoized DataFrame reads the final
    * localCheckpoint's blocks, so no extra persist is needed;
    * `cc_labels` is its own prewarm ledger line so the fixpoint cost
    * never bills to whichever consumer runs first alphabetically. */
  def dedupConnectedComponents(spark: SparkSession, dir: String): DataFrame =
    Stages.memo(spark, s"cc_labels:$dir") {
      computeConnectedComponents(spark, dir)
    }

  private def computeConnectedComponents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    connectedComponentLabels(spark,
      DedupOps.minhashEstimates(spark, dir)
        .filter($"est_jaccard" >= 0.5).select($"doc_a", $"doc_b"))
  }

  /** Smallest-label-propagation fixpoint over an undirected pair set
    * (`doc_a`, `doc_b` BIGINT columns) → (`doc_id`, `comp_id`) for every
    * node that appears in a pair. Factored out of the MinHash CC so the
    * phash cluster twin ([[MultimodalOps.multimodalPhashClusters]]) runs
    * the identical, convergence-witnessed fixpoint instead of a second
    * hand-rolled loop. All scale/robustness notes on
    * [[dedupConnectedComponents]] apply: per-iteration cost is one join +
    * min-agg over the EDGE set (duplicate-mass-proportional, never
    * corpus-proportional), lineage is truncated per iteration, and a
    * non-converged labeling fails loudly rather than silently diverging
    * from the oracle's recursive-CTE fixpoint. */
  private[operators] def connectedComponentLabels(
      spark: SparkSession, pairs: DataFrame): DataFrame = {
    import spark.implicits._
    val edges = pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
      .union(pairs.select($"doc_b".as("src"), $"doc_a".as("dst")))
      .persist()
    // localCheckpoint (eager) truncates lineage each iteration — without
    // it the logical plan re-nests per iteration (O(diameter) analyzer
    // cost and a plan tree thousands of nodes deep by iteration 20),
    // the standard trap of iterative DataFrame algorithms. On a cluster
    // with dynamic executors this would be a reliable checkpoint() to a
    // fault-tolerant dir instead.
    // the finally releases the edge cache on EVERY exit — normal return
    // (labels are localCheckpoint'ed, so nothing downstream needs edges),
    // the non-convergence throw, and a mid-loop job failure alike; a
    // plain trailing unpersist would leak the persisted edge set whenever
    // the fixpoint loop threw
    try {
      var labels = edges.select($"src".as("node")).distinct()
        .select($"node", $"node".as("comp")).localCheckpoint()
      // convergence witness: labels only ever DECREASE, so the label sum
      // is strictly monotone until the fixpoint — an unchanged sum ⇔ no
      // label changed. One cheap scalar aggregate per iteration instead
      // of a next-vs-previous join; decimal sum so id magnitude can never
      // overflow the witness.
      // null-safe: an EMPTY pair set (legal for the phash cluster twin
      // on a corpus whose only near-dups are hash-identical, e.g. the
      // sf0.01 gate fixture) sums to SQL NULL — treat as zero so the
      // empty fixpoint converges on iteration 1 instead of NPE-ing
      def labelSum(df: DataFrame): java.math.BigDecimal =
        Option(df.agg(sum($"comp".cast(org.apache.spark.sql.types.DecimalType(38, 0))))
          .collect()(0).getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
      var prevSum = labelSum(labels)
      var converged = false
      var iter = 0
      while (!converged && iter < 20) {
        val neighborMin = edges.join(labels, edges("dst") === labels("node"))
          .select(edges("src").as("node"), labels("comp").as("comp"))
        val next = labels.union(neighborMin)
          .groupBy($"node").agg(min($"comp").as("comp")).localCheckpoint()
        val nextSum = labelSum(next)
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
        labels = next
        iter += 1
      }
      // The oracle computes the true recursive-CTE fixpoint; returning an
      // unconverged labeling would diverge from it SILENTLY (same row
      // count, wrong components). Fail loudly instead — a graph with
      // diameter > 20 is a genuine input anomaly worth surfacing, not
      // rounding away.
      if (!converged)
        throw new IllegalStateException(
          s"dedupConnectedComponents: label propagation did not converge " +
            s"within $iter iterations (component diameter exceeds the cap); " +
            "refusing to return a partial fixpoint")
      labels.select($"node".as("doc_id"), $"comp".as("comp_id")).orderBy($"doc_id")
    } finally edges.unpersist(blocking = false)
  }

  /** Data-quality gate: referential-integrity orphan counts (anti-joins
    * on the foreign keys) and value-domain violations, emitted as one
    * (metric, value) audit row each — the validation pass a pipeline
    * runs before cutting a training extract. Each metric is one
    * anti-join or filter aggregate; at scale the anti-joins are plain
    * hash joins on the key. */
  def qualityReferentialCheck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def metric(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("value"))
        .select(lit(name).as("metric"), $"value")
    val orders = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    val li = Tables.lineitem(spark, dir)
    metric("lineitems_without_order",
        li.join(orders, li("l_orderkey") === orders("o_orderkey"), "left_anti"))
      .union(metric("negative_acctbal_customers", cust.filter($"c_acctbal" < 0)))
      .union(metric("orders_without_customer",
        orders.join(cust, orders("o_custkey") === cust("c_custkey"), "left_anti")))
      .union(metric("zero_qty_lineitems", li.filter($"l_quantity" <= 0)))
      .orderBy($"metric")
  }

  val qualityReferentialCheckSql: String =
    """SELECT 'lineitems_without_order' AS metric, count(*) AS value
      |FROM lineitem l WHERE NOT EXISTS (
      |  SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      |UNION ALL
      |SELECT 'negative_acctbal_customers', count(*)
      |FROM customer WHERE c_acctbal < 0
      |UNION ALL
      |SELECT 'orders_without_customer', count(*)
      |FROM orders o WHERE NOT EXISTS (
      |  SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      |UNION ALL
      |SELECT 'zero_qty_lineitems', count(*)
      |FROM lineitem WHERE l_quantity <= 0
      |ORDER BY metric""".stripMargin

  /** Fixed-width numeric histogram (10k-wide price bins): the binning
    * primitive behind every distribution dashboard. `floor(x / w)` on
    * identical doubles is bit-equal cross-engine; one partial+final
    * aggregation, bin cardinality bounded by the value domain. */
  def aggHistogramPrice(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy(floor($"l_extendedprice" / 10000).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        min($"l_extendedprice").as("min_price"),
        max($"l_extendedprice").as("max_price"))
      .orderBy($"bin")
  }

  val aggHistogramPriceSql: String =
    """SELECT CAST(floor(l_extendedprice / 10000) AS BIGINT) AS bin,
      |       count(*) AS n,
      |       min(l_extendedprice) AS min_price,
      |       max(l_extendedprice) AS max_price
      |FROM lineitem
      |GROUP BY 1
      |ORDER BY bin""".stripMargin

  /** SCD-style MERGE/upsert emulated Spark-natively: a full-outer join of
    * the dimension against a derived update set, with per-row
    * insert/update/keep resolution — what `MERGE INTO` compiles to on
    * engines without a transactional table format. The update set routes
    * every 97th key to a fresh surrogate key to exercise the insert
    * branch. At scale this is one SMJ on the dimension key — the
    * standard nightly-dimension-refresh shape. */
  def mergeUpsertCustomers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val Dec = org.apache.spark.sql.types.DecimalType(12, 2)
    val base = Tables.customer(spark, dir)
      .select($"c_custkey", $"c_name", $"c_acctbal")
    // Surrogate keys for the insert branch are offset by
    // greatest(max(c_custkey), max(o_custkey)) + 1, so surrogate =
    // o_custkey + offset is STRICTLY above every key in either domain and
    // can never collide with a real key at any scale factor. (Offsetting
    // by max(c_custkey) alone collides: o_custkey = 0 maps to exactly
    // max(c_custkey), a real key. A fixed +1M offset collides once the
    // key space passes 1M, ~sf 7.) The two 1-row maxes are column-pruned
    // scans broadcast as scalars, not driver collects.
    val offset = base.agg(max($"c_custkey").as("mc"))
      .crossJoin(Tables.orders(spark, dir).agg(max($"o_custkey").as("mo")))
      .select((greatest($"mc", $"mo") + 1).as("surr_off"))
    val upd = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum($"o_totalprice".cast(Dec)).cast("double").as("order_total"))
      .crossJoin(broadcast(offset))
      .select(
        when($"o_custkey" % 97 === 0, $"o_custkey" + $"surr_off")
          .otherwise($"o_custkey").as("u_custkey"),
        $"order_total")
    base.join(upd, $"c_custkey" === $"u_custkey", "full_outer")
      .select(
        coalesce($"c_custkey", $"u_custkey").as("custkey"),
        coalesce($"c_name", lit("NEW CUSTOMER")).as("name"),
        when($"u_custkey".isNotNull, $"order_total")
          .otherwise($"c_acctbal").as("acctbal"),
        when($"c_custkey".isNull, "insert")
          .when($"u_custkey".isNull, "keep")
          .otherwise("update").as("op"))
      .orderBy($"custkey")
  }

  val mergeUpsertCustomersSql: String =
    """WITH upd AS (
      |  SELECT CASE WHEN o_custkey % 97 = 0
      |              THEN o_custkey + (SELECT greatest((SELECT max(c_custkey) FROM customer),
      |                                               (SELECT max(o_custkey) FROM orders)) + 1)
      |              ELSE o_custkey END AS u_custkey,
      |         order_total
      |  FROM (SELECT o_custkey,
      |          CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS order_total
      |        FROM orders GROUP BY o_custkey) t)
      |SELECT coalesce(c_custkey, u_custkey) AS custkey,
      |       coalesce(c_name, 'NEW CUSTOMER') AS name,
      |       CASE WHEN u_custkey IS NOT NULL THEN order_total
      |            ELSE c_acctbal END AS acctbal,
      |       CASE WHEN c_custkey IS NULL THEN 'insert'
      |            WHEN u_custkey IS NULL THEN 'keep'
      |            ELSE 'update' END AS op
      |FROM customer FULL OUTER JOIN upd ON c_custkey = u_custkey
      |ORDER BY custkey""".stripMargin

  /** Deterministic per-group sample: top-3 events per type ranked by
    * md5(event_id) — a reproducible stand-in for per-stratum reservoir
    * sampling (same rows on any engine/cluster/rerun, unlike rand()).
    *
    * Scale shape: a single rank window PARTITION BY a bounded type
    * alphabet sorts the whole corpus on #types tasks (the same floor
    * the r16 event detectors shed), so the rank is two-level EXACT
    * top-k — the global top-3 of a type is contained in the union of
    * its 64 per-salt top-3s (removing non-members of a salt class
    * cannot change that class's top-3), so the corpus-sized window
    * runs on (type, salt) with data-proportional parallelism and the
    * per-type rank re-ranks ≤ 192 survivors. Salt = event_id mod 64:
    * deterministic, so the sample stays engine/cluster-reproducible. */
  def sampleTopkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wSalt = Window.partitionBy($"event_type", $"salt")
      .orderBy($"h".asc, $"event_id".asc)
    val wType = Window.partitionBy($"event_type")
      .orderBy($"h".asc, $"event_id".asc)
    Tables.events(spark, dir)
      .select($"event_type", $"event_id",
        md5($"event_id".cast("string")).as("h"),
        pmod($"event_id", lit(64L)).as("salt"))
      .withColumn("rs", row_number().over(wSalt)).filter($"rs" <= 3)
      .withColumn("rk", row_number().over(wType)).filter($"rk" <= 3)
      .select($"event_type", $"event_id", $"rk")
      .orderBy($"event_type", $"rk")
  }

  val sampleTopkPerGroupSql: String =
    """SELECT event_type, event_id, rk FROM (
      |  SELECT event_type, event_id, row_number() OVER (
      |    PARTITION BY event_type
      |    ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rk
      |  FROM events) t
      |WHERE rk <= 3
      |ORDER BY event_type, rk""".stripMargin

  /** HyperLogLog approximate distinct counts next to their exact
    * counterparts — THE cardinality operator at 100 TB (exact distinct
    * shuffles every key; the sketch is constant-size per partition and
    * merges associatively). Deliberately NO DuckDB oracle: HLL register
    * layouts are engine-specific, so cross-engine bit-parity is
    * impossible BY DESIGN — the test asserts the documented error bound
    * (rsd = 0.02) against the exact counts instead. */
  /** Mergeable-sketch cardinality (Apache DataSketches HLL, built into
    * Spark 4): per-event-type user sketches, each estimated in place, plus
    * an ALL row whose estimate comes from UNIONING the per-type sketches —
    * never re-reading raw data. This is the re-aggregatable pattern exact
    * `countDistinct` fundamentally lacks at 100 TB: exact per-group
    * distinct counts cannot be combined (the ALL row's exact side needs a
    * second full pass, done here deliberately to show the asymmetry),
    * while sketches are a few KB, persist as bytes, and union
    * associatively — per-day sketches roll up to months for free.
    * No oracle (sketch layouts are engine-specific, like
    * `agg_approx_distinct`); the test suite asserts the union estimate
    * equals the direct whole-table sketch estimate exactly and is within
    * 5 % of exact. */
  def aggHllMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.events(spark, dir)
    val perType = events.groupBy($"event_type")
      .agg(hll_sketch_agg($"user_id").as("sk"),
        countDistinct($"user_id").as("exact_users"))
    val typed = perType.select($"event_type", $"exact_users",
      hll_sketch_estimate($"sk").as("approx_users"))
    val merged = perType
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("approx_users"))
    val total = events.agg(countDistinct($"user_id").as("exact_users"))
      .crossJoin(merged)
      .select(lit("ALL").as("event_type"), $"exact_users", $"approx_users")
    typed.unionByName(total).orderBy($"event_type")
  }

  /** Count-Min-sketch token frequencies (`agg_cms_topk`) — the third
    * mergeable sketch next to HLL (cardinality) and Bloom (membership):
    * approximate POINT FREQUENCIES in sublinear space, the heavy-hitter
    * primitive a 100 TB token-statistics service runs (exact per-token
    * counts shuffle the whole vocabulary; a CMS is a fixed
    * depth×width counter grid per partition that merges by cell-wise
    * ADDITION — per-shard sketches roll up exactly, like the HLL
    * union). Built twice on purpose: one global sketch, and per-source
    * sketches merged driver-side — CMS merge is EXACT (counts add
    * linearly, same seed ⇒ same hash rows), so the merged estimates
    * must equal the global ones bit-for-bit, which the suite asserts
    * alongside the one-sided error contract (estimate ≥ true, overshoot
    * ≤ ε·N at ε = 0.001). Probes are driver-side over the bounded
    * top-20 exact rows. No DuckDB oracle: sketch layouts are
    * engine-specific, the `agg_hll_merge` contract. */
  def aggCmsTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.util.sketch.CountMinSketch
    val tok = Tables.documents(spark, dir)
      .select($"source", explode(split(lower($"text"), " ")).as("token"))
      .filter($"token" =!= "")
    val cms = "count_min_sketch(token, 0.001d, 0.99d, 42)"
    val globalSk = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(
      tok.agg(expr(cms).as("sk")).head().getAs[Array[Byte]](0)))
    val mergedSk = tok.groupBy($"source").agg(expr(cms).as("sk")).collect()
      .map(r => CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1))))
      .reduce { (a, b) => a.mergeInPlace(b); a }
    val top = tok.groupBy($"token").agg(count(lit(1)).as("true_count"))
      .orderBy($"true_count".desc, $"token").limit(20).collect()
    top.map { r =>
      val t = r.getString(0)
      (t, r.getLong(1),
        globalSk.estimateCount(t), mergedSk.estimateCount(t))
    }.toSeq.toDF("token", "true_count", "est_global", "est_merged")
      .orderBy($"true_count".desc, $"token")
  }

  /** Observed write: named `Observation` metrics (row count + exact
    * decimal revenue) piggyback on the WRITE pass itself — the executors
    * accumulate them while producing the sink output, so data-quality
    * telemetry costs zero extra scans. At 100 TB the alternative — a
    * separate validation query after the write — doubles the pipeline's
    * read volume; `observe` is the Spark-native answer (same mechanism
    * streaming queries surface via `lastProgress.observedMetrics`). The
    * query returns the observed metrics as a 1-row frame, which the
    * oracle recomputes declaratively — proving the piggybacked metrics
    * equal a dedicated aggregation pass. */
  def pipelineObservedWrite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val Dec = org.apache.spark.sql.types.DecimalType(12, 2)
    val obs = new org.apache.spark.sql.Observation(
      "graft_obs_" + java.util.UUID.randomUUID().toString.replace("-", ""))
    val df = Tables.orders(spark, dir)
      .observe(obs, count(lit(1)).as("n_rows"),
        sum($"o_totalprice".cast(Dec)).cast("double").as("sum_price"))
    df.write.format("noop").mode("overwrite").save()
    val m = obs.get
    Seq((m("n_rows").asInstanceOf[Long], m("sum_price").asInstanceOf[Double]))
      .toDF("n_rows", "sum_price")
  }

  val pipelineObservedWriteSql: String =
    """SELECT count(*) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders""".stripMargin

  def aggApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .agg(
        countDistinct($"user_id").as("exact_users"),
        approx_count_distinct($"user_id", 0.02).as("approx_users"),
        countDistinct($"event_type").as("exact_types"),
        approx_count_distinct($"event_type", 0.02).as("approx_types"))
  }

  /** Z-order (Morton) clustering key over two dimensions — the
    * multi-dimensional data-layout technique behind Delta/Iceberg
    * Z-ORDER: interleaving the bits of the user-hash bucket and the
    * time bucket makes a single range scan on the sort key prune BOTH
    * dimensions. The z-value is pure integer bit math (16 shift/or
    * terms, codegen'd, identical in the oracle); output is the
    * clustered layout order. */
  def sortZorderEvents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val zExpr = (0 until 8).map { i =>
      s"(shiftleft(shiftright(ub, $i) & 1, ${2 * i}) + " +
        s"shiftleft(shiftright(tb, $i) & 1, ${2 * i + 1}))"
    }.mkString(" + ")
    Tables.events(spark, dir)
      .select($"event_id",
        (conv(substring(md5($"user_id".cast("string")), 1, 4), 16, 10)
          .cast("int") % 256).as("ub"),
        expr("cast((unix_micros(ts) div 60000000) % 256 as int)").as("tb"))
      .withColumn("z", expr(zExpr).cast("bigint"))
      .select($"event_id", $"ub", $"tb", $"z")
      .orderBy($"z", $"event_id")
  }

  val sortZorderEventsSql: String = {
    val zExpr = (0 until 8).map { i =>
      s"((((ub >> $i) & 1) << ${2 * i}) + (((tb >> $i) & 1) << ${2 * i + 1}))"
    }.mkString(" + ")
    s"""SELECT event_id, ub, tb, CAST($zExpr AS BIGINT) AS z
       |FROM (
       |  SELECT event_id,
       |    CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS INT) % 256 AS INT) AS ub,
       |    CAST((epoch_us(ts) // 60000000) % 256 AS INT) AS tb
       |  FROM events) t
       |ORDER BY z, event_id""".stripMargin
  }

  /** Shared oracle CTE chain: MinHash sketch → candidate graph →
    * recursive-CTE reachability fixpoint → `cc(doc_id, comp_id)`.
    * Reused by the connected-components query and everything built on
    * its labels (canonical pick). */
  private[operators] lazy val ccCtes: String =
    s"""${DedupOps.minhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM est WHERE est_jaccard >= 0.5
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM est WHERE est_jaccard >= 0.5),
       |reach AS (
       |  SELECT a AS node, a AS r FROM edges
       |  UNION
       |  SELECT e.b AS node, reach.r AS r
       |  FROM reach JOIN edges e ON e.a = reach.node),
       |cc AS (
       |  SELECT node AS doc_id, min(r) AS comp_id
       |  FROM reach GROUP BY node)""".stripMargin

  lazy val dedupConnectedComponentsSql: String =
    s"""$ccCtes
       |SELECT doc_id, comp_id FROM cc
       |ORDER BY doc_id""".stripMargin

  /** The keep/drop decision on top of the component labels: every
    * clustered document, its component, and the component's canonical
    * representative — the member with the most content (`n_chars` DESC,
    * ties to the smallest doc_id). `keep` marks the one row per cluster
    * a dedup pass retains.
    *
    * Plan shape: the labels (clustered docs only — a small fraction of
    * the corpus) hash-join to documents for the length column, one
    * min-aggregation per component picks the canonical via a struct
    * ordering (NOT a per-corpus window sort), and a second small join
    * attaches it back. At 100 TB both joins key on comp_id/doc_id and
    * every side after the CC stage is proportional to the DUPLICATE set,
    * not the corpus. */
  def dedupCanonicalPick(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val labels = dedupConnectedComponents(spark, dir)
      .select($"doc_id", $"comp_id")
    val docs = Tables.documents(spark, dir).select($"doc_id", $"n_chars")
    val labeled = labels.join(docs, "doc_id")
    // canonical member = min over (−n_chars, doc_id): longest content,
    // smallest id on ties — one bounded agg row per component
    val canon = labeled.groupBy($"comp_id")
      .agg(min(struct((-$"n_chars").as("neg_chars"), $"doc_id".as("d"))).as("c"))
      .select($"comp_id", $"c.d".as("canonical_id"))
    labeled.join(canon, "comp_id")
      .select($"doc_id", $"comp_id", $"canonical_id",
        ($"doc_id" === $"canonical_id").as("keep"))
      .orderBy($"doc_id")
  }

  /** [[ccCtes]] extended with the canonical-pick CTEs (`labeled`,
    * `canon`): single source for the canonical-pick oracle and every
    * oracle that consumes its keep/drop decision
    * ([[CurationOps.curationDedupRateBySource]]). */
  private[operators] lazy val canonicalCtes: String =
    s"""$ccCtes,
       |labeled AS (
       |  SELECT cc.doc_id, cc.comp_id, d.n_chars
       |  FROM cc JOIN documents d USING (doc_id)),
       |canon AS (
       |  SELECT comp_id, doc_id AS canonical_id,
       |         row_number() OVER (PARTITION BY comp_id
       |                            ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM labeled)""".stripMargin

  lazy val dedupCanonicalPickSql: String =
    s"""$canonicalCtes
       |SELECT l.doc_id, l.comp_id, c.canonical_id,
       |       l.doc_id = c.canonical_id AS keep
       |FROM labeled l JOIN canon c ON l.comp_id = c.comp_id AND c.rn = 1
       |ORDER BY l.doc_id""".stripMargin

  /** Near-dup cluster-size histogram (`dedup_cluster_sizes`): for each
    * cluster size s, how many MinHash connected components have exactly
    * s members, how many documents they hold, and the excess (s−1 per
    * cluster) a canonical-pick pass would drop — the one-page answer to
    * "is the near-dup mass a few huge clusters or many pairs?", which
    * decides whether plain canonical-pick suffices or a template/
    * boilerplate investigation is warranted (a 10 000-member cluster is
    * a crawler artifact, not ordinary duplication).
    *
    * Plan shape: both aggregations sit on top of the CC label stage and
    * are proportional to the CLUSTERED set, not the corpus — one count
    * per comp_id (hash agg on the component key), then a bounded
    * histogram agg whose key space is the distinct cluster sizes. */
  def dedupClusterSizes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sizes = dedupConnectedComponents(spark, dir)
      .groupBy($"comp_id").agg(count(lit(1)).as("cluster_size"))
    sizes.groupBy($"cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        sum($"cluster_size").as("n_docs"),
        sum($"cluster_size" - 1).as("n_excess_docs"))
      .orderBy($"cluster_size")
  }

  lazy val dedupClusterSizesSql: String =
    s"""$ccCtes,
       |sizes AS (
       |  SELECT comp_id, count(*) AS cluster_size FROM cc GROUP BY comp_id)
       |SELECT cluster_size, count(*) AS n_clusters,
       |       CAST(sum(cluster_size) AS BIGINT) AS n_docs,
       |       CAST(sum(cluster_size - 1) AS BIGINT) AS n_excess_docs
       |FROM sizes
       |GROUP BY cluster_size
       |ORDER BY cluster_size""".stripMargin

  /** Corpus health report: the one-page summary a curation pipeline
    * emits before cutting a training extract — corpus size, exact-dup
    * content cardinality, near-dup candidate pairs, language spread,
    * total characters. One (metric, value) row each, exact integers.
    *
    * The four documents-table metrics come out of ONE aggregate pass
    * (the two DISTINCTs expand map-side but still share the single scan)
    * and are unpivoted with `stack`; the near-dup count rides the
    * session-cached MinHash estimates shared with the dedup family — so
    * the whole report is one documents scan plus a cached-sketch lookup.
    * At 100 TB the two DISTINCT counts are the expensive rows —
    * production swaps them for the mergeable sketches already in this
    * library (agg_approx_distinct / agg_hll_merge) when ±2% is
    * acceptable; the report shape is unchanged. That swap is
    * [[curationCorpusReportSketch]], the flagged variant below. */
  def curationCorpusReport(spark: SparkSession, dir: String): DataFrame =
    corpusReport(spark, dir, useSketches = false)

  /** The 100 TB form of the corpus report: identical shape and metric
    * names, but the two exact DISTINCT rows come from DataSketches HLL
    * (`hll_sketch_agg` → `hll_sketch_estimate`) instead of exact
    * expansion. An exact DISTINCT over document hashes shuffles one row
    * per distinct document; the sketch is a few KB per partition and
    * merges associatively, so the whole report becomes one partial-agg
    * pass however wide the corpus. No oracle (sketch estimates are
    * engine-specific); OperatorSpec asserts shape parity with the exact
    * report and ≤5% cardinality error. */
  def curationCorpusReportSketch(spark: SparkSession, dir: String): DataFrame =
    corpusReport(spark, dir, useSketches = true)

  private def corpusReport(spark: SparkSession, dir: String,
      useSketches: Boolean): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val distinctText =
      if (useSketches) hll_sketch_estimate(hll_sketch_agg(md5($"text".cast("binary"))))
      else countDistinct(md5($"text".cast("binary")))
    val distinctLang =
      if (useSketches) hll_sketch_estimate(hll_sketch_agg($"lang"))
      else countDistinct($"lang")
    val singles = docs
      .agg(
        sum($"n_chars").cast("long").as("chars_total"),
        distinctText.as("docs_distinct_text"),
        count(lit(1)).as("docs_total"),
        distinctLang.as("langs"))
      .selectExpr(
        """stack(4,
          |  'chars_total', chars_total,
          |  'docs_distinct_text', docs_distinct_text,
          |  'docs_total', docs_total,
          |  'langs', langs) AS (metric, value)""".stripMargin)
    val nearDups = DedupOps.minhashEstimates(spark, dir)
      .filter($"est_jaccard" >= 0.5)
      .agg(count(lit(1)).as("value"))
      .select(lit("near_dup_pairs").as("metric"), $"value")
    singles.union(nearDups).orderBy($"metric")
  }

  lazy val curationCorpusReportSql: String =
    s"""${DedupOps.minhashCtes}
       |SELECT metric, value FROM (
       |  SELECT 'chars_total' AS metric, CAST(sum(n_chars) AS BIGINT) AS value
       |  FROM documents
       |  UNION ALL
       |  SELECT 'docs_distinct_text', CAST(count(DISTINCT md5(text)) AS BIGINT)
       |  FROM documents
       |  UNION ALL
       |  SELECT 'docs_total', CAST(count(*) AS BIGINT) FROM documents
       |  UNION ALL
       |  SELECT 'langs', CAST(count(DISTINCT lang) AS BIGINT) FROM documents
       |  UNION ALL
       |  SELECT 'near_dup_pairs', CAST(count(*) AS BIGINT)
       |  FROM est WHERE est_jaccard >= 0.5) t
       |ORDER BY metric""".stripMargin

  /** Join-key skew diagnostic (`quality_skew_report`) — per candidate
    * join key of the fact table: row/key counts, the heaviest key, and
    * exact per-mille skew ratios (max-over-avg, top-10-key share). This
    * is the table read BEFORE picking a join strategy: `skew_x1000` near
    * 1000 means uniform keys (plain shuffle join is fine); a large value
    * or a high `top10_permille` says salt the key or let AQE split it.
    *
    * Plan shape: ONE fact scan fans each row into its three (key_name,
    * key_value) pairs via `stack` (no self-union, no re-scan), one
    * partial+final count per pair, then a 3-row final agg. The top-10
    * share uses the bounded-state `graft_topk` aggregate
    * ([[graft.functions.TopKPairs]]), so the heavy-hitter pass moves
    * O(names × 10) longs instead of window-sorting all distinct keys of
    * a name inside one partition — the formulation that survives a
    * billion distinct orderkeys. */
  def qualitySkewReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cnts = Tables.lineitem(spark, dir)
      .selectExpr(
        """stack(3,
          |  'l_orderkey', l_orderkey,
          |  'l_partkey',  l_partkey,
          |  'l_suppkey',  l_suppkey) AS (key_name, key_value)""".stripMargin)
      .groupBy($"key_name", $"key_value")
      .agg(count(lit(1)).as("cnt"))
    cnts.groupBy($"key_name")
      .agg(sum($"cnt").as("n_rows"),
        count(lit(1)).as("n_keys"),
        max($"cnt").as("max_cnt"),
        expr("graft_topk(cnt, key_value, 10)").as("top10"))
      .select($"key_name", $"n_rows", $"n_keys", $"max_cnt",
        expr("aggregate(top10, 0L, (a, x) -> a + x.sort_val)").as("top10_rows"))
      .select($"key_name", $"n_rows", $"n_keys", $"max_cnt",
        expr("(n_rows * 1000) div n_keys").as("avg_cnt_x1000"),
        expr("(max_cnt * n_keys * 1000) div n_rows").as("skew_x1000"),
        expr("(top10_rows * 1000) div n_rows").as("top10_permille"))
      .orderBy($"key_name")
  }

  val qualitySkewReportSql: String =
    """WITH keyed AS (
      |  SELECT 'l_orderkey' AS key_name, l_orderkey AS key_value FROM lineitem
      |  UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
      |  UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem),
      |cnts AS (
      |  SELECT key_name, key_value, count(*) AS cnt
      |  FROM keyed GROUP BY key_name, key_value),
      |ranked AS (
      |  SELECT key_name, cnt, row_number() OVER (
      |    PARTITION BY key_name ORDER BY cnt DESC, key_value) AS rk
      |  FROM cnts)
      |SELECT key_name,
      |  CAST(sum(cnt) AS BIGINT) AS n_rows,
      |  count(*) AS n_keys,
      |  max(cnt) AS max_cnt,
      |  CAST(sum(cnt) AS BIGINT) * 1000 // count(*) AS avg_cnt_x1000,
      |  max(cnt) * count(*) * 1000 // CAST(sum(cnt) AS BIGINT) AS skew_x1000,
      |  CAST(sum(CASE WHEN rk <= 10 THEN cnt ELSE 0 END) AS BIGINT) * 1000
      |    // CAST(sum(cnt) AS BIGINT) AS top10_permille
      |FROM ranked
      |GROUP BY key_name
      |ORDER BY key_name""".stripMargin
}
