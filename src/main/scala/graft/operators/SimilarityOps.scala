package graft.operators

import graft.Tables
import graft.stages.Stages
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the 64-dim embedding column:
  *
  *  - `similarity_topk` — brute-force cosine top-k (the exactness
  *    baseline): broadcast the (small) query set against the full corpus,
  *    rank per query;
  *  - `similarity_ann_lsh` — multi-table sign-random-projection LSH:
  *    deterministic ±1 projections → occupancy-sized bucket keys (bits
  *    per table grow with log₂ n, see `bitsForCount`) → candidates share
  *    any table's bucket → exact cosine re-rank. This is the scale path:
  *    at 100 TB the bucket join is a hash shuffle on keys sized so each
  *    bucket holds 64–128 vectors, never an all-pairs product.
  *
  * Determinism: embeddings are quantized to `floor(x * 1e6)` fixed-point
  * BIGINTs; dot products and norms are exact integer sums, so the derived
  * cosine doubles are bit-equal across engines and summation orders. The
  * projection matrix is derived from md5 (seedless, engine-independent)
  * and embedded as ±1 literals in both the Spark plan and the oracle SQL.
  */
object SimilarityOps {

  /** Fixed-point quantized vectors with exact squared norms (norm via the
    * codegen'd [[graft.functions.FixedPointDotProduct]]).
    *
    * Memoized + PERSISTED per (session, dir) — the embedding-family
    * counterpart of [[DedupOps.sharedShingles]]: every similarity/semantic
    * consumer (top-k, LSH, IVF, IVF-PQ, exact cosine, SemDeDup) starts
    * from this stage, and before memoization each reference re-ran the
    * full embeddings parquet scan + transform + norm (the ivfpq plan alone
    * re-scanned the corpus 11×). At 100 TB the quantized table is the
    * corpus itself, so it persists MEMORY_AND_DISK (spills, never
    * recomputes) and is released by the app-end eviction backstop. */
  private[graft] def quantized(spark: SparkSession, dir: String): DataFrame = {
    Stages.memo(spark, s"quantized:$dir") {
      import spark.implicits._
      Tables.embeddings(spark, dir)
        .select($"vec_id",
          expr("transform(cast(embedding as array<double>), x -> cast(floor(x * 1000000) as bigint))")
            .as("q"))
        .withColumn("n2", expr("cast(graft_dot(q, q) as double)"))
        .persist()
    }
  }

  /** Public alias for composing the fixed-point CTE into other oracles. */
  private[graft] def quantizedCteForOracle: String = quantizedCte

  private[operators] val quantizedCte: String =
    """n AS (
      |  SELECT vec_id,
      |         list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * 1000000) AS BIGINT)) AS q,
      |         CAST(list_sum(list_transform(
      |           list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * 1000000) AS BIGINT)),
      |           x -> x * x)) AS DOUBLE) AS n2
      |  FROM embeddings)""".stripMargin

  /** Exact-integer dot product / norms → bit-stable cosine. The codegen'd
    * `graft_dot` accumulates left-to-right exactly like the HOF fold the
    * oracle mirrors. */
  private[operators] def cosine(qa: String, qb: String, n2a: String, n2b: String): Column =
    expr(s"cast(graft_dot($qa, $qb) as double)") /
      (sqrt(col(n2a)) * sqrt(col(n2b)))

  private[operators] def cosineSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(list_zip($a.q, $b.q), p -> p[1] * p[2])) AS DOUBLE) / (sqrt($a.n2) * sqrt($b.n2))"

  /** Deterministic ±1 sign projections: sign(i,j) from the parity of
    * md5("i_j")'s first byte — derivable independently by BOTH engines
    * (Spark embeds the driver-computed rows as literals; the oracle
    * recomputes them from DuckDB's own md5), so the projection count can
    * depend on the corpus without either side shipping a matrix to the
    * other. Multi-table LSH: [[NumTables]] independent hash tables of
    * `bitsForCount(n)` sign bits each — candidates collide in ANY table,
    * which is what lifts recall on soft clusters while each table's
    * bucket join stays a cheap hash shuffle. */
  private[operators] val NumTables = 8
  /** Bits/table floor — the configuration for corpora below ~2^10. */
  private[operators] val BaseBits = 3
  /** Bits/table ceiling: 8·24 = 192 projections; the cap binds only past
    * 2^30 vectors per table, where the right lever is more tables. */
  private[operators] val MaxBits = 24
  private[operators] val Dims = 64

  /** Occupancy-targeted bits per table: k(n) = clamp(floor(log₂ n) − 6,
    * [[BaseBits]], [[MaxBits]]), pinning expected bucket size n/2ᵏ to
    * [64, 128) at ANY corpus size. Fixed k is the classic LSH scale
    * trap — bucket size grows with the corpus, so candidates/query and
    * the probe join go Θ(n²) total (the 30× probe measured the 3-bit
    * build 8.2× slower on a 3× step, 769 s of task CPU) — while
    * occupancy-pinned k keeps candidates/query ≈ NumTables·128 CONSTANT
    * and the whole probe linear. Same law as the r11 phash banding fix:
    * the hash must carry ≥ log₂(n) − log₂(occupancy) bits or buckets
    * saturate. Integer-exact here (numberOfLeadingZeros); the oracle
    * mirrors it as floor(log2(count)) — log2 of an exact integer only
    * lands ON an integer at powers of two, where IEEE log2 is exact, so
    * floor() agrees across engines for every n. */
  private[operators] def bitsForCount(n: Long): Int = {
    val log2n = 63 - java.lang.Long.numberOfLeadingZeros(math.max(n, 1L))
    math.min(MaxBits, math.max(BaseBits, log2n - 6))
  }

  /** Oracle-side buckets: k from the same occupancy law (single-row `kk`
    * CTE), ±1 signs recomputed from DuckDB's md5 (identical strings and
    * parity rule as [[graft.functions.SrpBucketKeys.projection]]), sign
    * of the exact integer sum per projection, bits grouped into
    * per-table keys. */
  private def bucketCte: String =
    s"""kk AS (
       |  SELECT greatest($BaseBits,
       |           least($MaxBits, CAST(floor(log2(count(*))) AS INT) - 6)) AS k
       |  FROM n),
       |proj AS (
       |  SELECT r.i, d.j0 + 1 AS j,
       |         CASE WHEN CAST(concat('0x', substr(md5(concat(r.i, '_', d.j0)), 1, 2)) AS INT) % 2 = 1
       |              THEN 1 ELSE -1 END AS s
       |  FROM range(${NumTables * MaxBits}) r(i), range($Dims) d(j0), kk
       |  WHERE r.i < $NumTables * kk.k),
       |dims AS (
       |  SELECT vec_id, unnest(q) AS e, generate_subscripts(q, 1) AS j FROM n),
       |sig AS (
       |  SELECT d.vec_id, p.i,
       |         CASE WHEN sum(d.e * p.s) > 0 THEN '1' ELSE '0' END AS bit
       |  FROM dims d JOIN proj p ON p.j = d.j
       |  GROUP BY d.vec_id, p.i),
       |bucket AS (
       |  SELECT vec_id, i // kk.k AS tbl,
       |         string_agg(bit, '' ORDER BY i) AS bkt
       |  FROM sig, kk GROUP BY vec_id, i // kk.k)""".stripMargin

  /** Query set: every 100th vector — small enough to broadcast, large
    * enough to exercise ranking across the corpus. */
  private def isQuery(c: Column): Column = pmod(c, lit(100)) === 0

  /** Brute-force cosine top-5 per query vector (excluding self), ranked by
    * (cosine desc, vec_id) — the exact baseline every ANN variant is
    * measured against. No broadcast hint on the query side: it is a fixed
    * fraction of the corpus (every 100th vector), so a mandatory
    * broadcast would grow linearly with corpus size — the same
    * scale-killer class as per-user broadcasts. AQE broadcasts it at
    * small scale on its own and falls back to a shuffled join once it
    * outgrows the threshold. */
  def similarityTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    exactTopk(spark, dir).orderBy($"query_id", $"rk")
  }

  /** Memoized, PERSISTED exact brute-force top-5 `(query_id, neighbor_id,
    * cos_sim, rk)` — the ground-truth side of every ANN acceptance gate.
    * Before memoization the O(n²/100) score join re-ran per consumer AND
    * per bench round: `similarity_recall_report` recorded runs
    * [30.6, 23.0, 5.04] in the r10 ledger because each run re-drove the
    * exact side plus three ANN re-ranks from scratch. Now the heavy join
    * runs once per (session, dir); the cached result is #queries×5 rows
    * (corpus/20), bounded and cheap to hold. */
  private[graft] def exactTopk(spark: SparkSession, dir: String): DataFrame =
    Stages.memo(spark, s"exacttopk:$dir") {
      import spark.implicits._
      val n = quantized(spark, dir)
      val queries = n.filter(isQuery($"vec_id"))
        .select($"vec_id".as("query_id"), $"q".as("qq"), $"n2".as("qn2"))
      val scored = queries.join(n, $"query_id" =!= $"vec_id")
        .select($"query_id", $"vec_id".as("neighbor_id"),
          cosine("qq", "q", "qn2", "n2").as("cos_sim"))
      val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"neighbor_id".asc)
      scored.withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
        .persist()
    }

  val similarityTopkSql: String =
    s"""WITH $quantizedCte,
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |         ${cosineSql("a", "b")} AS cos_sim
       |  FROM n a JOIN n b ON a.vec_id % 100 = 0 AND a.vec_id <> b.vec_id)
       |SELECT query_id, neighbor_id, cos_sim, rk FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
       |  FROM scored) t
       |WHERE rk <= 5
       |ORDER BY query_id, rk""".stripMargin

  /** ANN via multi-table sign-random-projection LSH: candidates = corpus
    * vectors colliding with the query in any of the 8 tables'
    * occupancy-sized buckets ([[bitsForCount]] — bits grow with log₂ n
    * so expected bucket size stays 64–128 at any corpus size); exact
    * cosine re-rank, top-3. The bucket probe is a plain hash equi-join
    * on (tbl, bkt) — no broadcast hint, since the query bucket side is
    * ×8 of a corpus fraction and grows with the corpus; AQE picks
    * broadcast at small scale and shuffle at large.
    *
    * Signatures come from ONE codegen'd
    * [[graft.functions.SrpBucketKeys]] call per vector (r15): the
    * previous per-bit column tower ran 8·k separate `graft_dot(q,
    * array(±1L×64))` calls whose 64-element literal arrays codegen
    * re-materialized per row per call — measured 0.55 ms/vector per
    * signature pass, re-paid by every plan branch that read the
    * signature column, and the r15 isolation triangle showed it
    * super-linear (34 → 116 → 1,066 task-CPU-s on 10×/30×/100×) purely
    * from that allocation traffic. The kernel emits the identical
    * candidate sets (same md5-parity projections, same exact-integer
    * `dot > 0` predicate, bucket key = the same bit string read as an
    * integer), so the oracle's string-bucket CTE still matches the
    * returned top-3 exactly. */
  def similarityAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    annTop3(spark, dir, "lsh") {
      val n = quantized(spark, dir)
      // the count is one cheap action against the memoized+persisted
      // quantized cache (bounded driver state: a single long), and it is
      // what makes the index SELF-SIZING instead of config-sized
      val bits = bitsForCount(n.count())
      val buckets = n.select($"vec_id",
          posexplode(expr(s"graft_srp_keys(q, $NumTables, $bits)")))
        .select($"vec_id", $"pos".as("tbl"), $"col".as("bkt"))
      val qBuckets = buckets.filter(isQuery($"vec_id"))
        .select($"vec_id".as("query_id"), $"tbl", $"bkt")
      val cand = qBuckets.join(buckets, Seq("tbl", "bkt"))
        .filter($"query_id" =!= $"vec_id")
        .select($"query_id", $"vec_id".as("neighbor_id")).distinct()
      val scored = cand
        .join(n.select($"vec_id".as("query_id"), $"q".as("qq"), $"n2".as("qn2")), "query_id")
        .join(n.select($"vec_id".as("neighbor_id"), $"q", $"n2"), "neighbor_id")
        .select($"query_id", $"neighbor_id", cosine("qq", "q", "qn2", "n2").as("cos_sim"))
      val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"neighbor_id".asc)
      scored.withColumn("rk", row_number().over(w)).filter($"rk" <= 3)
    }
  }

  /** Memoized+PERSISTED per-variant top-3 ANN result, with the total
    * `orderBy` applied OUTSIDE the cache (cached partition order is not
    * contractual). Each variant's result is #queries×3 rows — an index
    * PROBE artifact that three consumers read (the variant's own query
    * and both recall scorecards), and before memoization each consumer
    * re-ran the candidate join + window re-rank per bench round. */
  private def annTop3(spark: SparkSession, dir: String, variant: String)(
      build: => DataFrame): DataFrame = {
    import spark.implicits._
    Stages.memo(spark, s"annres:$variant:$dir") { build.persist() }
      .orderBy($"query_id", $"rk")
  }

  /** IVF-style ANN: a coarse quantizer of 8 deterministic pivot vectors
    * (every vec_id ≡ 7 mod 64 — seedless, engine-independent), each corpus
    * vector assigned to its max-cosine pivot (one inverted list per
    * pivot), queries probing their top-4 pivots' lists, exact re-rank
    * top-3. This is the other classic sub-quadratic search shape next to
    * LSH: at corpus scale the probe is a hash join on the (bounded)
    * pivot id against lists holding ~n/K vectors, and the pivot set —
    * genuinely bounded, unlike per-user aggregates — is the one join
    * side that SHOULD be broadcast.
    *
    * Measured on the near-UNIFORM test embeddings (IVF's worst case —
    * untrained pivots on an unclustered sphere partition nearly at
    * random): recall@3 = 0.47/0.73/0.93 at nprobe 3/4/6 with 8 pivots;
    * more fixed pivots only hurt (recall ≈ scanned fraction). nprobe=4
    * is the chosen point. A production IVF trains centroids with k-means
    * ([[AnomalyOps]] has the loop) and probes fewer, tighter lists;
    * fixed pivots keep the oracle exact. */
  /** Shared IVF candidate generation (query_id, neighbor_id): deterministic
    * pivots (vec_id ≡ 7 mod 64 — pivot COUNT scales with the corpus, so
    * inverted-list size stays ~64 and the within-list work stays linear
    * overall), max-cosine assignment via one partial+final aggregation (a
    * window would sort-shuffle the whole corpus; max_by only shuffles
    * partials), queries probing their top-`nprobe` pivots' lists through a
    * plain hash equi-join on pivot_id. Reused by [[similarityIvf]] (exact
    * re-rank) and [[similarityIvfPq]] (ADC re-rank) — and memoized +
    * persisted per (session, dir, nprobe) so the second consumer reads
    * the tiny cached pair list instead of re-running the assignment
    * aggregation. Note the corpus-density pivots make ASSIGNMENT cost
    * n·(n/64) dot products — fine distributed work at test scale, but at
    * real 100 TB scale the right coarse quantizer is the TRAINED fixed-K
    * centroid set ([[similarityIvfTrained]]), which prices assignment at
    * K·n; the untrained variant exists for oracle exactness. */
  /** Deterministic pivot set (vec_id ≡ 7 mod 64) over the shared
    * quantized stage. */
  private def ivfPivots(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    quantized(spark, dir).filter(pmod($"vec_id", lit(64)) === 7)
      .select($"vec_id".as("pivot_id"), $"q".as("pq"), $"n2".as("pn2"))
  }

  /** Memoized max-cosine pivot assignment `(vec_id, pivot_id)` — the
    * coarse-quantizer cell of every corpus vector, shared by
    * [[ivfCandidates]] (inverted lists) and
    * [[DedupOps.dedupSemanticPivots]] (cluster ids). n skinny rows,
    * persisted; the scoring crossJoin behind it runs once per
    * (session, dir). */
  private[graft] def ivfAssign(spark: SparkSession, dir: String): DataFrame =
    Stages.memo(spark, s"ivfassign:$dir") {
      import spark.implicits._
      quantized(spark, dir).crossJoin(broadcast(ivfPivots(spark, dir)))
        .select($"vec_id", $"pivot_id", cosine("q", "pq", "n2", "pn2").as("pcos"))
        .groupBy($"vec_id")
        .agg(max_by($"pivot_id", struct($"pcos", -$"pivot_id")).as("pivot_id"))
        .persist()
    }

  private[graft] def ivfCandidates(
      spark: SparkSession, dir: String, nprobe: Int = 4): DataFrame = Stages.memo(
      spark, s"ivfcand:$dir:$nprobe") {
    import spark.implicits._
    // probe ranking scores only the QUERY rows (1% of the corpus) against
    // the pivots — the full-corpus scoring lives once behind [[ivfAssign]]
    val qscore = quantized(spark, dir).filter(isQuery($"vec_id"))
      .crossJoin(broadcast(ivfPivots(spark, dir)))
      .select($"vec_id", $"pivot_id", cosine("q", "pq", "n2", "pn2").as("pcos"))
    val wProbe = Window.partitionBy($"vec_id").orderBy($"pcos".desc, $"pivot_id".asc)
    val probes = qscore
      .withColumn("rk", row_number().over(wProbe)).filter($"rk" <= nprobe)
      .select($"vec_id".as("query_id"), $"pivot_id")
    probes.join(ivfAssign(spark, dir), "pivot_id")
      .filter($"query_id" =!= $"vec_id")
      .select($"query_id", $"vec_id".as("neighbor_id"))
      .persist()
  }

  /** Shared pivot-assignment CTE prefix (piv → pscore → assign) — the
    * ONE oracle-side statement of the pivot rule (pivot density
    * `vec_id % 64 = 7`, max-cosine assignment, smallest-pivot-id
    * tie-break), reused by [[ivfCandSql]] and
    * `DedupOps.dedupSemanticSql` exactly as the Spark side shares the
    * memoized [[ivfAssign]] stage. Keeping one copy means a change to
    * the pivot rule cannot silently diverge between the IVF oracles and
    * the semantic-dedup oracle. */
  private[operators] lazy val assignCte: String =
    s"""piv AS (SELECT vec_id, q, n2 FROM n WHERE vec_id % 64 = 7),
       |pscore AS (
       |  SELECT v.vec_id, p.vec_id AS pivot_id, ${cosineSql("v", "p")} AS pcos
       |  FROM n v CROSS JOIN piv p),
       |assign AS (
       |  SELECT vec_id, pivot_id FROM (
       |    SELECT vec_id, pivot_id, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY pcos DESC, pivot_id) AS rk
       |    FROM pscore) t WHERE rk = 1)""".stripMargin

  /** Oracle-side counterpart of [[ivfCandidates]]: [[assignCte]] plus
    * the `probes`/`cand` CTEs, shared by the IVF and IVF-PQ oracles. */
  private lazy val ivfCandSql: String =
    s"""$assignCte,
       |probes AS (
       |  SELECT vec_id AS query_id, pivot_id FROM (
       |    SELECT vec_id, pivot_id, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY pcos DESC, pivot_id) AS rk
       |    FROM pscore WHERE vec_id % 100 = 0) t WHERE rk <= 4),
       |cand AS (
       |  SELECT pr.query_id, a.vec_id AS neighbor_id
       |  FROM probes pr JOIN assign a USING (pivot_id)
       |  WHERE a.vec_id <> pr.query_id)""".stripMargin

  def similarityIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    annTop3(spark, dir, "ivf") {
      val n = quantized(spark, dir)
      val scored = ivfCandidates(spark, dir)
        .join(n.select($"vec_id".as("query_id"), $"q".as("qq"), $"n2".as("qn2")), "query_id")
        .join(n.select($"vec_id".as("neighbor_id"), $"q", $"n2"), "neighbor_id")
        .select($"query_id", $"neighbor_id", cosine("qq", "q", "qn2", "n2").as("cos_sim"))
      val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"neighbor_id".asc)
      scored.withColumn("rk", row_number().over(w)).filter($"rk" <= 3)
    }
  }

  lazy val similarityIvfSql: String =
    s"""WITH $quantizedCte,
       |$ivfCandSql,
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id, ${cosineSql("a", "b")} AS cos_sim
       |  FROM cand c JOIN n a ON a.vec_id = c.query_id
       |              JOIN n b ON b.vec_id = c.neighbor_id)
       |SELECT query_id, neighbor_id, cos_sim, rk FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
       |  FROM scored) t
       |WHERE rk <= 3
       |ORDER BY query_id, rk""".stripMargin

  /** IVF with TRAINED centroids: the same probe/re-rank shape as
    * [[similarityIvf]], but the coarse quantizer is a seed-fixed MLlib
    * k-means (k=16, the loop [[AnomalyOps]] also uses) instead of fixed
    * pivot vectors. Trained centroids partition by the data's actual
    * geometry, so nprobe=4 of 16 lists scans ~25% of the corpus yet
    * recovers most true neighbors (the fixed-pivot variant needs 4 of 8
    * lists = 50% for recall 0.73 — recall ≈ scanned fraction when pivots
    * ignore geometry). No DuckDB oracle (model-based, like
    * `anomaly_kmeans`): DuckDB has no k-means, and re-implementing Lloyd
    * iterations in SQL would test the oracle, not the operator; the test
    * suite asserts a recall floor against `similarity_topk` instead.
    *
    * Scale notes: training is MLlib's iterative map+treeAggregate over
    * cached features; the k centroid arrays are a genuinely BOUNDED
    * broadcast (k rows, independent of corpus size); list probing is a
    * hash equi-join on pivot_id; assignment reuses the model's own
    * transform (one narrow map).
    *
    * `nprobe` is the recall/cost dial a real ANN service tunes: each
    * probed list adds ~n/k candidate re-ranks per query, so cost grows
    * linearly in nprobe while recall saturates. Measured on the sf0.001
    * test embeddings (K(500)=16, multi-assignment ×2): recall@3 = 0.93 /
    * 1.00 / 1.00 at nprobe 4/6/8 — the registered query ships nprobe=4,
    * and the suite pins the curve's shape by asserting monotonic recall
    * and ≥0.85 at nprobe 4, ≥0.90 at 8. At larger corpora K grows as
    * √(n/2) (see [[kForCount]]) so the scanned fraction nprobe·2/K —
    * and with it the probe's cost share — FALLS with scale instead of
    * staying a constant half of the corpus. */
  def similarityIvfTrained(spark: SparkSession, dir: String): DataFrame =
    annTop3(spark, dir, "ivf_trained") {
      similarityIvfTrainedProbe(spark, dir, nprobe = 4)
    }

  /** Trained-quantizer cell count: K(n) = clamp(⌈√(n/2)⌉, 16, 256).
    * Fixed K=16 was the IVF twin of the fixed-bits LSH trap: cell size
    * n/K grows with the corpus, so the probe re-ranks nprobe·multi/K =
    * HALF the corpus per query — Θ(n²) total (the 30× probe measured
    * the trained-probe stage 4.5× slower on a 3× step, 37 s at sf3).
    * √n-sizing is the textbook IVF balance (assignment n·K and probe
    * n/100·nprobe·n/K meet at K ≈ √n); the 256 cap bounds the
    * assignment's n·K row expansion — past it (n ≳ 130k vectors,
    * ~260× the fixture corpus) probe growth re-enters at 1/32 of the fixed-16
    * constant, and the documented next lever is a hierarchical
    * two-level quantizer, not a bigger flat K. */
  private[graft] def kForCount(n: Long): Int =
    math.min(256, math.max(16, math.ceil(math.sqrt(n / 2.0)).toInt))

  /** Memoized K(n) spherical-kmeans centroids `(pivot_id, c)` — the
    * TRAINED coarse quantizer, shared by [[similarityIvfTrained]] and
    * [[DedupOps.dedupSemantic]] (the SemDeDup paper's k-means step).
    * Spherical: features are L2-normalized before training so Euclidean
    * cells align with the cosine metric both consumers rank by.
    * Seed-fixed and memoized per (session, dir): one training pass
    * feeds every consumer; the result is a K-row LOCAL frame whose
    * broadcast is bounded by K ≤ 256, never by the corpus.
    *
    * Training is SAMPLE-CAPPED (the standard IVF recipe — centroids
    * need ~10²-10³ points each, not the corpus): when n > 128·K the fit
    * reads every s-th vector (deterministic vec_id stride, no RNG), so
    * the Lloyd iterations cost O(128·K²·d) = O(64·n·d) TOTAL in the
    * pre-cap regime and O(1) past it — the training pass stays linear
    * at any corpus size. At sf0.001 (n=500 < 128·16) nothing is
    * sampled and K=16, so the committed goldens and recall floors pin
    * the exact historical model.
    *
    * coalesce(2): the fitted sample is ≤ 128·256 ≈ 33k rows at any
    * corpus size; MLlib runs ~2 jobs per iteration, so task count per
    * job — not data volume — is the cost. Random init replaces
    * k-means||'s ~5 extra init rounds; with the fixed seed the
    * centroids are still deterministic, and the suites' recall floors
    * pin the quality. */
  private[graft] def kmeansCentroids(spark: SparkSession, dir: String): DataFrame =
    Stages.memo(spark, s"kmcent:$dir") {
      import spark.implicits._
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.linalg.Vectors
      val all = Tables.embeddings(spark, dir)
      val n = all.count()
      val k = kForCount(n)
      val stride = math.max(1L, n / (128L * k))
      val features = all
        .select($"vec_id", $"embedding")
        .filter(pmod($"vec_id", lit(stride)) === 0)
        .as[(Long, Array[Float])]
        .map { case (id, arr) =>
          val d = arr.map(_.toDouble)
          val norm = math.sqrt(d.map(x => x * x).sum)
          (id, Vectors.dense(d.map(_ / norm)))
        }
        .toDF("vec_id", "features")
        .coalesce(2)
        .persist()
      val model = new KMeans().setK(k).setSeed(42L).setMaxIter(10)
        .setInitMode("random")
        .setFeaturesCol("features").fit(features)
      // features only feed the (just-completed) training iterations —
      // release the cache instead of leaking one copy per call. BLOCKING:
      // an async unpersist here defers block-removal churn past the
      // prewarm window onto whichever bench query runs next (the r9
      // "inflated first alphabetical queries" failure mode)
      features.unpersist(blocking = true)
      model.clusterCenters.zipWithIndex
        .map { case (c, i) => (i, c.toArray) }.toSeq.toDF("pivot_id", "c")
    }

  /** Per-vector squared distance to each trained centroid: a narrow ×K
    * expansion against the bounded centroid broadcast. The per-pair
    * distance is the codegen'd `graft_l2sq` kernel — bit-identical
    * left-to-right arithmetic to the HOF fold it replaced, but a tight
    * primitive loop: with the √n-sized K the n·K score stream is the
    * hot loop of the `kmeans_assign` stage, exactly the case that made
    * `graft_dot` a kernel. `queriesOnly` restricts the scored side to
    * the query subset. */
  private def kmeansCentScores(
      spark: SparkSession, dir: String, queriesOnly: Boolean): DataFrame = {
    import spark.implicits._
    val base0 = Tables.embeddings(spark, dir)
    val base = if (queriesOnly) base0.filter(isQuery($"vec_id")) else base0
    base
      .select($"vec_id", expr("cast(embedding as array<double>)").as("e0"))
      .select($"vec_id",
        expr("transform(e0, x -> x / sqrt(aggregate(e0, 0D, (a, v) -> a + v * v)))")
          .as("e"))
      .crossJoin(broadcast(kmeansCentroids(spark, dir)))
      .select($"vec_id", $"pivot_id", expr("graft_l2sq(e, c)").as("d2"))
  }

  /** Memoized single-best trained-centroid assignment
    * `(vec_id, cluster_id)` — the O(K·n) coarse step with a K-bounded
    * broadcast, via one partial+final max_by aggregation (a window would
    * sort-shuffle the whole corpus). The scale-correct cluster id for
    * [[DedupOps.dedupSemantic]]. */
  private[graft] def kmeansAssign(spark: SparkSession, dir: String): DataFrame =
    Stages.memo(spark, s"kmassign:$dir") {
      import spark.implicits._
      kmeansCentScores(spark, dir, queriesOnly = false)
        .groupBy($"vec_id")
        .agg(max_by($"pivot_id", struct(-$"d2", -$"pivot_id")).as("cluster_id"))
        .persist()
    }

  private[graft] def similarityIvfTrainedProbe(
      spark: SparkSession, dir: String, nprobe: Int): DataFrame = {
    import spark.implicits._
    val n = quantized(spark, dir)
    // inverted lists with MULTI-ASSIGNMENT factor 2: each corpus vector
    // is indexed under its two nearest centroids (the classic IVF recall
    // lever that does NOT raise nprobe). Top-2 via two partial+final
    // max_by aggregations — a window would sort-shuffle the whole corpus.
    val cscore = kmeansCentScores(spark, dir, queriesOnly = false)
    val best = max_by($"pivot_id", struct(-$"d2", -$"pivot_id"))
    val a1 = kmeansAssign(spark, dir)
      .withColumnRenamed("cluster_id", "pivot_id")
    val a2 = cscore.join(a1.withColumnRenamed("pivot_id", "p1"), "vec_id")
      .filter($"pivot_id" =!= $"p1")
      .groupBy($"vec_id").agg(best.as("pivot_id"))
    val assign = a1.unionByName(a2)
    // query probes: top-nprobe lists by centroid distance (queries × k
    // rows — tiny, the window is per-query over k entries)
    val pscore = kmeansCentScores(spark, dir, queriesOnly = true)
    val wProbe = Window.partitionBy($"vec_id").orderBy($"d2".asc, $"pivot_id".asc)
    val probes = pscore
      .withColumn("rk", row_number().over(wProbe)).filter($"rk" <= nprobe)
      .select($"vec_id".as("query_id"), $"pivot_id")
    val cand = probes.join(assign, "pivot_id")
      .filter($"query_id" =!= $"vec_id")
      .select($"query_id", $"vec_id".as("neighbor_id")).distinct()
    val scored = cand
      .join(n.select($"vec_id".as("query_id"), $"q".as("qq"), $"n2".as("qn2")), "query_id")
      .join(n.select($"vec_id".as("neighbor_id"), $"q", $"n2"), "neighbor_id")
      .select($"query_id", $"neighbor_id", cosine("qq", "q", "qn2", "n2").as("cos_sim"))
    val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"neighbor_id".asc)
    // no final orderBy: the memoizing wrapper (annTop3) sorts after the
    // cache; the nprobe-sweep spec compares sets
    scored.withColumn("rk", row_number().over(w)).filter($"rk" <= 3)
  }

  lazy val similarityAnnLshSql: String =
    s"""WITH $quantizedCte,
       |$bucketCte,
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
       |  FROM bucket a JOIN bucket b ON a.tbl = b.tbl AND a.bkt = b.bkt
       |  WHERE a.vec_id % 100 = 0 AND a.vec_id <> b.vec_id),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id, ${cosineSql("a", "b")} AS cos_sim
       |  FROM cand c JOIN n a ON a.vec_id = c.query_id
       |              JOIN n b ON b.vec_id = c.neighbor_id)
       |SELECT query_id, neighbor_id, cos_sim, rk FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
       |  FROM scored) t
       |WHERE rk <= 3
       |ORDER BY query_id, rk""".stripMargin

  /** Symmetric int8 quantization of the embedding column
    * (`embedding_quantize_int8`) — the storage-compression half of the
    * ANN family: per-vector absmax scale, `q = ⌊x·127/absmax + ½⌋`, plus
    * the reconstruction quality a compression pass must report
    * (checksum, L1 mass, max absolute error). At 100 TB this is the op
    * that turns a 256 GB float corpus into 64 GB before indexing.
    *
    * Everything is per-row HOFs over the array column — a narrow
    * projection, no shuffle, fully codegen; the only aggregate is the
    * caller's. Determinism discipline: inputs ride the same
    * ⌊x·10⁶⌋ fixed-point grid as the cosine family, the quantizer is
    * spelled `floor(· + 0.5)` (identical IEEE ops on both engines —
    * `round()` half-breaking differs between engines), and max() over
    * elements is order-independent, so every output column is
    * bit-stable. Zero vectors are guarded by `greatest(absmax, 1)`. */
  def embeddingQuantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    quantized(spark, dir)
      .withColumn("maxabs_m",
        expr("greatest(array_max(transform(q, x -> abs(x))), 1L)"))
      // every arithmetic step is forced to DOUBLE: a bare `127.0`
      // literal is DECIMAL(4,1) to Spark's parser, and decimal division
      // truncates to a scale-6 grid that DuckDB's double math doesn't —
      // identical IEEE double trees on both engines or the hash flaps
      .withColumn("q8",
        expr("""transform(q, x -> cast(floor(
            (cast(x as double) * 127.0D) / cast(maxabs_m as double) + 0.5D) as int))"""))
      .select(
        $"vec_id",
        ($"maxabs_m".cast("double") / 1000000.0).as("scale"),
        expr("cast(aggregate(q8, 0L, (acc, x) -> acc + x) as bigint)").as("q8_sum"),
        expr("cast(aggregate(q8, 0L, (acc, x) -> acc + abs(x)) as bigint)").as("q8_l1"),
        (expr("""array_max(zip_with(q, q8, (x, v) ->
            abs(cast(x as double)
                - (cast(v as double) * cast(maxabs_m as double)) / 127.0D)))""")
          / 1000000.0).as("max_abs_err"))
      .orderBy($"vec_id")
  }

  lazy val embeddingQuantizeInt8Sql: String =
    s"""WITH $quantizedCte,
       |m AS (
       |  SELECT vec_id, q,
       |         greatest(list_max(list_transform(q, x -> abs(x))), 1) AS maxabs_m
       |  FROM n),
       |qq AS (
       |  SELECT vec_id, q, maxabs_m,
       |         list_transform(q, x -> CAST(floor(
       |           (CAST(x AS DOUBLE) * CAST(127 AS DOUBLE))
       |             / CAST(maxabs_m AS DOUBLE) + 0.5) AS INT)) AS q8
       |  FROM m)
       |SELECT vec_id,
       |  CAST(maxabs_m AS DOUBLE) / 1000000.0 AS scale,
       |  CAST(list_sum(q8) AS BIGINT) AS q8_sum,
       |  CAST(list_sum(list_transform(q8, x -> abs(x))) AS BIGINT) AS q8_l1,
       |  list_max(list_transform(q,
       |    x -> abs(CAST(x AS DOUBLE)
       |             - (CAST(CAST(floor(
       |                 (CAST(x AS DOUBLE) * CAST(127 AS DOUBLE))
       |                   / CAST(maxabs_m AS DOUBLE) + 0.5) AS INT) AS DOUBLE)
       |                * CAST(maxabs_m AS DOUBLE))
       |               / CAST(127 AS DOUBLE)))) / 1000000.0 AS max_abs_err
       |FROM qq
       |ORDER BY vec_id""".stripMargin

  /** Exact embedding covariance (`embedding_covariance`) — the statistics
    * a whitening / PCA / OPQ-rotation prep step consumes, computed over
    * the fixed-point vectors so every sum is exact BIGINT and the result
    * hash-compares across engines (the double-sum order-dependence the
    * suite bans never arises). Emits the upper triangle of the 64×64
    * moment matrix: per (i, j) the count, Σqᵢqⱼ, Σqᵢ, Σqⱼ and the
    * covariance derived from them in one correctly-rounded double step.
    *
    * Scale shape: ONE pass through the custom
    * [[graft.functions.MomentMatrix]] aggregate (`graft_moments(q, 64)`,
    * the SURVEY §4.2 aggregation tier, same ladder as `graft_topk`):
    * each row is a tight d²/2 multiply-accumulate into a flat long
    * array, the partial state per partition is one 2145-long buffer
    * (~17 KB), and the shuffle carries ONE buffer per map partition
    * regardless of corpus size. The r10 composable form (a Generate
    * fanning every vector into its 2080 (i, j, qᵢqⱼ) structs before the
    * partial agg could collapse anything — 41.6M generated rows, 12.6 s
    * at the sf1 probe) is retired; long addition wraps identically in
    * both, so results are bit-equal. The (i, j) grid is then unpacked
    * from the single result row. The cross moments Σqᵢ·Σqⱼ exceed
    * BIGINT at ~10^7 rows, so the final arithmetic runs in
    * DECIMAL(38,0) and rounds to double exactly once. */
  def embeddingCovariance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    quantized(spark, dir)
      .agg(expr("graft_moments(q, 64)").as("m"))
      .select(explode(expr(
        """flatten(transform(sequence(0, 63), i ->
          |  transform(sequence(i, 63), j -> named_struct('i', i, 'j', j))))""".stripMargin))
        .as("t"), $"m")
      .select($"t.i".as("i"), $"t.j".as("j"), $"m.n".as("n"),
        // row-major upper triangle: slot(i, j) = i·64 − i(i−1)/2 + (j − i)
        expr("""element_at(m.p,
               cast(t.i * 64 - (t.i * (t.i - 1)) div 2 + (t.j - t.i) + 1 as int))""")
          .as("s_ij"),
        expr("element_at(m.s, cast(t.i + 1 as int))").as("s_i"),
        expr("element_at(m.s, cast(t.j + 1 as int))").as("s_j"))
      // empty corpus → zero rows, matching both the oracle's grouped form
      // and the retired explode form (the global agg always yields one
      // state row, which would otherwise unpack into 2080 n=0 rows with a
      // 0/0 covariance)
      .filter($"n" > 0)
      .select($"i", $"j", $"n", $"s_ij", $"s_i", $"s_j",
        // (n·Σqᵢqⱼ − Σqᵢ·Σqⱼ) / (n² · 10¹²): numerator exact in
        // DECIMAL(38,0), denominator a product of exactly-representable
        // doubles — one rounding on each side of the division, identical
        // IEEE trees in both engines
        ((($"n".cast("decimal(38,0)") * $"s_ij" -
            $"s_i".cast("decimal(38,0)") * $"s_j").cast("double")) /
          (($"n" * $"n").cast("double") * lit(1e12))).as("cov"))
      .orderBy($"i", $"j")
  }

  lazy val embeddingCovarianceSql: String =
    s"""WITH $quantizedCte,
       |terms AS (
       |  SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
       |         q[CAST(i + 1 AS INT)] * q[CAST(j + 1 AS INT)] AS p,
       |         q[CAST(i + 1 AS INT)] AS xi, q[CAST(j + 1 AS INT)] AS xj
       |  FROM n, range(0, 64) t1(i), range(0, 64) t2(j)
       |  WHERE i <= j)
       |SELECT i, j, count(*) AS n,
       |  CAST(sum(p) AS BIGINT) AS s_ij,
       |  CAST(sum(xi) AS BIGINT) AS s_i,
       |  CAST(sum(xj) AS BIGINT) AS s_j,
       |  CAST(CAST(count(*) AS HUGEINT) * CAST(sum(p) AS BIGINT)
       |       - CAST(CAST(sum(xi) AS BIGINT) AS HUGEINT)
       |         * CAST(sum(xj) AS BIGINT) AS DOUBLE)
       |    / (CAST(count(*) * count(*) AS DOUBLE) * 1e12) AS cov
       |FROM terms
       |GROUP BY i, j
       |ORDER BY i, j""".stripMargin

  /** PCA projection (`embedding_pca_project`) — the dimensionality-
    * reduction / whitening step [[embeddingCovariance]] exists to feed:
    * fit the top-2 principal components and project every embedding onto
    * them, the prep a visualizer, an OPQ rotation, or a cheap pre-filter
    * index consumes.
    *
    * Fit is DRIVER-side on the BOUNDED model: the covariance query
    * reduces the corpus to 2080 exact-integer cells (the only
    * corpus-sized work, already map-side-combined), the driver folds
    * them into a 64×64 matrix and runs 200 deterministic power-iteration
    * steps (plus one Hotelling deflation for the second component) —
    * microseconds on 4 KB of state, the same scale contract as
    * `text_logreg_train`'s five driver doubles. Projection is one
    * narrow codegen'd `aggregate` fold per row with the (means, v₁, v₂)
    * arrays inlined as literals — shuffle-free, broadcast-free.
    *
    * No DuckDB oracle (model-based, like `similarity_ivf_trained`):
    * eigenvectors come from iterative float arithmetic with a sign
    * convention, exactly what the cross-engine hash compare bans. The
    * suite asserts the invariants instead: sample variance along pc1
    * ≈ λ̂1 ≥ λ̂2 ≈ var(pc2), λ̂1 ≥ the largest coordinate variance,
    * centering (mean(pcₖ) ≈ 0), and orthogonality (⟨v₁,v₂⟩ ≈ 0). */
  def embeddingPcaProject(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (mu, v1, _, v2, _) = pcaModel(spark, dir)
    def litArr(a: Array[Double]): String =
      a.map(x => s"${x}D").mkString("array(", ", ", ")")
    quantized(spark, dir)
      .select($"vec_id",
        expr(s"""aggregate(zip_with(q, zip_with(${litArr(mu)}, ${litArr(v1)},
                  (m, w) -> named_struct('m', m, 'w', w)),
                  (x, t) -> (cast(x as double) / 1000000.0D - t.m) * t.w),
                0D, (acc, z) -> acc + z)""").as("pc1"),
        expr(s"""aggregate(zip_with(q, zip_with(${litArr(mu)}, ${litArr(v2)},
                  (m, w) -> named_struct('m', m, 'w', w)),
                  (x, t) -> (cast(x as double) / 1000000.0D - t.m) * t.w),
                0D, (acc, z) -> acc + z)""").as("pc2"))
      .orderBy($"vec_id")
  }

  /** The fitted (means, v1, λ1, v2, λ2), memoized so the covariance job
    * and the 64×64 eigen-solve run once per session/dir. */
  private[graft] def pcaModel(spark: SparkSession, dir: String)
      : (Array[Double], Array[Double], Double, Array[Double], Double) =
    Stages.memo(spark, s"pca:$dir") {
      import spark.implicits._
      val cells = embeddingCovariance(spark, dir)
        .select($"i", $"j", $"n", $"s_i", $"cov").collect()
      val d = 64
      val c = Array.ofDim[Double](d, d)
      val means = new Array[Double](d)
      cells.foreach { r =>
        val (i, j) = (r.getInt(0), r.getInt(1))
        val cov = r.getDouble(4)
        c(i)(j) = cov; c(j)(i) = cov
        if (i == j) means(i) = r.getLong(3).toDouble / r.getLong(2) / 1e6
      }
      def mul(v: Array[Double]): Array[Double] =
        Array.tabulate(d)(i => (0 until d).foldLeft(0.0)((a, j) => a + c(i)(j) * v(j)))
      def norm(v: Array[Double]): Double = math.sqrt(v.map(x => x * x).sum)
      def powerIterate(): (Array[Double], Double) = {
        var v = Array.fill(d)(1.0 / 8.0)
        (0 until 200).foreach { _ =>
          val w = mul(v); val n = norm(w)
          if (n > 0) v = w.map(_ / n)
        }
        // sign convention: first nonzero coordinate positive, so the fit
        // is reproducible across runs (power iteration is sign-blind)
        val s = v.find(math.abs(_) > 1e-12).map(x => math.signum(x)).getOrElse(1.0)
        v = v.map(_ * s)
        (v, v.zip(mul(v)).map { case (a, b) => a * b }.sum) // Rayleigh λ̂
      }
      val (e1, lam1) = powerIterate()
      // Hotelling deflation: C ← C − λ₁v₁v₁ᵀ, then the same iteration
      // converges to the second component
      (0 until d).foreach(i => (0 until d).foreach(j =>
        c(i)(j) -= lam1 * e1(i) * e1(j)))
      val (e2, lam2) = powerIterate()
      (means, e1, lam1, e2, lam2)
    }

  /** Product-quantization geometry: 64 dims split into [[PqM]] = 8
    * subspaces of [[PqSubDim]] = 8 dims; 16 codewords per subspace drawn
    * deterministically from the corpus (vec_id ≡ 5 mod 32, vec_id < 512 —
    * a BOUNDED codebook at any corpus size, unlike the pivot set which
    * deliberately scales). Each vector compresses to 8 one-byte codes. */
  private[operators] val PqM = 8
  private[operators] val PqSubDim = 8

  /** Per-subspace views of the quantized vectors: one (id, m, sub) row per
    * vector × subspace, `sub` the m-th 8-dim slice — a narrow Generate. */
  private def pqSubspaces(df: DataFrame, idCol: String): DataFrame = {
    val subs = (0 until PqM).map { m =>
      struct(lit(m).as("m"),
        expr(s"slice(q, ${m * PqSubDim + 1}, $PqSubDim)").as("sub"))
    }
    df.select(col(idCol), explode(array(subs: _*)).as("s"))
      .select(col(idCol), col("s.m").as("m"), col("s.sub").as("sub"))
  }

  /** IVF-PQ ANN (`similarity_ivfpq`) — the memory-scale variant of
    * [[similarityIvf]]: same coarse quantizer and candidate lists, but the
    * re-rank runs on Product-Quantization codes (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011) instead of the
    * raw vectors. Each corpus vector is encoded once to 8 subspace codes
    * (argmin L2 to 16 codewords per subspace); a query builds an 8×16
    * distance table of exact subspace dot products (ADC), and a neighbor's
    * approximate cosine is 8 table lookups — no full-vector math on the
    * candidate path.
    *
    * Scale shape: the codebook (128 tiny rows) is the ONE genuinely
    * bounded broadcast; encoding is a narrow per-(vec, subspace) HOF
    * argmin against the broadcast codeword arrays — no corpus-width
    * shuffle, no n×K expansion (the 16 candidate distances live inside
    * one `array_min(transform(...))` per row, and the winning struct
    * carries the codeword norm so reconstruction needs no second join).
    * At 100 TB the codes table is n×8 skinny integer rows (~1/32 of the
    * float corpus), and the ADC join touches only IVF candidates.
    *
    * Determinism: codewords ride the same ⌊x·10⁶⌋ fixed-point grid, so
    * distances, codes, and ADC dots are exact BIGINTs on both engines
    * (|sub·cw| ≤ 8·10¹², sums < 2⁵³ — exact in doubles too); the only
    * float ops are the final division and sqrt, identical IEEE trees.
    * Tie-breaks are total orders: (d2, code_id) for encoding,
    * (approx_cos desc, neighbor_id) for ranking. */
  def similarityIvfPq(spark: SparkSession, dir: String): DataFrame =
    annTop3(spark, dir, "ivfpq") {
      pqPipeline(spark, dir, pqCodebookFixed(spark, dir))
    }

  /** The corpus-drawn deterministic codebook `(m, cws)` (vec_id ≡ 5 mod
    * 32, vec_id < 512 → 16 codewords per subspace): the oracle-checkable
    * form, and the INIT for [[pqCodebookTrained]]. */
  private def pqCodebookFixed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cwBase = quantized(spark, dir)
      .filter(pmod($"vec_id", lit(32)) === 5 && $"vec_id" < 512)
      .select((($"vec_id" - 5) / 32).cast("int").as("code_id"), $"q")
    // per-subspace codeword array, code_id-sorted for a deterministic fold
    pqSubspaces(cwBase, "code_id")
      .groupBy($"m")
      .agg(sort_array(collect_list(struct($"code_id", $"sub".as("cw")))).as("cws"))
  }

  /** Lloyd-TRAINED per-subspace PQ codebooks (`similarity_ivfpq_trained`'s
    * model stage): 5 k-means iterations over the (vec, subspace) slices,
    * initialized from the deterministic corpus-drawn codebook so the
    * result is seed-free and reproducible. All 8 subspaces train
    * SIMULTANEOUSLY — one assignment join against the broadcast 128-row
    * codebook plus one (m, code, pos)-keyed mean aggregation per
    * iteration, instead of 8 separate single-subspace training jobs; the
    * driver only ever holds the 128×8-long codebook itself (a bounded
    * model, like the logreg weights), never corpus rows. Trained
    * codewords are re-quantized to the ⌊·+½⌋ integer grid so the encode/
    * ADC arithmetic stays the exact-BIGINT fold the fixed codebook uses.
    * Empty clusters keep their previous codeword (carryover, the
    * standard Lloyd guard). Memoized + persisted per (session, dir). */
  private[graft] def pqCodebookTrained(spark: SparkSession, dir: String): DataFrame =
    Stages.memo(spark, s"pqcbt:$dir") {
      import spark.implicits._
      // coalesce: the training set is (corpus × 8 subspaces) SKINNY rows
      // (16 k at sf0.1) — at 32 partitions each Lloyd pass schedules ~5
      // stages of near-empty tasks and fixed overhead dwarfs the math
      // (measured 16.5 s for the loop); 4 partitions keep the same plan
      // shape with 8× fewer tasks. The model stage is bounded-input by
      // construction — a 100 TB run trains on a sample, not the corpus.
      val subs = pqSubspaces(quantized(spark, dir).select($"vec_id", $"q"), "vec_id")
        .coalesce(4)
        .persist()
      try {
        var cb: Seq[(Int, Int, Seq[Long])] = pqCodebookFixed(spark, dir)
          .select($"m", explode($"cws").as("c"))
          .select($"m", $"c.code_id".as("code_id"), $"c.cw".as("cw"))
          .as[(Int, Int, Seq[Long])].collect().toSeq
        // 5 passes: the suite pins trained-ADC error ≤ fixed-codebook
        // error on a small pair sample, and fewer passes measurably miss
        // that bar (3 passes: 0.157 vs 0.133 at sf0.001; 5: 0.120) — the
        // codegen'd assignment below makes each pass ~1 s, so the full
        // budget costs less than one interpreted pass did
        for (_ <- 1 to 5) {
          // assignment via the codegen'd graft_dot, not a HOF argmin over
          // the codeword array: the interpreted transform/zip_with lambda
          // tower evaluated ~4 M boxed folds per pass (measured ~3 s/pass
          // of the 16.5 s loop). Flat broadcast join + one codegen'd
          // projection + partial-agg min_by computes the same argmin —
          // argmin_c Σ(x−c)² ≡ argmin_c (Σc² − 2⟨x,c⟩) since the Σx² term
          // is per-row constant; ties break on code_id exactly as the
          // struct array_min did, all in exact BIGINTs.
          val cwFlat = cb.map { case (m, c, cw) =>
            (m, c, cw, cw.map(x => x * x).sum)
          }.toDF("m", "code_id", "cw", "cn")
          val assigned = subs.join(broadcast(cwFlat), Seq("m"))
            .select($"m", $"vec_id", $"sub", $"code_id",
              ($"cn" - lit(2L) * expr("graft_dot(sub, cw)")).as("nd2"))
            .groupBy($"vec_id", $"m")
            .agg(min_by($"code_id", struct($"nd2", $"code_id")).as("code_id"),
              first($"sub").as("sub"))
          // per-dimension means as 8 inline avg(sub[i]) agg columns — one
          // (m, code_id) shuffle instead of posexplode + a (m, code, pos)
          // shuffle + a sort_array re-pack (measured: the extra stage was
          // ~1/3 of each Lloyd pass). avg over exact BIGINTs is
          // sum(long)/count — partition-order-free, so the re-quantized
          // codewords are unchanged.
          val dimAvgs = (0 until PqSubDim).map(i => avg(expr(s"sub[$i]")).as(s"mx$i"))
          val means = assigned.groupBy($"m", $"code_id")
            .agg(dimAvgs.head, dimAvgs.tail: _*)
            .select($"m", $"code_id",
              array((0 until PqSubDim).map(i =>
                expr(s"cast(floor(mx$i + 0.5) as bigint)")): _*).as("cw"))
            .as[(Int, Int, Seq[Long])].collect()
          val got = means.map(t => (t._1, t._2) -> t._3).toMap
          cb = cb.map { case (m, c, old) => (m, c, got.getOrElse((m, c), old)) }
        }
        cb.toDF("m", "code_id", "cw")
          .groupBy($"m")
          .agg(sort_array(collect_list(struct($"code_id", $"cw"))).as("cws"))
          .persist()
        // blocking: training is the last prewarm stage, and async
        // block-removal churn would otherwise bill to the first timed
        // bench query (the r9 failure mode the build-end unpersists fixed)
      } finally subs.unpersist(blocking = true)
    }

  /** IVF-PQ with the TRAINED codebooks (`similarity_ivfpq_trained`):
    * identical candidate generation, encoding, and ADC re-rank as
    * [[similarityIvfPq]] — only the codebook input changes. Model-based
    * → no SQL oracle (like `similarity_ivf_trained`); the suite asserts
    * the trained codebook's mean |ADC − exact| cosine error does not
    * regress vs the fixed codebook and recall@3 holds. */
  def similarityIvfPqTrained(spark: SparkSession, dir: String): DataFrame =
    annTop3(spark, dir, "ivfpq_trained") {
      pqPipeline(spark, dir, pqCodebookTrained(spark, dir))
    }

  private def pqPipeline(
      spark: SparkSession, dir: String, cwArr: DataFrame): DataFrame = {
    import spark.implicits._
    val n = quantized(spark, dir)
    // encode: per (vec, subspace) row, argmin-L2 codeword via a single
    // array_min over (d2, code_id, cn2) structs — struct ordering IS the
    // (d2, code_id) tie-break, and cn2 (codeword self-dot) rides along so
    // the reconstructed norm needs no codebook re-join
    val minCode = expr(
      """array_min(transform(cws, c -> named_struct(
        |  'd2', aggregate(zip_with(sub, c.cw, (x, y) -> (x - y) * (x - y)), 0L, (a, v) -> a + v),
        |  'code_id', c.code_id,
        |  'cn2', aggregate(zip_with(c.cw, c.cw, (x, y) -> x * y), 0L, (a, v) -> a + v))))""".stripMargin)
    val codes = pqSubspaces(n.select($"vec_id", $"q"), "vec_id")
      .join(broadcast(cwArr), Seq("m"))
      .select($"vec_id", $"m", minCode.as("s"))
      .select($"vec_id", $"m", $"s.code_id".as("code_id"), $"s.cn2".as("cn2"))
    // ||reconstruction||² per vector: sum of the 8 winning codeword norms
    val recon = codes.groupBy($"vec_id").agg(sum($"cn2").cast("double").as("rn2"))
    // ADC distance table: queries only (1% of corpus) × 8 subspaces × 16
    // codewords of exact partial dots
    val cwFlat = cwArr.select($"m", explode($"cws").as("c"))
      .select($"m", $"c.code_id".as("code_id"), $"c.cw".as("cw"))
    val dtab = pqSubspaces(
        n.filter(isQuery($"vec_id")).select($"vec_id".as("query_id"), $"q"), "query_id")
      .join(broadcast(cwFlat), Seq("m"))
      .select($"query_id", $"m", $"code_id",
        expr("aggregate(zip_with(sub, cw, (x, c) -> x * c), 0L, (a, v) -> a + v)").as("pdot"))
    val scored = ivfCandidates(spark, dir)
      .join(codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .join(dtab, Seq("query_id", "m", "code_id"))
      .groupBy($"query_id", $"neighbor_id")
      .agg(sum($"pdot").as("adc_dot"))
      .join(n.select($"vec_id".as("query_id"), $"n2".as("qn2")), "query_id")
      .join(recon.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .select($"query_id", $"neighbor_id",
        ($"adc_dot".cast("double") / (sqrt($"qn2") * sqrt($"rn2"))).as("approx_cos"))
    val w = Window.partitionBy($"query_id").orderBy($"approx_cos".desc, $"neighbor_id".asc)
    // no final orderBy: the memoizing wrapper (annTop3) sorts after the cache
    scored.withColumn("rk", row_number().over(w)).filter($"rk" <= 3)
  }

  lazy val similarityIvfPqSql: String =
    s"""WITH $quantizedCte,
       |cwb AS (
       |  SELECT CAST((vec_id - 5) // 32 AS INT) AS code_id, q
       |  FROM n WHERE vec_id % 32 = 5 AND vec_id < 512),
       |ms AS (SELECT unnest(range($PqM)) AS m),
       |cw AS (
       |  SELECT code_id, m, list_slice(q, m*$PqSubDim+1, m*$PqSubDim+$PqSubDim) AS cw
       |  FROM cwb CROSS JOIN ms),
       |subs AS (
       |  SELECT vec_id, m, list_slice(q, m*$PqSubDim+1, m*$PqSubDim+$PqSubDim) AS sub
       |  FROM n CROSS JOIN ms),
       |enc AS (
       |  SELECT s.vec_id, s.m, c.code_id,
       |    list_sum(list_transform(list_zip(s.sub, c.cw), p -> (p[1]-p[2])*(p[1]-p[2]))) AS d2
       |  FROM subs s JOIN cw c ON c.m = s.m),
       |codes AS (
       |  SELECT vec_id, m, code_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code_id) AS rk
       |    FROM enc) t
       |  WHERE rk = 1),
       |cwn AS (SELECT code_id, m, list_sum(list_transform(cw, x -> x*x)) AS cn2 FROM cw),
       |recon AS (
       |  SELECT c.vec_id, CAST(sum(w.cn2) AS DOUBLE) AS rn2
       |  FROM codes c JOIN cwn w ON w.m = c.m AND w.code_id = c.code_id GROUP BY c.vec_id),
       |dtab AS (
       |  SELECT s.vec_id AS query_id, s.m, c.code_id,
       |    list_sum(list_transform(list_zip(s.sub, c.cw), p -> p[1]*p[2])) AS pdot
       |  FROM subs s JOIN cw c ON c.m = s.m WHERE s.vec_id % 100 = 0),
       |$ivfCandSql,
       |scored AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |    CAST(sum(dt.pdot) AS DOUBLE) / (sqrt(qn.n2) * sqrt(r.rn2)) AS approx_cos
       |  FROM cand cd
       |  JOIN codes co ON co.vec_id = cd.neighbor_id
       |  JOIN dtab dt ON dt.query_id = cd.query_id AND dt.m = co.m AND dt.code_id = co.code_id
       |  JOIN n qn ON qn.vec_id = cd.query_id
       |  JOIN recon r ON r.vec_id = cd.neighbor_id
       |  GROUP BY cd.query_id, cd.neighbor_id, qn.n2, r.rn2)
       |SELECT query_id, neighbor_id, approx_cos, rk FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY approx_cos DESC, neighbor_id) AS rk
       |  FROM scored) t
       |WHERE rk <= 3
       |ORDER BY query_id, rk""".stripMargin

  /** ANN quality scorecard (`similarity_recall_report`): recall@3 of each
    * oracle-checkable ANN variant (LSH, IVF, IVF-PQ) against the exact
    * brute-force top-3, per query — the acceptance gate an ANN rollout
    * runs before swapping an index into production, as a first-class
    * relational query instead of a test-suite assertion (the trained
    * variants' ScalaTest recall floors assert the same metric for the
    * model-based paths).
    *
    * Plan shape: the three ANN result sets union into one labeled stream
    * (each reads the session-shared quantized/candidate stages, so the
    * embeddings parquet is still scanned once); ONE semi join against the
    * exact top-3 counts the hits, and the (variant × query) spine
    * left-joins the counts back so zero-recall queries stay visible.
    * Everything after the ANN pipelines is bounded by
    * #variants × #queries rows. */
  def similarityRecallReport(spark: SparkSession, dir: String): DataFrame =
    recallReportFor(spark, dir, Seq(
      "ivf"   -> similarityIvf(spark, dir),
      "ivfpq" -> similarityIvfPq(spark, dir),
      "lsh"   -> similarityAnnLsh(spark, dir)))

  /** FULL rollout scorecard (`similarity_recall_report_trained`): the
    * three oracle-checkable variants PLUS the two trained-model paths
    * (`ivf_trained`, `ivfpq_trained`) in one table — the single artifact
    * an index rollout reads to pick a variant. Model-based → no SQL
    * oracle (the trained rows depend on k-means/Lloyd codebooks, like
    * the trained queries themselves); the suite pins it instead: the
    * three untrained rows must equal `similarity_recall_report`
    * bit-for-bit, and the trained variants' mean recall must clear the
    * same floors the trained-query specs assert. Same bounded plan
    * shape: five pipelines over shared memoized stages, one semi join
    * against the cached exact top-3, output = #variants × #queries. */
  def similarityRecallReportTrained(spark: SparkSession, dir: String): DataFrame =
    recallReportFor(spark, dir, Seq(
      "ivf"            -> similarityIvf(spark, dir),
      "ivf_trained"    -> similarityIvfTrained(spark, dir),
      "ivfpq"          -> similarityIvfPq(spark, dir),
      "ivfpq_trained"  -> similarityIvfPqTrained(spark, dir),
      "lsh"            -> similarityAnnLsh(spark, dir)))

  private def recallReportFor(
      spark: SparkSession, dir: String,
      variants: Seq[(String, DataFrame)]): DataFrame = {
    import spark.implicits._
    val exact3 = exactTopk(spark, dir).filter($"rk" <= 3)
      .select($"query_id", $"neighbor_id")
    val ann = variants
      .map { case (nm, df) =>
        df.select(lit(nm).as("variant"), $"query_id", $"neighbor_id")
      }.reduce(_ unionAll _)
    val spine = ann.select($"variant", $"query_id").distinct()
    val hits = ann.join(exact3, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy($"variant", $"query_id")
      .agg(count(lit(1)).as("n_hits"))
    spine.join(hits, Seq("variant", "query_id"), "left")
      .select($"variant", $"query_id",
        coalesce($"n_hits", lit(0L)).as("n_hits"))
      .withColumn("recall_at_3", round($"n_hits".cast("double") / 3.0, 6))
      .orderBy($"variant", $"query_id")
  }

  lazy val similarityRecallReportSql: String =
    s"""WITH exact3 AS (
       |  SELECT query_id, neighbor_id FROM ($similarityTopkSql) WHERE rk <= 3),
       |ann AS (
       |  SELECT 'ivf' AS variant, query_id, neighbor_id FROM ($similarityIvfSql)
       |  UNION ALL
       |  SELECT 'ivfpq' AS variant, query_id, neighbor_id FROM ($similarityIvfPqSql)
       |  UNION ALL
       |  SELECT 'lsh' AS variant, query_id, neighbor_id FROM ($similarityAnnLshSql)),
       |spine AS (SELECT DISTINCT variant, query_id FROM ann),
       |hits AS (
       |  SELECT a.variant, a.query_id, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM ann a JOIN exact3 e
       |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       |  GROUP BY a.variant, a.query_id)
       |SELECT s.variant, s.query_id,
       |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 3.0, 6) AS recall_at_3
       |FROM spine s LEFT JOIN hits h
       |  ON s.variant = h.variant AND s.query_id = h.query_id
       |ORDER BY s.variant, s.query_id""".stripMargin

  /** k-NN GRAPH (`similarity_knn_graph`): every corpus vector's top-3
    * same-cell neighbors (exact cosine, deterministic tie-break) — the
    * artifact graph-based curation actually consumes: SemDeDup-style
    * cluster pruning, connected-component near-dup groups, and
    * graph-community domain discovery all start from "each vector's
    * nearest neighbors", not from a handful of query probes
    * ([[similarityTopk]] covers 1% query vectors; this covers ALL of
    * them, which is why it must NOT be the O(n²) all-pairs join).
    *
    * Scale shape: neighbors are drawn from the vector's OWN coarse
    * cell — a self equi-join of the memoized [[ivfAssign]] stage on
    * pivot_id, hash-partitioned by cell, so total work is n·cell-width
    * (≈64), not n². The exact-cosine re-rank touches only those pairs,
    * and the per-vector top-3 window sorts within cells. Cells come
    * from the deterministic pivot rule so the DuckDB oracle reproduces
    * the graph bit-for-bit; the trained-centroid assignment
    * ([[similarityIvfTrained]]) is the drop-in at real scale, same as
    * for semantic dedup. Boundary effects (true neighbor in an adjacent
    * cell) are the standard IVF trade — measured centrally in
    * [[similarityRecallReport]]. */
  def similarityKnnGraph(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r17: attach (q, n2) to the cell assignment ONCE and score inside the
    // same-cell self-join, instead of enumerating skinny (vid, nid) pairs
    // and re-joining the corpus twice to fetch both vectors. The old shape
    // pushed ~cell-width×n pair rows CARRYING a 64-long array through two
    // more hash exchanges (the dominant cost: pair-count × ~0.5 KB of
    // serde per hop); this one shuffles the corpus-sized member table
    // twice (once per join side, keyed by pivot_id), computes the cosine
    // while both arrays are in hand, and only skinny scored rows reach
    // the top-3 window. Same pairs, same kernel, same tie-break — the
    // result is bit-identical.
    val members = ivfAssign(spark, dir).join(quantized(spark, dir), "vec_id")
    val scored = members.as("a").join(members.as("b"),
        $"a.pivot_id" === $"b.pivot_id" && $"a.vec_id" =!= $"b.vec_id")
      .select($"a.vec_id".as("vid"), $"b.vec_id".as("neighbor_id"),
        cosine("a.q", "b.q", "a.n2", "b.n2").as("cos_sim"))
    val w = Window.partitionBy($"vid").orderBy($"cos_sim".desc, $"neighbor_id".asc)
    scored.withColumn("rk", row_number().over(w)).filter($"rk" <= 3)
      .select($"vid".as("vec_id"), $"neighbor_id", $"cos_sim", $"rk")
      .orderBy($"vec_id", $"rk")
  }

  /** IVF index-health report (`similarity_cell_balance`): per coarse
    * cell, its inverted-list size, per-mille share of the corpus, and a
    * balance index (1000 = perfectly even split) — the scorecard an ANN
    * service reads before rolling an index out, because probe latency is
    * bounded by the LARGEST probed list: a cell at 4× the even share
    * means nprobe hits of that cell cost 4× the budget, and the fix
    * (retrain centroids / split the hot cell) has to be decided from
    * exactly this table. Complements [[similarityRecallReport]] (quality
    * side) with the cost side of the same rollout gate.
    *
    * Plan shape: one count aggregation over the memoized [[ivfAssign]]
    * stage (n skinny cached rows), a 1-row total broadcast back, and
    * exact-integer ratios — output bounded by the cell count. */
  def similarityCellBalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = ivfAssign(spark, dir)
      .groupBy($"pivot_id").agg(count(lit(1)).as("n_vectors"))
    val tot = counts.agg(sum($"n_vectors").as("total"),
      count(lit(1)).as("n_cells"))
    counts.crossJoin(broadcast(tot))
      .select($"pivot_id", $"n_vectors",
        expr("n_vectors * 1000 div total").as("share_permille"),
        expr("n_vectors * n_cells * 1000 div total").as("balance_x1000"))
      .orderBy($"pivot_id")
  }

  lazy val similarityCellBalanceSql: String =
    s"""WITH $quantizedCte,
       |$assignCte,
       |counts AS (
       |  SELECT pivot_id, count(*) AS n_vectors FROM assign GROUP BY pivot_id),
       |tot AS (
       |  SELECT CAST(sum(n_vectors) AS BIGINT) AS total,
       |         count(*) AS n_cells
       |  FROM counts)
       |SELECT pivot_id, n_vectors,
       |  n_vectors * 1000 // total AS share_permille,
       |  n_vectors * n_cells * 1000 // total AS balance_x1000
       |FROM counts, tot
       |ORDER BY pivot_id""".stripMargin

  /** Shared k-NN-edge CTE prefix (`n` → `assign` → `pairs` → `scored` →
    * `knn`): the ONE oracle-side statement of the same-cell top-3 edge
    * rule, reused by [[similarityKnnGraphSql]] and the graph-analytics
    * oracles ([[GraphOps]]) exactly as the Spark side shares the memoized
    * [[GraphOps.knnEdges]] stage — a change to the edge rule cannot
    * silently diverge between the knn-graph oracle and the PageRank /
    * triangle oracles built on it. */
  private[operators] lazy val knnEdgesCte: String =
    s"""$quantizedCte,
       |$assignCte,
       |pairs AS (
       |  SELECT a.vec_id, b.vec_id AS neighbor_id
       |  FROM assign a JOIN assign b
       |    ON a.pivot_id = b.pivot_id AND a.vec_id <> b.vec_id),
       |scored AS (
       |  SELECT p.vec_id, p.neighbor_id, ${cosineSql("a", "b")} AS cos_sim
       |  FROM pairs p JOIN n a ON a.vec_id = p.vec_id
       |               JOIN n b ON b.vec_id = p.neighbor_id),
       |knn AS (
       |  SELECT vec_id, neighbor_id, cos_sim, rk FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id) AS rk
       |    FROM scored) t
       |  WHERE rk <= 3)""".stripMargin

  lazy val similarityKnnGraphSql: String =
    s"""WITH $knnEdgesCte
       |SELECT vec_id, neighbor_id, cos_sim, rk FROM knn
       |ORDER BY vec_id, rk""".stripMargin
}
