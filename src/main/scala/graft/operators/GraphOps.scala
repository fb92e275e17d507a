package graft.operators

import graft.stages.Stages
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the corpus k-NN graph.
  *
  * [[SimilarityOps.similarityKnnGraph]] materializes every vector's top-3
  * same-cell cosine neighbors; this object treats those edges as a graph
  * and computes the two classic structural signals a curation pipeline
  * reads off it:
  *
  *  - `graph_pagerank_knn` — PageRank (3 unrolled power iterations,
  *    d = 0.85). On a similarity graph, high-rank nodes are the corpus's
  *    "hub" documents — prototypical content that many near-neighbors
  *    point at — and rank-weighted sampling (keep hubs, thin the
  *    periphery) is a published coreset-selection recipe. Complements
  *    [[PipelineOps.dedupConnectedComponents]] (which answers "which docs
  *    are the same") with "which docs are central".
  *  - `graph_triangle_count` — per-node triangle count + local clustering
  *    coefficient. Triangles separate genuinely dense semantic clusters
  *    (template/boilerplate families → candidates for aggressive dedup)
  *    from star-shaped hub neighborhoods that merely share one popular
  *    neighbor; the coefficient is the standard density score.
  *
  * Scale story (100 TB): both run on the memoized [[knnEdges]] stage —
  * out-degree is capped at k = 3, so the edge table is 3n rows however
  * large the corpus.
  *  - PageRank: each iteration is one hash equi-join (edges ⋈ ranks on
  *    src, both sides partitioned by the join key) plus one partial+final
  *    sum keyed by dst — the textbook distributed formulation; no
  *    collect, no window, state is one double per node. Dangling mass is
  *    NOT redistributed (the common "PageRank-lite" used by web-scale
  *    engines when rank ORDER, not a probability simplex, is the
  *    deliverable) — deterministic and cheaper by one global agg per
  *    iteration; documented here so the oracle states the same recursion.
  *  - Triangles: enumeration over (degree, id)-rank-ORIENTED edges (r12)
  *    — each undirected edge points from its lower-(degree, id) endpoint
  *    to the higher, making the oriented graph a DAG with O(√m)
  *    out-degree per node regardless of its undirected degree (the
  *    standard power-law fix). Wedges (pairs of out-neighbors of one
  *    center) closed by an existence join against the undirected set
  *    emit each triangle exactly once.
  *
  * Determinism: edges derive from exact fixed-point cosine
  * ([[SimilarityOps.quantized]]); rank doubles differ across engines only
  * by summation order (≪ 1e-12 relative), and every emitted double is
  * rounded to 1e-6 like the rest of the float surface.
  */
object GraphOps {

  /** Memoized directed k-NN edge list `(src, dst)` — the
    * [[SimilarityOps.similarityKnnGraph]] result persisted once per
    * (session, dir): PageRank replays it 4× (out-degree + 3 iterations)
    * and the triangle pass 3×, so both read the tiny cached 3n-row list
    * instead of re-running the same-cell join. */
  private[operators] def knnEdges(spark: SparkSession, dir: String): DataFrame =
    Stages.memo(spark, s"knnedges:$dir") {
      SimilarityOps.similarityKnnGraph(spark, dir)
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
        .persist()
    }

  private val Damping = 0.85
  private val Iterations = 3

  /** PageRank over the k-NN graph (`graph_pagerank_knn`): 3 power
    * iterations from the uniform vector, rank reported as the ratio to
    * the uniform rank (scale-free across corpus sizes; 1.0 = average).
    * r₀ = 1/N;  rₖ₊₁(v) = (1−d)/N + d·Σ_{u→v} rₖ(u)/outdeg(u). */
  def graphPagerankKnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = SimilarityOps.quantized(spark, dir).select($"vec_id")
    val edges = knnEdges(spark, dir)
    val outdeg = edges.groupBy($"src").agg(count(lit(1)).as("outdeg"))
    val edgesN = edges.join(outdeg, "src")
    val tot = nodes.agg(count(lit(1)).as("n_total"))
    val r0 = nodes.crossJoin(broadcast(tot))
      .select($"vec_id", (lit(1.0) / $"n_total").as("r"))
    val rFinal = (1 to Iterations).foldLeft(r0) { (r, _) =>
      val contrib = edgesN
        .join(r.select($"vec_id".as("src"), $"r"), "src")
        .groupBy($"dst").agg(sum($"r" / $"outdeg").as("c"))
      nodes.join(contrib, $"vec_id" === $"dst", "left").drop("dst")
        .crossJoin(broadcast(tot))
        .select($"vec_id",
          (lit(1.0 - Damping) / $"n_total" +
            lit(Damping) * coalesce($"c", lit(0.0))).as("r"))
    }
    rFinal.crossJoin(broadcast(tot))
      .select($"vec_id", round($"r" * $"n_total", 6).as("rank_ratio"))
      .orderBy($"rank_ratio".desc, $"vec_id")
  }

  lazy val graphPagerankKnnSql: String = {
    // unrolled power iterations as chained CTEs (same recursion as the
    // Spark fold; DuckDB has no mutable iteration either)
    val iters = (1 to Iterations).map { k =>
      s"""c$k AS (
         |  SELECT e.dst, sum(r.r / e.outdeg) AS c
         |  FROM edges e JOIN r${k - 1} r ON r.vec_id = e.src
         |  GROUP BY e.dst),
         |r$k AS (
         |  SELECT nd.vec_id,
         |         ${1.0 - Damping} / (SELECT n_total FROM tot)
         |           + $Damping * coalesce(c$k.c, 0.0) AS r
         |  FROM nodes nd LEFT JOIN c$k ON c$k.dst = nd.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${SimilarityOps.knnEdgesCte},
       |nodes AS (SELECT vec_id FROM n),
       |tot AS (SELECT count(*) AS n_total FROM nodes),
       |outdeg AS (SELECT vec_id AS src, count(*) AS outdeg FROM knn GROUP BY vec_id),
       |edges AS (
       |  SELECT k.vec_id AS src, k.neighbor_id AS dst, o.outdeg
       |  FROM knn k JOIN outdeg o ON o.src = k.vec_id),
       |r0 AS (
       |  SELECT vec_id, 1.0 / (SELECT n_total FROM tot) AS r FROM nodes),
       |$iters
       |SELECT vec_id,
       |       round(r * (SELECT n_total FROM tot), 6) AS rank_ratio
       |FROM r$Iterations
       |ORDER BY rank_ratio DESC, vec_id""".stripMargin
  }

  /** Per-node triangle count + local clustering coefficient
    * (`graph_triangle_count`). The coefficient is 2T / (deg·(deg−1)),
    * 0 when deg < 2. Every node appears (isolated vectors report
    * 0/0/0.0), so the report doubles as a degree table.
    *
    * Enumeration uses DEGREE-ORDERED orientation (the standard power-law
    * fix): each undirected edge points from its lower-(degree, id)
    * endpoint to the higher, making the oriented graph a DAG where every
    * node's out-degree is O(√m) regardless of its undirected degree. A
    * triangle then has exactly ONE node with out-edges to the other two,
    * so wedges (pairs of out-neighbors of one center) closed by an
    * existence join against the undirected edge set emit each triangle
    * exactly once. The previous id-ordered orientation fanned a popular
    * low-id hub out by its full degree — quadratic in hub degree on
    * skewed graphs (comment-flagged r11, fixed r12). */
  def graphTriangleCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nodes = SimilarityOps.quantized(spark, dir).select($"vec_id")
    triangleStats(nodes, knnUndirected(spark, dir), knnOriented(spark, dir))
  }

  /** Memoized canonical undirected edge set `(a < b)`, persisted like
    * [[knnEdges]]: the enumeration reads it from three plan branches
    * (degree table, orientation, wedge-closing existence join) — left
    * unpersisted, Spark recomputes the distinct per branch and the query
    * pays ~7× its own weight in stage scheduling (measured 14.9 s vs
    * 1-2 s at sf0.1 on a 4k-edge graph). 3n-row bound at any corpus
    * size, so the persist is as cheap as the edge list itself. */
  private[graft] def knnUndirected(spark: SparkSession, dir: String): DataFrame =
    Stages.memo(spark, s"knnund:$dir") {
      canonicalUndirected(knnEdges(spark, dir)).persist()
    }

  /** Memoized degree-rank-oriented edges, persisted: the wedge self-join
    * reads it twice. Same 3n bound as [[knnUndirected]]. */
  private[graft] def knnOriented(spark: SparkSession, dir: String): DataFrame =
    Stages.memo(spark, s"knnoriented:$dir") {
      orientEdges(knnUndirected(spark, dir)).persist()
    }

  /** Canonical undirected edge set from a raw directed list: dedupes
    * reverses/duplicates, drops self-loops. */
  private[graft] def canonicalUndirected(edges: DataFrame): DataFrame =
    edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Degree-ordered orientation: each undirected edge points from its
    * lower-(degree, id) endpoint to the higher, so the oriented graph is
    * a DAG with O(√m) out-degree per node regardless of its undirected
    * degree — the standard power-law fix. `ddeg` carries the
    * destination's degree so the wedge join can rank the two
    * out-neighbors without re-joining the degree table. */
  private[graft] def orientEdges(und: DataFrame): DataFrame = {
    val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("degree"))
    val aLow = deg.select(col("v").as("a"), col("degree").as("dega"))
    val bLow = deg.select(col("v").as("b"), col("degree").as("degb"))
    und.join(aLow, "a").join(bLow, "b")
      .select(
        when(col("dega") < col("degb") ||
            (col("dega") === col("degb") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst"),
            col("degb").as("ddeg")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"),
            col("dega").as("ddeg"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.ddeg").as("ddeg"))
  }

  /** The enumeration core behind [[graphTriangleCount]], parameterized so
    * the suite can drive it over synthetic skewed fixtures the k-NN graph
    * never produces. `und` must be the canonical undirected set and
    * `oriented` its degree-ordered orientation (callers persist both; the
    * production path memoizes them per (session, dir)). A triangle has
    * exactly one node with out-edges to the other two in the DAG
    * orientation, so each is emitted exactly once. */
  private[graft] def triangleStats(
      nodes: DataFrame, und: DataFrame, oriented: DataFrame): DataFrame = {
    // r17: both count tables are built by exploding each row's endpoints
    // into ONE pass instead of unioning per-endpoint projections of the
    // same subtree. A union's branches are separate plan subtrees: for
    // `deg` that was two cache reads, but for `tcount` the three branches
    // each repeated the wedge-join + existence-join chain — single
    // execution relied on runtime exchange reuse firing (it did not,
    // reliably: same-JVM A/B at the 30× rung read 26-64 CPU-s for the
    // union form vs 15-19 for this one, rows bit-identical). Guide §2.4.
    val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("degree"))
    // wedges: ordered pairs of out-neighbors of one center; the strict
    // (degree, id) inequality picks each unordered pair once
    val wedges = oriented.select(col("src"), col("dst").as("d1"), col("ddeg").as("g1"))
      .join(oriented.select(col("src"), col("dst").as("d2"), col("ddeg").as("g2")),
        "src")
      .filter(col("g1") < col("g2") ||
        (col("g1") === col("g2") && col("d1") < col("d2")))
    val tri = wedges
      .join(und,
        und("a") === least(col("d1"), col("d2")) &&
          und("b") === greatest(col("d1"), col("d2")))
      .select(col("src").as("ta"), col("d1").as("tb"), col("d2").as("tc"))
    val tcount = tri
      .select(explode(array(col("ta"), col("tb"), col("tc"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("triangles"))
    nodes
      .join(deg, col("vec_id") === deg("v"), "left").drop(deg("v"))
      .join(tcount, col("vec_id") === tcount("v"), "left").drop(tcount("v"))
      .select(col("vec_id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering",
        when(col("degree") >= 2,
          round(lit(2.0) * col("triangles") /
            (col("degree") * (col("degree") - lit(1.0))), 6))
          .otherwise(lit(0.0)))
      .orderBy(col("vec_id"))
  }

  lazy val graphTriangleCountSql: String =
    s"""WITH ${SimilarityOps.knnEdgesCte},
       |und AS (
       |  SELECT DISTINCT least(vec_id, neighbor_id) AS a,
       |                  greatest(vec_id, neighbor_id) AS b
       |  FROM knn),
       |deg AS (
       |  SELECT v, count(*) AS degree FROM (
       |    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) u
       |  GROUP BY v),
       |tri AS (
       |  SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
       |  FROM und e1
       |  JOIN und e2 ON e2.a = e1.b
       |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
       |tcount AS (
       |  SELECT v, count(*) AS triangles FROM (
       |    SELECT ta AS v FROM tri UNION ALL SELECT tb AS v FROM tri
       |    UNION ALL SELECT tc AS v FROM tri) u
       |  GROUP BY v)
       |SELECT nd.vec_id,
       |       coalesce(deg.degree, 0) AS degree,
       |       coalesce(t.triangles, 0) AS triangles,
       |       CASE WHEN coalesce(deg.degree, 0) >= 2
       |            THEN round(2.0 * coalesce(t.triangles, 0)
       |                       / (deg.degree * (deg.degree - 1.0)), 6)
       |            ELSE 0.0 END AS clustering
       |FROM (SELECT vec_id FROM n) nd
       |LEFT JOIN deg ON deg.v = nd.vec_id
       |LEFT JOIN tcount t ON t.v = nd.vec_id
       |ORDER BY nd.vec_id""".stripMargin
}
