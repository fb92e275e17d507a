package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-audit main: dumps `explain(formatted)` for the headline queries
  * into PLANS.md, together with the plan-shape counts that matter at
  * cluster scale (exchanges, scans, broadcasts, whole-stage-codegen
  * spans). The audit set is the queries whose physical shape carries the
  * 100 TB story — pushdown proof on the selective TPC-H filters, the
  * single-shuffle sketch aggregations, the broadcast-vs-shuffle join
  * split, and the fused multi-stage curation pipelines — so a reviewer
  * can read the actual plans without re-running the engine.
  *
  * Usage: `runMain graft.Plans [sfDir] [outFile]`
  * (defaults: /root/testdata/sf0.01, PLANS.md).
  *
  * The audit is this small, annotated, committed subset; per-query
  * exchange and broadcast counts for every registered query come from
  * the benchmark's traced run (`perfbench/`, `--trace 1`).
  */
object Plans {

  /** (query key, what the plan must show to survive a 100× scale-up). */
  private val Audited: Seq[(String, String)] = Seq(
    "sql_forecast_revenue" ->
      ("TPC-H Q6 shape: the date/discount/quantity predicates must reach " +
        "the parquet scan as PushedFilters and the ReadSchema must be the " +
        "4 referenced columns, not the full lineitem row."),
    "sql_promo_revenue" ->
      ("TPC-H Q14 shape: selective date filter pushed to the lineitem " +
        "scan; part joined without shuffling lineitem twice."),
    "agg_pricing_summary" ->
      ("TPC-H Q1 shape: ONE shuffle on the 4-value group key with partial " +
        "aggregation (map-side combine) before it — the exchange moves " +
        "group states, not 6M rows."),
    "agg_corr_quantity_price" ->
      ("Single partial+final moment aggregation in DECIMAL(38); no " +
        "shuffle beyond the tiny 3-group final."),
    "join_orders_customers" ->
      ("Dimension join: customer side BROADCAST, no shuffle of orders."),
    "join_dpp_pruned" ->
      ("Dynamic partition pruning: the partitioned fact scan must show a " +
        "dynamicpruning subquery on the partition column, so only " +
        "dimension-selected partitions are read."),
    "join_asof_native" ->
      ("Custom AsOfJoinExec: both sides sort-shuffled ONCE on the key, " +
        "then a co-partitioned merge — no range-condition nested loop."),
    "dedup_minhash_lsh" ->
      ("All 16 minhash permutations out of ONE hash aggregation over the " +
        "shared shingle cache (InMemoryTableScan), banded equi-join — " +
        "no 16x row explosion, no cartesian."),
    "dedup_semantic" ->
      ("SemDeDup (trained default): coarse assignment scores the corpus " +
        "against the trained-centroid BROADCAST (K(n) = " +
        "clamp(ceil(sqrt(n/2)), 16, 256) since r13 — bounded by K, " +
        "never the corpus) via one max_by aggregation over the " +
        "codegen'd graft_l2sq score stream; within-cluster self-join " +
        "hash-partitioned on cluster id. The density-pivot variant " +
        "survives as dedup_semantic_pivots for the exact oracle."),
    "similarity_ann_lsh" ->
      ("Self-sizing SRP-LSH (r13; signature kernel r15): bucket keys " +
        "carry clamp(floor(log2 n)-6, 3, 24) bits per table, so " +
        "expected occupancy stays 64-128 vectors and candidates/query " +
        "constant; hashing is ONE codegen'd graft_srp_keys call per " +
        "row (the per-bit graft_dot tower re-materialized a 64-element " +
        "literal array per row per bit — 0.55 ms/vector, super-linear " +
        "on the r15 triangle), map-only; the candidate join is a plain " +
        "(tbl, bkt) hash shuffle on 8-byte integer keys with NO " +
        "broadcast hint (the query-bucket side grows with the corpus)."),
    "similarity_ivf_trained" ->
      ("Trained IVF (r13): sqrt(n)-sized K (cap 256) keeps the scanned " +
        "fraction nprobe*multi/K FALLING with scale; assignment is one " +
        "K-row broadcast + graft_l2sq + two max_by aggregations (no " +
        "window sort of the corpus); training reads a <=128*K " +
        "deterministic-stride sample, so the fit never scans more than " +
        "a bounded multiple of the model size."),
    "similarity_ivfpq" ->
      ("IVF-PQ: the 128-row codebook is the one broadcast; candidate " +
        "lists come from the probe equi-join; ADC re-rank touches only " +
        "candidates, never the full corpus."),
    "text_quality_logreg" ->
      ("Trained-classifier application: one narrow shuffle-free codegen " +
        "projection per document — zero exchanges before the ordered " +
        "output."),
    "curation_training_extract" ->
      ("End-to-end gate->dedup->split->pack: exactly TWO documents scans " +
        "for the whole pipeline (one for the dedup registry, one for the " +
        "surviving text), everything else reuses shuffles."),
    "curation_corpus_report" ->
      ("Corpus report fused to ONE documents scan feeding all report " +
        "columns."),
    "pack_sequences_deduped" ->
      ("Packing consumes dedup keepers without rescanning documents for " +
        "each stage; one shuffle keyed by pack id."),
    "curation_decontaminate_bloom" ->
      ("Map-only decontamination: the corpus side must show ZERO " +
        "exchanges before the per-doc aggregation — the Bloom probe is a " +
        "filter-projection riding the shingle scan, the benchmark side " +
        "exists only as filter bytes inside the plan."),
    "dedup_incremental_bloom" ->
      ("Registry join prefiltered: the registry exchange consumes ONLY " +
        "the Bloom-positive branch; the negative branch unions in past " +
        "it untouched. Output bit-equal to dedup_incremental."),
    "embedding_covariance" ->
      ("Moment-matrix accumulation through the custom graft_moments " +
        "TypedImperativeAggregate (r11): partial ObjectHashAggregate " +
        "below ONE single-buffer exchange, and NO Generate below the " +
        "aggregate (the r10 form fanned every vector 2080x pre-agg); " +
        "the only Generate sits ABOVE it, unpacking the single result " +
        "row into the bounded (i,j) grid."),
    "multimodal_phash_dedup" ->
      ("Canonicalize-then-band (r11; 256-bit widening r16): hashing is " +
        "one codegen'd graft_phash256 call per row (no interpreted " +
        "lambda tower in any Project), the band equi-join's inputs are " +
        "DISTINCT hashes over 8 full 32-bit quarters — band key == " +
        "quarter, so 4G buckets/band and no sub-65k band-value " +
        "saturation (the r15 growth law) — and doc pairs reappear only " +
        "in the two output-sized expansion joins — never all-pairs, " +
        "never tower-per-candidate."),
    "multimodal_phash_clusters" ->
      ("Linear-output cluster twin (r16): CC nodes are hash-" +
        "REPRESENTATIVES (one per distinct hash — content-bounded), " +
        "edges come from the shared banded hash-pair join, the fixpoint " +
        "is join+min-agg per iteration over the cached edge set with " +
        "lineage truncated per iteration, and the only corpus-sized " +
        "steps are cached-members scans and the final one-row-per-doc " +
        "label join — no pair enumeration anywhere in the plan."),
    "events_rolling_anomaly" ->
      ("Sharded bounded window (r16): the trailing-50 frame partitions " +
        "on (event_type, time-bucket) — ⌈n_type/64k⌉ buckets with a " +
        "floor of 8 — so the window sort's task count grows with DATA, " +
        "not with the 5-value type alphabet (the r15 wall floor); the " +
        "carry union adds ≤ 50 rows per shard from each reachable " +
        "predecessor bucket via a broadcast bucket-pair join, and the " +
        "plan must show the Window exec keyed on BOTH columns with no " +
        "single-partition exchange anywhere; the presentation sort " +
        "sits behind a hash barrier (Presentation.ordered) so the " +
        "range sampler re-reads a result-sized shuffle instead of " +
        "re-running the window chain — a measured second full pass."),
    "events_cusum_changepoint" ->
      ("Two-level prefix scan (r16): the CUSUM identity's prefix-sum " +
        "and prefix-min windows partition on (event_type, time-bucket) " +
        "— not the 5-value type alphabet, whose per-type scan floored " +
        "parallelism at #types tasks — with bucket carries composed " +
        "from a tiny summary table and applied through a broadcast " +
        "join; the plan must show the corpus-sized Window exec keyed " +
        "on BOTH columns, the carry join as a BroadcastHashJoin, and " +
        "no single-partition exchange anywhere on the corpus path " +
        "(the bucket-summary window is #buckets-sized by construction)."),
    "agg_equidepth_histogram" ->
      ("Distributed exact selection (r16): decile boundaries come " +
        "from order statistics over the distinct-value table (content-" +
        "bounded — the TPC-H price grid saturates), NOT from " +
        "percentile()'s all-values single aggregation buffer that made " +
        "one task sort the whole column; the plan must show the " +
        "distinct hash aggregate with partial (map-side) aggregation, " +
        "the rank lookup as a broadcast join, the 9-boundary array " +
        "broadcast back to the binning scan, and no corpus-sized " +
        "single-partition exchange."),
    "text_char_entropy" ->
      ("Histogram kernel (r11): one codegen'd graft_char_counts call " +
        "per document emits the sorted (ch, c) array — the plan must " +
        "show NO Generate and no (doc_id, ch) exchange (the r10 " +
        "char-explode fanned one row per character); the only exchange " +
        "is the final presentation sort."),
    "sample_weighted_docs" ->
      ("Weighted Bernoulli sample: ONE 1-row total-mass aggregate comes " +
        "back as a BroadcastExchange and the inclusion test is a narrow " +
        "codegen'd filter — no corpus-sized shuffle anywhere in the plan."),
    "events_downsample" ->
      ("Keep-last decimation as ONE partial+final max(struct) hash " +
        "aggregation: partial agg below the single exchange, so the " +
        "shuffle carries one candidate per (user, minute) per partition " +
        "— never the raw feed, and no Window sort anywhere."),
    "curation_snapshot_diff" ->
      ("Snapshot changelog: both sides reduce to (doc_id, md5) narrow " +
        "projections BEFORE the full-outer SortMergeJoin on doc_id, so " +
        "the join moves 16-byte digests; co-partitioned for free under " +
        "id-bucketed storage."),
    "graph_pagerank_knn" ->
      ("Distributed PageRank: every iteration reads the CACHED 3n-row " +
        "edge stage (InMemoryTableScan), joins ranks on src and " +
        "partial+final-sums on dst; the only broadcasts are the 1-row " +
        "node-count frames — nothing corpus-proportional, no window, " +
        "no driver-side loop state beyond the unrolled plan itself."),
    "profile_columns" ->
      ("Profiler: eleven PRUNED single-column parquet scans (each " +
        "ReadSchema is exactly one column), each feeding its own " +
        "partial+final distinct aggregation — NOT the one-pass " +
        "multi-distinct Expand(x11), which shuffles eleven copies of " +
        "the table (measured 23 s vs 2.3 s at sf0.1)."),
    "curation_pareto_front" ->
      ("Skyline: the un-partitioned RANGE-frame window (the exact " +
        "sweep) must sit ABOVE the bucketed suffix-max prefilter, so " +
        "the global sort sees only the surviving candidates; the " +
        "bucket-maxima frame arrives as a BroadcastExchange."),
    "dedup_threshold_sweep" ->
      ("Sweep: one pass over the CACHED PPJoin pair set crossed with " +
        "the 10-row literal threshold frame — no shingle recomputation, " +
        "no second pair join; both stat branches aggregate the same " +
        "swept frame."),
    "dedup_containment" ->
      ("r15 shape (the r14 ladder measured the old full-index self-join " +
        "+ groupBy-count growing x5.9 per-run CPU on the x3.33 top " +
        "step): candidates = A-side directed PREFIX postings (the " +
        "|A_c|-m+1 rarest capped shingles, m = ceil(4|A|/5)) equi-joined " +
        "on the 8-byte shingle key against the full ranked posting list, " +
        "filtered by the integer POSITIONAL bound 1+min(ca-pa, cb-pb) " +
        ">= m; verify = the two h-sorted per-doc arrays (cached " +
        "containment_tok stage, InMemoryTableScan) travel to each " +
        "distinct candidate once and merge in-task via codegen " +
        "graft_icount_sorted. The plan must show NO groupBy-count over " +
        "the posting self-join mass and nothing corpus-proportional " +
        "broadcast; per-key join fan-out is bounded by the df<=50 cap " +
        "on both sides."),
    "agg_robust_stats_sketch" ->
      ("r14 grid-median shape: 5 corpus-linear codegen hash-aggregate " +
        "scans (8192-cent bucket histogram, in-bucket refine, per-flag " +
        "fence count — x2 for MAD), each collecting a GRID-bounded " +
        "frame to the driver (never n rows); the medians re-enter the " +
        "final pass as a literal CASE chain, so the plan shows NO " +
        "broadcast-subtree re-execution (the r13 form re-ran 9 parquet " +
        "scans) and NO approx_percentile partials (4us/row " +
        "QuantileSummaries was the r13 cost)."),
    "text_winnowing_fingerprint" ->
      ("r14 kernel shape: map-only fingerprint build — one codegen " +
        "graft_gram_hashes60 call then one graft_winnow_positions call " +
        "per document (selection proved equal to the " +
        "array_distinct/transform tower, which allocated slice+sequence+" +
        "filter arrays per token and measured 604 task-CPU-s at the " +
        "100x probe vs 24.5 for the kernel); the only exchanges are the " +
        "fingerprint-key match join and the presentation sort — no " +
        "Generate tower, no per-token boxed allocation in any Project.")
  )

  /** Shape contracts for the one-shot SHARED-STAGE builds the benchmark
    * times as their own ledger lines (r12, judge task 2): the stages are
    * memoized + eagerly materialized inside [[graft.stages.Stages.memo]],
    * so their post-build explain shows only the cached
    * result — the BUILD's scale story is stated here as a contract the
    * source must honor, with the measured substage decomposition where
    * one was profiled this round. */
  private val StageContracts: Seq[(String, String)] = Seq(
    "shingle_sets" ->
      ("One documents scan -> narrow HOF shingle explode -> md5 -> ONE " +
        "16-byte-key distinct shuffle; every downstream shingle consumer " +
        "reads this cache, never the text."),
    "shingle_index" ->
      ("r12 (key widened to 60-bit in r13 — same 8-byte BIGINT, " +
        "collision crossover pushed past 1e16 pair-comparisons after " +
        "the 100x probe measured 32-bit birthday candidates): hashed " +
        "projection of the shingle cache joined with " +
        "its own df aggregate — one shuffle pair, persisted once; ngram " +
        "Jaccard / containment / LSH tuning apply their df<=50 cap as a " +
        "predicate on the cached scan instead of re-deriving the index " +
        "per plan branch (containment previously rebuilt it on BOTH " +
        "sides of its self-join)."),
    "ppjoin_pairs" ->
      ("r14 shape: canonicalize-to-representatives on the SHINGLE-SET " +
        "md5 (subsumes exact-text grouping; groupBy min, not a corpus " +
        "window sort) -> per-doc rarest-first token ARRAYS off the " +
        "shared 60-bit df-attached shingle index (no private dfreq " +
        "shuffle) -> prefix entries unpacked map-only from the cached " +
        "arrays -> SYMMETRIC prefix self-join (one exchange, reused both " +
        "sides) with integer length+positional filters -> verify = the " +
        "two h-sorted doc arrays travel to each candidate ONCE and merge " +
        "in-task via the codegen graft_icount_sorted kernel (replaced " +
        "size(array_intersect): boxed hash set + materialized result, " +
        "144us/pair, 180 of 388 task-CPU-s at the 10x probe; and before " +
        "that the Sigma_pairs|A| row explosion). PPJoin's asymmetric " +
        "index/probe prefix split was measured and REJECTED: positional " +
        "filter already implies it for survivors, and two distinct join " +
        "inputs forfeit exchange reuse (33.5 -> 41.3 task-CPU-s). " +
        "Isolated 10x probe after the r14 rework: 247.7 task-CPU-s " +
        "(r13 packed: 269). Remaining floor: the candidate-by-array " +
        "join payload, linear in corpus at fixed dup structure."),
    "containment_tok" ->
      ("r15: per-doc capped shingle arrays for the containment join — " +
        "ONE collect_list+sort aggregate over the cached 60-bit index " +
        "(predicate df<=50 on the cached scan) joined with the cached " +
        "sizes table; emits both the (df,h)-ranked array (prefix order) " +
        "and the h-sorted array (verify kernel order) plus the integer " +
        "threshold m per doc. Linear, one doc_id shuffle, persisted " +
        "once per session."),
    "phash_members" ->
      ("r16: per-doc 256-bit perceptual-hash quarters — the planted-" +
        "payload projection feeds ONE codegen'd graft_phash256 call per " +
        "row into an 8-column content-hash exchange, persisted once per " +
        "session. Linear; the plan must show a single parquet scan of " +
        "documents (plus the doc_id-shift planting join) and NO " +
        "interpreted lambda tower."),
    "dup_spans" ->
      ("Repeated-span lattice: ONE pass over its positional gram " +
        "stream (codegen'd graft_gram_hashes60 kernel — 60-bit longs " +
        "straight out of the scan, so the gram-key shuffle moves 8-byte " +
        "ints; oracle derives the identical ints); span assembly is " +
        "per-document sort + linear chain inside one window partition " +
        "keyed by doc_id — never a cross-document sort; both consumers " +
        "(span report, strip action) read the cached lattice."),
    "kmeans_assign" ->
      ("Centroid training is MLlib KMeans on a <=128*K " +
        "deterministic-stride sample (r13: K = clamp(ceil(sqrt(n/2)), " +
        "16, 256), so the fit is linear in n and the model stays " +
        "bounded); assignment is one broadcast of the K-row centroid " +
        "table + the codegen'd graft_l2sq score stream + one " +
        "partial+final max_by aggregation — no window, nothing " +
        "corpus-proportional on the driver."),
    "pq_codebook_trained" ->
      ("5 Lloyd passes over a persisted (corpus x 8 subspaces) skinny " +
        "table coalesced to 4 partitions (task-count-bound, not " +
        "data-bound); each pass = broadcast 128-row codebook join + " +
        "codegen'd graft_dot argmin + one (m, code) mean aggregation; " +
        "driver holds only the 128x8 codeword model."))

  /** Counts physical operators by their numbered detail-section headers
    * (`(7) Exchange`): formatted explain prints every node twice (tree +
    * details), the headers exactly once per node. */
  private def countOp(plan: String, op: String): Int =
    s"""\\(\\d+\\) $op""".r.findAllIn(plan).size

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    val sb = new StringBuilder
    sb ++= "# PLANS — physical-plan audit of the headline queries\n\n"
    sb ++= s"Generated by `runMain graft.Plans` against `$sfDir`. Plan\n"
    sb ++= "SHAPE is scale-factor-independent; sizes in the dumps are the\n"
    sb ++= "audit SF's. Per plan: the property the shape must hold at\n"
    sb ++= "cluster scale, the shuffle/scan/broadcast counts, and the\n"
    sb ++= "`explain(formatted)` output (capped at 400 lines/section —\n"
    sb ++= "cached-stage InMemoryRelations inline their entire executed\n"
    sb ++= "build plan, which is audit noise; counts cover the full\n"
    sb ++= "text). (AQE initial plans do not annotate\n"
    sb ++= "whole-stage-codegen ids; codegen spans are visible\n"
    sb ++= "per executed stage in the Spark UI, not in these dumps.)\n\n"

    // Dump cap per section: a cached stage's InMemoryRelation inlines its
    // ENTIRE executed build plan (recursively, with every AQE final query
    // stage) — after the r14 PPJoin rework the threshold-sweep section
    // alone printed ~60k lines of cached-build interior, drowning the
    // audit. Shape counts are taken on the FULL text; the dump keeps the
    // head (the query's own operators come first in formatted explain)
    // and notes what was elided.
    val MaxDumpLines = 400
    Audited.foreach { case (name, story) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val exchanges = countOp(plan, "Exchange")
      val scans = countOp(plan, "Scan parquet")
      val mem = countOp(plan, "InMemoryTableScan")
      val bcast = countOp(plan, "BroadcastExchange")
      val lines = plan.trim.split('\n')
      val dump =
        if (lines.length <= MaxDumpLines) plan.trim
        else lines.take(MaxDumpLines).mkString("\n") +
          s"\n... [${lines.length - MaxDumpLines} lines elided — " +
          "cached-stage build interior; shape counts above cover the " +
          "full text]"
      sb ++= s"## `$name`\n\n"
      sb ++= s"**Scale contract:** $story\n\n"
      sb ++= s"**Shape counts:** $exchanges shuffle exchange(s), $bcast " +
        s"broadcast(s), $scans parquet scan(s), $mem cached-stage scan(s).\n\n"
      sb ++= "```text\n" + dump + "\n```\n\n"
      // scalastyle:off println
      println(s"[plans] $name: shuffles=$exchanges broadcasts=$bcast " +
        s"parquetScans=$scans cachedScans=$mem")
      // scalastyle:on println
    }

    sb ++= "## Shared-stage build contracts\n\n"
    sb ++= "The benchmark times these one-shot builds as their own ledger\n"
    sb ++= "lines (they are memoized + eagerly materialized, so a post-build\n"
    sb ++= "explain would show only the cached result). Contract per stage:\n\n"
    StageContracts.foreach { case (name, story) =>
      sb ++= s"- **`$name`** — $story\n"
    }
    sb ++= "\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes("UTF-8"))
    println(s"[plans] wrote ${Audited.size} plans + " +
      s"${StageContracts.size} stage contracts to $out")
    spark.stop()
  }
}
