package graft.stages

import graft.SparkEntry
import graft.operators._
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** One benchmark-visible shared stage: `build()` returns the memoized
  * persisted DataFrame, constructing and caching it on the first call.
  * `twinOf` names the listed stage this one is the production twin of
  * (emitted as `twin_of` on the stage's ledger line). */
final case class SharedStage(
  name: String, build: () => DataFrame, twinOf: Option[String] = None)

/** The per-(session, dir) memo and the list of shared stages.
  *
  * Every value derived once per session and data directory lives here:
  * persisted DataFrames shared by several queries, and driver-side models
  * (a PCA fit, a BPE merge table, the name of a registered Bloom probe).
  * A key is a plain string that embeds the directory (`quantized:$dir`);
  * the session is the other half of the map key. Data under `dir` is
  * assumed immutable for the session, the same contract as Spark's own
  * relation cache.
  *
  * Lifetime: entries are dropped when the session's application ends
  * (see [[hookEviction]]), or on demand by [[evict]], which the bench's
  * contamination retry uses to force a from-scratch rebuild. */
object Stages {

  private val memos =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), AnyRef]
  private val hooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  /** Drop every entry of `spark` when its SparkContext ends, bounding the
    * memo to the APPLICATION's lifetime (a best-effort backstop: sessions
    * closed mid-application stay cached until the app ends). The sweep
    * only drops the map entries: the context has stopped by then, so an
    * unpersist would free nothing and only log a stack trace from the
    * dead listener bus. */
  private def hookEviction(spark: SparkSession): Unit =
    if (hooked.add(spark)) {
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
          memos.keys.filter(_._1 eq spark).foreach(memos.remove)
          // swept independently of memos: a FAILED build leaves a lock
          // entry with no memo entry, which would otherwise pin the
          // stopped session in this static map for the JVM lifetime
          buildLocks.keySet.removeIf(_._1 eq spark)
          hooked.remove(spark)
        }
      })
    }

  /** The build is SERIALIZED per key under a double-checked lock, so
    * exactly one caller ever constructs (and persists) a value and
    * concurrent first callers block for the finished result — which is
    * what they want anyway. A lose-and-unpersist scheme would be wrong
    * here, not just wasteful: Spark's CacheManager is keyed by the
    * canonicalized PLAN, so two identical builds share one cache entry
    * and the loser's unpersist would evict the winner's data too, leaving
    * the memoized DataFrame silently uncached. */
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Object]()

  /** The value memoized under `key` for `spark`, building it on first
    * use. A DataFrame value should be persisted by `build`. */
  private[graft] def memo[T <: AnyRef](spark: SparkSession, key: String)(build: => T): T = {
    hookEviction(spark)
    val k = (spark, key)
    memos.get(k) match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        val lock = buildLocks.computeIfAbsent(k, _ => new Object)
        lock.synchronized {
          memos.get(k) match {
            case Some(v) => v.asInstanceOf[T]
            case None =>
              val built = build
              memos.put(k, built)
              // if the application ended while the build was in flight the
              // eviction sweep may have already run and missed this entry,
              // which would pin the stopped session in the static map for
              // the JVM lifetime — re-check and drop. If stop() begins
              // AFTER this check, the sweep (which fires after the stopped
              // flag is set) sees the entry and removes it, so every
              // interleaving is covered by exactly one of the two sides.
              if (spark.sparkContext.isStopped) {
                memos.remove(k)
                buildLocks.remove(k)
              }
              built
          }
        }
    }
  }

  /** The keys currently memoized for `spark`. */
  private[graft] def keys(spark: SparkSession): Set[String] =
    memos.keys.collect { case (s, key) if s eq spark => key }.toSet

  /** Drop the given entries so the next accessor call re-runs the full
    * build. Eviction happens under the same per-key build lock as
    * [[memo]], and strictly BEFORE any rebuild is attempted: Spark's
    * CacheManager is keyed by the canonicalized plan, so unpersisting the
    * old DataFrame after an identical new one is persisted would evict
    * the new one's data too. A Dataset is unpersisted blocking, so the
    * freed blocks cannot bill their removal churn to a timed rebuild; any
    * other value is simply dropped. */
  private[graft] def evict(spark: SparkSession, keys: Iterable[String]): Unit =
    keys.foreach { key =>
      val k = (spark, key)
      val lock = buildLocks.computeIfAbsent(k, _ => new Object)
      lock.synchronized {
        memos.remove(k).foreach {
          case ds: Dataset[_] => ds.unpersist(blocking = true)
          case _ => ()
        }
      }
    }

  /** Every memoized shared stage the benchmark materializes (and times)
    * up front, in dependency order — the shingle set FIRST so every
    * downstream build line measures only its OWN work (in r8 the shingle
    * explode+distinct ran inside minhash, ngram and ppjoin each,
    * inflating all three). Building these BEFORE timing individual
    * queries means no query's ledger line silently includes another
    * family member's sketch build — the first-toucher-pays attribution
    * noise that made unchanged queries appear to regress between rounds.
    *
    * A stage's eviction keys are whatever its first build adds to the
    * memo (the bench diffs [[keys]] around that build), so a stage that
    * also trains a model or builds an intermediate needs no extra
    * bookkeeping here. */
  def list(spark: SparkSession, dir: String): Seq[SharedStage] = SparkEntry.requireUniqueNames(Seq(
    SharedStage("shingle_sets", () => DedupOps.sharedShingles(spark, dir)),
    // 60-bit df-attached inverted index + per-doc sizes (r12, widened
    // r13): consumed by ngram Jaccard, containment, and LSH tuning —
    // previously each re-derived the md5 projection and df aggregate per
    // plan branch (containment on both sides of its self-join). One
    // stage: the sizes table is a single cheap aggregate over the index
    // and they always build together.
    SharedStage("shingle_index", () => DedupOps.shingleSizes(spark, dir)),
    // per-doc capped (df,h)-ranked + h-sorted arrays for the containment
    // prefix/positional join (r15) — one linear collect+sort over the
    // capped index, its own line so the containment query's per-run cost
    // is the join+verify it actually re-executes
    SharedStage("containment_tok", () => DedupOps.containmentTok(spark, dir)),
    SharedStage("minhash_estimates", () => DedupOps.minhashEstimates(spark, dir)),
    SharedStage("simhash_sketch", () => DedupOps.simhashSketch(spark, dir)),
    SharedStage("ngram_pairs", () => DedupOps.dedupNgramJaccard(spark, dir)),
    SharedStage("ppjoin_pairs", () => DedupOps.dedupPrefixFilter(spark, dir)),
    // CC label fixpoint (r10): five consumers (components, canonical
    // pick, cluster sizes, near-dup extract, per-source dedup rates) —
    // the iterative build gets its own line for the same reason
    SharedStage("cc_labels", () => PipelineOps.dedupConnectedComponents(spark, dir)),
    // per-doc 256-bit perceptual-hash quarters (r16): consumed by the
    // phash pair/cluster twins from up to five plan branches each —
    // un-memoized, every branch re-ran scan + kernel + 8-col exchange
    SharedStage("phash_members", () => MultimodalOps.phashMembers(spark, dir)),
    SharedStage("dup_windows", () => TextOps.dupWindows(spark, dir)),
    // repeated-span lattice (r11): shared by the span report + removal
    SharedStage("dup_spans", () => DedupOps.repeatedSpans(spark, dir)),
    SharedStage("winnow_fps", () => TextOps.winnowFps(spark, dir)),
    SharedStage("quantized_vectors", () => SimilarityOps.quantized(spark, dir)),
    // brute-force exact top-5 (r11): the ground-truth side of
    // similarity_topk and both recall scorecards — the O(n²/100) score
    // join runs once here instead of per consumer per bench round
    SharedStage("exact_topk", () => SimilarityOps.exactTopk(spark, dir)),
    SharedStage("ivf_assign", () => SimilarityOps.ivfAssign(spark, dir)),
    SharedStage("ivf_candidates", () => SimilarityOps.ivfCandidates(spark, dir)),
    // trained-model stages (r10): k-means coarse quantizer shared by
    // dedup_semantic + similarity_ivf_trained, and the Lloyd-trained
    // PQ codebook — without their own lines the TRAINING cost would
    // bill to whichever consumer runs first alphabetically. The assign
    // stage's first build also trains the centroids.
    SharedStage("kmeans_assign", () => SimilarityOps.kmeansAssign(spark, dir)),
    SharedStage("pq_codebook_trained", () => SimilarityOps.pqCodebookTrained(spark, dir)),
    // per-variant top-3 ANN results (r11): each is #queries×3 rows read
    // by three consumers (the variant's own query + both recall
    // scorecards) — built once here so the candidate join + window
    // re-rank stops re-running per consumer per round. Each is the
    // linear production twin of the BY-DESIGN quadratic exact_topk.
    SharedStage("ann_lsh", () => SimilarityOps.similarityAnnLsh(spark, dir),
      twinOf = Some("exact_topk")),
    SharedStage("ann_ivf", () => SimilarityOps.similarityIvf(spark, dir),
      twinOf = Some("exact_topk")),
    SharedStage("ann_ivf_trained", () => SimilarityOps.similarityIvfTrained(spark, dir),
      twinOf = Some("exact_topk")),
    SharedStage("ann_ivfpq", () => SimilarityOps.similarityIvfPq(spark, dir),
      twinOf = Some("exact_topk")),
    SharedStage("ann_ivfpq_trained", () => SimilarityOps.similarityIvfPqTrained(spark, dir),
      twinOf = Some("exact_topk")),
    // k-NN edge list + its canonical/oriented derivations (r12): consumed
    // by both graph queries — without their own line the same-cell
    // candidate join billed to whichever graph query ran first
    // alphabetically (the r11 pagerank 1.5→3.9 s "move"). One stage, not
    // three: the derivations are single cheap shuffles over the cached
    // list and always build together.
    SharedStage("knn_edges", () => GraphOps.knnOriented(spark, dir)),
    // encoded word-type table (r11): shared by text_bpe_encode +
    // text_tokenizer_fertility — the 8-merge fold tower executes once
    // here instead of (interpreted, under an Expand ×2) per consumer.
    // The first build also trains the merge table.
    SharedStage("bpe_types", () => TextOps.bpeEncodedTypes(spark, dir)),
    // per-document token stats (r17): five consumers — repetition score,
    // quality gate, both training extracts, and the funnel (via the
    // gate) — each recomputed the tokenize + two-aggregation chain
    SharedStage("token_stats", () => CurationOps.tokenStatsStage(spark, dir)),
    // per-document contamination counts (r17): the shingles ⋈ benchmark
    // join + per-doc aggregation, shared by the overlap report, the
    // decontamination decision, the by-source rollup, and the funnel.
    // AFTER shingle_sets in this list so its line measures only the
    // join+agg, not the shingle build.
    SharedStage("decontam_stats", () => CurationOps.decontamStats(spark, dir))))(_.name)
}
