package graft.operators

import graft.Tables
import graft.stages.{SharedStage, Stages}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document / embedding deduplication family — the core of a training-data
  * pipeline at 100 TB:
  *
  *  - exact dedup (content-hash groupBy),
  *  - MinHash + LSH banding (shingle → 16-perm signature → 4 bands →
  *    bucket join → candidate pairs, scored by signature agreement),
  *  - SimHash (16-bit sign-of-sum sketch; equal-sketch bucketing),
  *  - exact n-gram Jaccard over an inverted shingle index with a
  *    document-frequency cap,
  *  - embedding cosine near-dup (fixed-point quantized dot product).
  *
  * Hashing is md5 (byte-identical across engines); embedding arithmetic is
  * quantized to `floor(x * 1e6)` fixed-point BIGINTs so every sum is exact
  * integer math and the derived doubles are bit-equal in Spark and DuckDB
  * regardless of summation order.
  *
  * Scale notes: every stage is a narrow projection or a hash-partitioned
  * groupBy/join on a key (shingle, signature band, sketch bucket) — the
  * classic shuffle-bounded MinHash pipeline. The df-capped inverted index
  * keeps the candidate join from exploding on stop-shingles; the LSH band
  * join replaces the O(n²) pair enumeration that would never survive a
  * 1000-executor corpus. The only O(n²) query here is the embedding
  * near-dup oracle baseline — its scale path is the LSH bucketing in
  * [[SimilarityOps.similarityAnnLsh]].
  */
object DedupOps {

  /** Word 3-gram shingle set per document, keyed by the 16-byte binary
    * md5 of the shingle (narrow HOFs: split → slide(3) → explode → md5 →
    * distinct). Hashing BEFORE the distinct is the scale move: the
    * distinct is the biggest shuffle of the whole dedup family, and it
    * now moves fixed 16-byte keys instead of ~25-byte shingle strings —
    * and md5 runs once per corpus shingle, not once per consumer (four
    * consumers derive their narrower 32/60-bit join keys from `m` with a
    * codegen'd substring, no re-hash). Parity under (astronomically
    * unlikely) md5 collisions holds BY CONSTRUCTION: the oracle CTE
    * distincts on the same md5, so both engines would merge the same
    * pair. */
  private[operators] def shingleSets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r11: the gram construction + md5 collapse into one codegen'd
    // graft_gram_hashes pass per doc (kernel == the interpreted
    // transform/concat_ws tower + md5, pinned in FunctionsSpec); below
    // 3 tokens the kernel emits no windows, replacing the size() guard
    Tables.documents(spark, dir)
      .select($"doc_id", split(lower($"text"), " ").as("ws"))
      .select($"doc_id", explode(expr("graft_gram_hashes(ws, 3)")).as("m"))
      .distinct()
  }

  /** Shared oracle CTE producing the same shingle-hash set (window-lead
    * formulation — identical multiset, DuckDB-idiomatic; `m` is the
    * 32-hex md5 string, value-equivalent to Spark's 16-byte `unhex`
    * form). NOTE: no line may begin with '|' — this CTE is embedded in
    * outer templates that call stripMargin again. */
  private[operators] val shinglesCte: String =
    """words AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w,
      |         generate_subscripts(string_split(lower(text), ' '), 1) AS pos
      |  FROM documents),
      |shingles AS (
      |  SELECT DISTINCT doc_id, md5(sh) AS m FROM (
      |    SELECT doc_id, w || ' ' || lead(w,1) OVER (PARTITION BY doc_id ORDER BY pos) ||
      |           ' ' || lead(w,2) OVER (PARTITION BY doc_id ORDER BY pos) AS sh,
      |           lead(w,2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
      |    FROM words) t WHERE w3 IS NOT NULL)""".stripMargin

  /** Exact deduplication by content hash: one row per distinct normalized
    * text, keeping the lowest doc_id. */
  def dedupExactDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy(md5(lower($"text")).as("content_hash"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy($"keep_id")
  }

  val dedupExactDocsSql: String =
    """SELECT md5(lower(text)) AS content_hash, min(doc_id) AS keep_id,
      |       count(*) AS n_copies
      |FROM documents
      |GROUP BY md5(lower(text))
      |ORDER BY keep_id""".stripMargin

  /** Incremental (cross-snapshot) dedup — the shape production pipelines
    * actually run: a NEW crawl batch is deduplicated against the hash
    * registry of the ALREADY-INGESTED corpus, then within itself. Docs
    * with `doc_id % 10 < 7` stand in for the existing corpus; the rest
    * are the incoming batch. Every batch document gets a verdict:
    * `dup_of_corpus` (its normalized content hash is already registered),
    * `dup_in_batch` (an earlier batch doc — lower doc_id — has the same
    * hash), or `new`.
    *
    * Plan shape: one narrow md5 projection, one distinct over the
    * existing side (the registry production PERSISTS as a bucketed table
    * — a few dozen bytes per distinct document, not the corpus), one
    * first-in-batch hash aggregate, and two hash-partitioned joins keyed
    * on the content hash. Nothing is corpus-proportional on a broadcast
    * side and nothing compares texts — at 100 TB the batch join touches
    * only hashes. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", md5(lower($"text")).as("content_hash"))
    val existing = docs.filter($"doc_id" % 10 < 7)
      .select($"content_hash").distinct()
      .withColumn("in_corpus", lit(1))
    val batch = docs.filter($"doc_id" % 10 >= 7)
    val firstInBatch = batch.groupBy($"content_hash")
      .agg(min($"doc_id").as("first_id"))
    batch
      .join(existing, Seq("content_hash"), "left")
      .join(firstInBatch, "content_hash")
      .select($"doc_id", $"content_hash",
        when($"in_corpus".isNotNull, "dup_of_corpus")
          .when($"doc_id" =!= $"first_id", "dup_in_batch")
          .otherwise("new").as("status"))
      .orderBy($"doc_id")
  }

  val dedupIncrementalSql: String =
    """WITH hashed AS (
      |  SELECT doc_id, md5(lower(text)) AS content_hash FROM documents),
      |existing AS (
      |  SELECT DISTINCT content_hash FROM hashed WHERE doc_id % 10 < 7),
      |batch AS (SELECT * FROM hashed WHERE doc_id % 10 >= 7),
      |first_in_batch AS (
      |  SELECT content_hash, min(doc_id) AS first_id
      |  FROM batch GROUP BY content_hash)
      |SELECT b.doc_id, b.content_hash,
      |       CASE WHEN e.content_hash IS NOT NULL THEN 'dup_of_corpus'
      |            WHEN b.doc_id <> f.first_id THEN 'dup_in_batch'
      |            ELSE 'new' END AS status
      |FROM batch b
      |LEFT JOIN existing e ON e.content_hash = b.content_hash
      |JOIN first_in_batch f ON f.content_hash = b.content_hash
      |ORDER BY b.doc_id""".stripMargin

  /** Bloom-prefiltered incremental dedup (`dedup_incremental_bloom`) —
    * the 100 TB plan for [[dedupIncremental]]'s registry join, with
    * IDENTICAL output (full oracle parity, unlike the sketch queries):
    * a Bloom filter over the already-ingested registry's 60-bit hash
    * keys turns the corpus-proportional registry join into a map-only
    * probe for the overwhelming not-previously-seen majority. Only
    * Bloom-POSITIVE batch rows (true corpus dups + the ~1% fpp) enter
    * the registry exchange; Bloom-negative rows are definitively new to
    * the corpus (no false negatives, and equal md5s truncate to equal
    * 60-bit keys) and bypass it entirely. The exact confirm join then
    * clears the false positives, so the result is bit-equal to the
    * exact query — the Bloom moves work out of the shuffle, never
    * changes the answer.
    *
    * Sizing at scale: ~1.2 GB of filter per 10^9 distinct registry docs
    * at fpp 1% — beyond a single task's comfort, the filter shards by
    * key range (each probe task loads the one shard its hash prefix
    * maps to), which composes with this plan unchanged. The in-batch
    * first-occurrence join is batch-internal and untouched. */
  def dedupIncrementalBloom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashed = hashedDocs(spark, dir)
    val fn = incrBloomFn(spark, dir)
    val existing = hashed.filter($"doc_id" % 10 < 7)
      .select($"content_hash").distinct()
      .withColumn("in_corpus", lit(1))
    val batch = hashed.filter($"doc_id" % 10 >= 7)
      .withColumn("maybe", expr(s"$fn(h60)"))
    val firstInBatch = batch.groupBy($"content_hash")
      .agg(min($"doc_id").as("first_id"))
    val confirmed = batch.filter($"maybe")
      .join(existing, Seq("content_hash"), "left")
      .select($"doc_id", $"content_hash", $"in_corpus")
    val misses = batch.filter(!$"maybe")
      .select($"doc_id", $"content_hash",
        lit(null).cast("int").as("in_corpus"))
    confirmed.unionByName(misses)
      .join(firstInBatch, "content_hash")
      .select($"doc_id", $"content_hash",
        when($"in_corpus".isNotNull, "dup_of_corpus")
          .when($"doc_id" =!= $"first_id", "dup_in_batch")
          .otherwise("new").as("status"))
      .transform(Presentation.ordered(_, $"doc_id"))
  }

  private def hashedDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", md5(lower($"text")).as("content_hash"))
      .withColumn("h60",
        conv(substring($"content_hash", 1, 15), 16, 10).cast("long"))
  }

  /** Name of the registered registry-key probe, memoized so the registry
    * Bloom build runs once per session/dir, not once per invocation. */
  private[graft] def incrBloomFn(spark: SparkSession, dir: String): String =
    Stages.memo(spark, s"bloomincr:$dir") {
      import spark.implicits._
      val name = "graft_bloom_incr_" +
        (dir.hashCode.toLong & 0xffffffffL).toHexString
      val registry = hashedDocs(spark, dir).filter($"doc_id" % 10 < 7)
        .select($"h60").distinct()
      graft.functions.BloomMightContain.buildAndRegister(
        spark, name, registry, math.max(1L, registry.count()), 0.01)
      name
    }

  /** Same oracle as the exact query — the Bloom is a plan-level
    * optimization that cannot change the result. */
  val dedupIncrementalBloomSql: String = dedupIncrementalSql

  /** Universal-hash parameters for the 16 MinHash permutations, derived
    * seedlessly from md5 on the driver and embedded as literals on both
    * engines. `a` is 28-bit odd, `b` 30-bit odd, so `a*h32 + b < 2^61`
    * never overflows a BIGINT before the modulus. */
  private[operators] val MinhashPrime = 4294967311L // smallest prime > 2^32
  private[operators] lazy val (minhashA, minhashB): (Array[Long], Array[Long]) = {
    def derive(tag: String, bits: Int): Array[Long] = Array.tabulate(16) { i =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$tag$i".getBytes("UTF-8"))
      (BigInt(1, d.take(8).toArray).toLong & ((1L << bits) - 1)) | 1L
    }
    (derive("minhash_a_", 28), derive("minhash_b_", 30))
  }

  /** Memoized, PERSISTED shingle set shared by every shingle consumer —
    * [[minhashEstimates]], [[dedupNgramJaccard]], [[dedupPrefixFilter]]
    * and [[CurationOps.contaminationNgramOverlap]]. Before this stage
    * existed each of the four re-ran the full documents explode+distinct
    * (the dominant cost of every shingle pipeline at corpus scale); now
    * the scan happens once per (session, dir) and the consumers read the
    * cached rows. Lifecycle: persisted MEMORY_AND_DISK (spills rather
    * than evicts at 100 TB shard sizes) and held for the application —
    * the set is re-read by curation queries long after the dedup
    * sketches are built, so an eager release would just re-run the scan;
    * app-end eviction is the [[Stages.memo]] backstop shared with every
    * other cached stage. */
  private[graft] def sharedShingles(spark: SparkSession, dir: String): DataFrame =
    Stages.memo(spark, s"shingles:$dir") { shingleSets(spark, dir).persist() }

  /** Memoized 60-bit inverted shingle index `(doc_id, h, df)` — the
    * hashed projection of [[sharedShingles]] with each shingle's global
    * document frequency attached, persisted once per (session, dir).
    * Three queries re-derived this independently (ngram Jaccard,
    * containment, LSH tuning), each paying its own md5 projection + df
    * shuffle per plan branch — containment alone recomputed the capped
    * view on BOTH sides of its self-join. Consumers read the cache and
    * filter `df <= cap` inline (a predicate on the cached scan), so one
    * table serves the capped candidate joins and the uncapped exact
    * verification. Same scale class as the shingle set itself: 16 bytes
    * a row, hash-partitioned, spills rather than evicts.
    *
    * Key width (widened 32 → 60 bits in r13): the 100× probe showed the
    * 32-bit `h` space paying birthday-collision candidates past ~10⁷
    * distinct shingles (n²/2³³ spurious h-matches — each caught by the
    * exact verification, so cost grew, never correctness). `h` is a
    * BIGINT either way, so the 60-bit key (the same 15-hex-char space
    * the PPJoin token ids use) costs nothing per row and pushes the
    * collision crossover past 10¹⁶ pair-comparisons; the DuckDB oracle
    * derives the identical 60-bit ints. */
  private[graft] def shingleIndex(spark: SparkSession, dir: String): DataFrame =
    Stages.memo(spark, s"shidx:$dir") {
      import spark.implicits._
      val sh = sharedShingles(spark, dir)
        .select($"doc_id",
          conv(substring(hex($"m"), 1, 15), 16, 10).cast("long").as("h"))
      sh.join(sh.groupBy($"h").agg(count(lit(1)).as("df")), "h")
        .select($"doc_id", $"h", $"df")
        .persist()
    }

  /** Memoized per-document FULL shingle-set sizes `(doc_id, nsh)` — one
    * row per document, shared by every consumer of [[shingleIndex]]. */
  private[graft] def shingleSizes(spark: SparkSession, dir: String): DataFrame =
    Stages.memo(spark, s"shsizes:$dir") {
      import spark.implicits._
      shingleIndex(spark, dir)
        .groupBy($"doc_id").agg(count(lit(1)).as("nsh"))
        .persist()
    }

  /** MinHash signatures: one md5 per shingle → 32-bit base hash → 16
    * universal-hash permutations `(a_i*h + b_i) mod p` (cheap codegen'd
    * arithmetic instead of 16 md5 calls per shingle), banded 4×4 for LSH;
    * candidates share a band, then are scored by signature agreement
    * (est. Jaccard = matching minhashes / 16) with a 0.5 cutoff.
    *
    * Shape note: all 16 minima come out of ONE hash aggregation over the
    * shingle stream (16 agg columns) — no 16× row explosion, one shuffle
    * keyed by doc_id. Band keys and the signature-agreement count are
    * plain column expressions over those 16 columns (fully codegen).
    *
    * Memoized, persisted candidate-estimate stage `(doc_a, doc_b,
    * est_jaccard)` shared by [[dedupMinhashLsh]] and [[dedupEditDistance]]
    * — the sketch DAG (shingle → signature → bands → bucket join → score)
    * is computed once per (session, dir) and its tiny output cached, so
    * the verification query never recomputes the full sketch. */
  private[graft] def minhashEstimates(spark: SparkSession, dir: String): DataFrame =
    Stages.memo(spark, s"minhash:$dir") {
      import spark.implicits._
      // hex() yields uppercase, conv() is case-insensitive — same h32 the
      // oracle derives from its lowercase md5 string
      val hv = sharedShingles(spark, dir)
        .select($"doc_id", conv(substring(hex($"m"), 1, 8), 16, 10).cast("long").as("h32"))
      val minCols = (0 until 16).map { i =>
        min(expr(s"(${minhashA(i)}L * h32 + ${minhashB(i)}L) % ${MinhashPrime}L")).as(s"mh$i")
      }
      val sig = hv.groupBy($"doc_id").agg(minCols.head, minCols.tail: _*)
      val bandStructs = (0 until 4).map { b =>
        struct(lit(b).as("band"),
          concat_ws(",", (0 until 4).map(r => col(s"mh${b * 4 + r}")): _*).as("band_key"))
      }
      val bands = sig
        .select($"doc_id", explode(array(bandStructs: _*)).as("bk"))
        .select($"doc_id", $"bk.band".as("band"), $"bk.band_key".as("band_key"))
      val cand = bands.as("a").join(bands.as("b"),
          $"a.band" === $"b.band" && $"a.band_key" === $"b.band_key" &&
            $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b")).distinct()
      val sigA = sig.toDF("doc_a" +: (0 until 16).map(i => s"a_mh$i"): _*)
      val sigB = sig.toDF("doc_b" +: (0 until 16).map(i => s"b_mh$i"): _*)
      val agreement = (0 until 16)
        .map(i => when(col(s"a_mh$i") === col(s"b_mh$i"), 1).otherwise(0))
        .reduce(_ + _)
      cand.join(sigA, "doc_a").join(sigB, "doc_b")
        .select($"doc_a", $"doc_b", (agreement / lit(16.0)).as("est_jaccard"))
        .persist()
    }

  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    minhashEstimates(spark, dir)
      .filter($"est_jaccard" >= 0.5)
      .orderBy($"doc_a", $"doc_b")
  }

  /** Shared CTE chain ending in `est(doc_a, doc_b, est_jaccard)` — used
    * by the LSH query itself and by downstream verifiers
    * (dedup_edit_distance). */
  private[operators] lazy val minhashCtes: String = {
    val params = (0 until 16)
      .map(i => s"(${i},${minhashA(i)},${minhashB(i)})").mkString(",")
    s"""WITH $shinglesCte,
       |params(i, a, b) AS (SELECT * FROM (VALUES $params)),
       |hv AS (
       |  SELECT doc_id, CAST(concat('0x', substr(m, 1, 8)) AS BIGINT) AS h32
       |  FROM shingles),
       |sigs AS (
       |  SELECT doc_id, p.i, min((p.a * h32 + p.b) % $MinhashPrime) AS mh
       |  FROM hv CROSS JOIN params p
       |  GROUP BY doc_id, p.i),
       |bands AS (
       |  SELECT doc_id, i // 4 AS band,
       |         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS band_key
       |  FROM sigs GROUP BY doc_id, i // 4),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band
       |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT c.doc_a, c.doc_b,
       |         sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 16.0 AS est_jaccard
       |  FROM cand c JOIN sigs sa ON sa.doc_id = c.doc_a
       |              JOIN sigs sb ON sb.doc_id = c.doc_b AND sa.i = sb.i
       |  GROUP BY c.doc_a, c.doc_b)""".stripMargin
  }

  lazy val dedupMinhashLshSql: String =
    s"""$minhashCtes
       |SELECT doc_a, doc_b, est_jaccard FROM est
       |WHERE est_jaccard >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Edit-distance verification of the MinHash candidates: exact
    * Levenshtein distance over the candidate pairs only (the
    * sketch-then-verify shape every production near-dup pipeline uses —
    * the O(len²) distance runs on dozens of pairs, never the corpus). */
  def dedupEditDistance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = minhashEstimates(spark, dir)
      .filter($"est_jaccard" >= 0.5).select($"doc_a", $"doc_b")
    val docs = Tables.documents(spark, dir).select($"doc_id", lower($"text").as("t"))
    pairs
      .join(docs.select($"doc_id".as("doc_a"), $"t".as("t_a")), "doc_a")
      .join(docs.select($"doc_id".as("doc_b"), $"t".as("t_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        levenshtein($"t_a", $"t_b").cast("bigint").as("edit_dist"),
        greatest(length($"t_a"), length($"t_b")).cast("bigint").as("max_len"))
      .withColumn("edit_sim",
        lit(1.0) - $"edit_dist".cast("double") / $"max_len")
      .transform(Presentation.ordered(_, $"doc_a", $"doc_b"))
  }

  lazy val dedupEditDistanceSql: String =
    s"""$minhashCtes,
       |pairs AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.5)
       |SELECT p.doc_a, p.doc_b,
       |  CAST(levenshtein(lower(a.text), lower(b.text)) AS BIGINT) AS edit_dist,
       |  CAST(greatest(length(lower(a.text)), length(lower(b.text))) AS BIGINT) AS max_len,
       |  1.0 - CAST(levenshtein(lower(a.text), lower(b.text)) AS DOUBLE)
       |        / greatest(length(lower(a.text)), length(lower(b.text))) AS edit_sim
       |FROM pairs p JOIN documents a ON a.doc_id = p.doc_a
       |             JOIN documents b ON b.doc_id = p.doc_b
       |ORDER BY p.doc_a, p.doc_b""".stripMargin

  /** 16-bit SimHash per document: per bit j, sum ±1 over the j-th bit of
    * each token's hash; sketch bit = sign of the sum. Documents sharing a
    * sketch are duplicate candidates (hamming-0 bucketing — the
    * shuffle-cheap case; wider hamming radii are a multi-probe extension). */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    simhashSketch(spark, dir)
      .select($"doc_id", $"simhash",
        count(lit(1)).over(Window.partitionBy($"simhash")).as("n_bucket"))
      .orderBy($"doc_id")
  }

  /** The `(doc_id, simhash)` sketch shared by [[dedupSimhash]] and
    * [[dedupSimhashProbe]]. Single-pass: all 16 bit-sums as agg columns
    * of ONE groupBy(doc_id) over the token stream — no ×16 row explosion,
    * one shuffle keyed by doc_id (same shape as the MinHash signature
    * agg). Memoized + persisted per (session, dir) like the MinHash
    * estimates: the probe query joins it to itself and the bucket query
    * windows over it, so without the cache each caller re-ran the full
    * token explode+agg. The cached output is one (long, long) row per
    * document — tiny. */
  private[graft] def simhashSketch(spark: SparkSession, dir: String): DataFrame =
    Stages.memo(spark, s"simhash:$dir") {
      import spark.implicits._
      val hv = Tables.documents(spark, dir)
        .select($"doc_id", explode(split(lower($"text"), " ")).as("w"))
        .filter($"w" =!= "")
        .select($"doc_id", conv(substring(md5($"w"), 1, 4), 16, 10).cast("int").as("h"))
      val bitSums = (0 until 16).map { j =>
        sum(when(expr(s"(shiftright(h, $j) & 1) = 1"), 1).otherwise(-1)).as(s"s$j")
      }
      hv.groupBy($"doc_id").agg(bitSums.head, bitSums.tail: _*)
        .select($"doc_id",
          (0 until 16).map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
            .reduce(_ + _).as("simhash"))
        .persist()
    }

  /** Multi-probe SimHash: near-dup candidate pairs at hamming distance
    * ≤ 1, found WITHOUT an all-pairs scan. Each document emits 17 probe
    * keys (its sketch plus all 16 single-bit flips); a pair is a
    * candidate iff one side's probe equals the other side's original
    * sketch — so hamming-0 and hamming-1 pairs each match EXACTLY once
    * (probe values per doc are pairwise distinct), no dedup pass needed.
    * Execution shape: a narrow 17× explode of the tiny sketch table,
    * then one hash-partitioned equi-join on the 8-byte probe key — the
    * same bucketed shape as hamming-0, never O(n²). The oracle states
    * the SEMANTICS as the all-pairs bit_count(xor) predicate; this plan
    * is the sub-quadratic way to compute it. */
  def dedupSimhashProbe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sketch = simhashSketch(spark, dir)
    val probes = sketch.select($"doc_id".as("doc_a"), $"simhash".as("sh_a"),
      explode(array($"simhash" +:
        (0 until 16).map(j => $"simhash".bitwiseXOR(lit(1L << j))): _*)).as("probe"))
    probes.join(
        sketch.select($"doc_id".as("doc_b"), $"simhash".as("sh_b")),
        $"probe" === $"sh_b" && $"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b",
        expr("bit_count(sh_a ^ sh_b)").cast("int").as("hamming"))
      .orderBy($"doc_a", $"doc_b")
  }

  val dedupSimhashSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents),
      |hv AS (
      |  SELECT doc_id, CAST(concat('0x', substr(md5(w), 1, 4)) AS INT) AS h
      |  FROM toks WHERE w <> ''),
      |bits AS (
      |  SELECT doc_id, r.j,
      |         sum(CASE WHEN (h >> r.j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM hv CROSS JOIN range(16) r(j)
      |  GROUP BY doc_id, r.j),
      |sh AS (
      |  SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS simhash
      |  FROM bits GROUP BY doc_id)
      |SELECT doc_id, simhash, count(*) OVER (PARTITION BY simhash) AS n_bucket
      |FROM sh ORDER BY doc_id""".stripMargin

  /** Oracle for [[dedupSimhashProbe]]: the all-pairs hamming predicate —
    * O(n²) is fine for the oracle's job of stating semantics. */
  val dedupSimhashProbeSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents),
      |hv AS (
      |  SELECT doc_id, CAST(concat('0x', substr(md5(w), 1, 4)) AS INT) AS h
      |  FROM toks WHERE w <> ''),
      |bits AS (
      |  SELECT doc_id, r.j,
      |         sum(CASE WHEN (h >> r.j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM hv CROSS JOIN range(16) r(j)
      |  GROUP BY doc_id, r.j),
      |sh AS (
      |  SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS simhash
      |  FROM bits GROUP BY doc_id)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Exact word-3-gram Jaccard near-dup pairs via an inverted shingle
    * index. Shingles appearing in more than 50 documents are dropped from
    * the index (df cap — bounds the candidate join fan-out the way real
    * near-dup pipelines do); pair similarity = |∩| / (|A| + |B| − |∩|),
    * cutoff 0.5. */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the finished pair set is memoized per (session, dir) like the
    // PPJoin pairs: without it every call re-persisted a fresh shingle
    // set and LEAKED it (no unpersist) — the same block-manager leak
    // class the prefix-filter cache fix closed. The build is lazy (first
    // action materializes it) and its only inputs are the session-shared
    // [[shingleIndex]]/[[shingleSizes]] caches, so nothing here needs an
    // eager materialize-and-release cycle of its own.
    val pairs = Stages.memo(spark, s"ngram:$dir") {
      // the hashed + df-attached inverted index is the session-shared
      // [[shingleIndex]] stage (60-bit md5-derived ints: 8-byte join/
      // shuffle keys instead of ~30-byte strings; the oracle derives the
      // identical ints, so a ≈n²/2⁶¹ vanishing hash collision would
      // affect both engines identically — parity by construction). The
      // df cap is a predicate on the cached scan; per-doc sizes come
      // from the shared [[shingleSizes]] stage.
      val capped = shingleIndex(spark, dir)
        .filter($"df" <= 50).select($"doc_id", $"h")
      val sizes = shingleSizes(spark, dir)
      val inter = capped.as("a").join(capped.as("b"),
          $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
        .agg(count(lit(1)).as("n_inter"))
      val jac = $"n_inter".cast("double") / ($"nsh_a" + $"nsh_b" - $"n_inter")
      inter
        .join(sizes.select($"doc_id".as("doc_a"), $"nsh".as("nsh_a")), "doc_a")
        .join(sizes.select($"doc_id".as("doc_b"), $"nsh".as("nsh_b")), "doc_b")
        .select($"doc_a", $"doc_b", jac.as("jaccard"))
        .filter($"jaccard" >= 0.5)
        .persist()
    }
    pairs.orderBy($"doc_a", $"doc_b")
  }

  val dedupNgramJaccardSql: String =
    s"""WITH $shinglesCte,
       |shv AS (
       |  SELECT doc_id, CAST(concat('0x', substr(m, 1, 15)) AS BIGINT) AS h
       |  FROM shingles),
       |df AS (SELECT h, count(*) AS nd FROM shv GROUP BY h),
       |sized AS (SELECT doc_id, count(*) AS nsh FROM shv GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM shv a JOIN shv b ON a.h = b.h AND a.doc_id < b.doc_id
       |  JOIN df ON df.h = a.h AND df.nd <= 50
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT i.doc_a, i.doc_b,
       |       CAST(i.n_inter AS DOUBLE) / (sa.nsh + sb.nsh - i.n_inter) AS jaccard
       |FROM inter i JOIN sized sa ON sa.doc_id = i.doc_a
       |             JOIN sized sb ON sb.doc_id = i.doc_b
       |WHERE CAST(i.n_inter AS DOUBLE) / (sa.nsh + sb.nsh - i.n_inter) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** DIRECTED shingle-containment near-dup pairs: every ordered pair
    * (doc_a, doc_b) where ≥ 80% of doc_a's 3-gram shingles also occur in
    * doc_b — the subsumption relation symmetric Jaccard misses. A short
    * quote, a boilerplate header, or a truncated copy is CONTAINED in
    * its source (containment ≈ 1) while its Jaccard stays far below any
    * dedup cutoff; training pipelines drop the contained side, not the
    * superset. Intersections are counted over the df≤50-capped inverted
    * index (identical cap in the oracle — the bound that keeps the
    * candidate join sub-quadratic on stop-shingles), sizes over the FULL
    * shingle set; the keep filter is the exact integer cross-multiply
    * `5·|A∩B| ≥ 4·|A|`, the division only decorates the output.
    *
    * Plan shape (reworked r15 — the r14 ladder measured the previous
    * full-index self-join's per-run task-CPU growing ×5.9 on the ×3.33
    * sf3→sf10 step while its sibling `ngram_pairs` stayed ~linear):
    * a DIRECTED prefix filter plus the PPJoin verify kernel, the same
    * treatment that fixed `ppjoin_pairs`' growth law.
    *
    *  - PREFIX (exact, integer): a pair passes iff
    *    `|A_c ∩ B_c| ≥ m` where `A_c` = A's df≤50 capped shingles and
    *    `m = ⌈4·|A|/5⌉` (5·n ≥ 4·s ⟺ n ≥ ⌈4s/5⌉). At most
    *    `|A_c| − m` of A_c's shingles can miss B, so among A's
    *    `|A_c| − m + 1` RAREST capped shingles (ascending global df —
    *    the cheapest postings) at least one must hit B's postings:
    *    the candidate join touches only that ~⌈0.2·|A_c|⌉-sized prefix
    *    on the A side instead of every posting on both sides, and a doc
    *    with `|A_c| < m` (too many stop-shingles excluded by the cap)
    *    provably cannot head a pair and is dropped before the join.
    *  - POSITIONAL (exact): both sides rank their postings in the same
    *    global (df, h) order, and a join row at ranks (pa, pb) can only
    *    head a true pair if `1 + min(ca − pa, cb − pb) ≥ m` — see the
    *    body comment for the first-common-element argument. This is the
    *    filter that did the heavy lifting in `ppjoin_pairs`.
    *  - VERIFY: survivors intersect their h-ascending capped arrays in
    *    the codegen [[graft.functions.SortedIntersectCount]] merge scan
    *    — per-pair O(|A|+|B|) primitive compares, replacing the old
    *    `groupBy(doc_a, doc_b).count()` over the Σ_h df² join output
    *    (the mass that grew super-linearly while dup-dense shingles
    *    saturated toward the df cap).
    *
    * The per-doc arrays are the memoized [[containmentTok]] stage (one
    * linear collect+sort aggregate per session, its own bench stage
    * line). Every shuffle keys on the 8-byte shingle hash or doc_id;
    * nothing corpus-proportional is broadcast. */
  /** Memoized per-document CAPPED shingle arrays for the containment
    * join `(doc_id, hs, hss, c_len, nsh, m)` — the same genus of derived
    * index as [[shingleIndex]]/[[shingleSizes]], persisted once per
    * (session, dir) and registered as its own bench stage:
    *  - `hs`: the doc's df≤50 shingles ascending by (global df, h) —
    *    the fixed rarest-first total order the prefix lemma needs;
    *  - `hss`: the same set ascending by h — the order the
    *    [[graft.functions.SortedIntersectCount]] merge scan requires;
    *  - `c_len` = |A_c| (capped count), `nsh` = |A| (FULL set size, the
    *    containment denominator — the cap applies to the intersection
    *    only, same as the oracle), `m` = ⌈4·nsh/5⌉ (the integer
    *    intersection threshold: 5·n ≥ 4·s ⟺ n ≥ ⌈4s/5⌉). */
  private[graft] def containmentTok(spark: SparkSession, dir: String): DataFrame =
    Stages.memo(spark, s"ctok:$dir") {
      import spark.implicits._
      // collect_set, not collect_list: the SortedIntersectCount verify
      // kernel CONTRACTS duplicate-free arrays, and while shingleIndex
      // rows are distinct by the full 16-byte md5, two distinct shingles
      // of one doc could in principle collide in the 60-bit h space
      // (per-doc birthday over 2^60 — negligible, but the set aggregate
      // makes the kernel's precondition structural instead of assumed).
      // In that event the oracle's posting self-join counts the product
      // of the collided postings where the kernel counts the merged h
      // once; both reflect the same underlying hash collision and the
      // divergence probability is the same 2^-60 birthday already
      // accepted for the shingle key space (SURVEY §6 r13 note).
      shingleIndex(spark, dir).filter($"df" <= 50)
        .groupBy($"doc_id")
        .agg(sort_array(collect_set(struct($"df", $"h"))).as("ts"))
        .join(shingleSizes(spark, dir), "doc_id")
        .select($"doc_id",
          expr("transform(ts, x -> x.h)").as("hs"),
          expr("sort_array(transform(ts, x -> x.h))").as("hss"),
          size($"ts").cast("long").as("c_len"),
          $"nsh",
          expr("(4 * nsh + 4) div 5").as("m"))
        .persist()
    }

  def dedupContainment(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tok = containmentTok(spark, dir)
    // A-side prefix postings with their 1-based rank in the (df, h)
    // order; a doc with c_len < m provably cannot head a pair
    val pfx = tok.filter($"c_len" >= $"m")
      .select($"doc_id".as("doc_a"), $"c_len".as("ca"), $"m",
        posexplode(expr("slice(hs, 1, cast(c_len - m + 1 as int))")))
      .select($"doc_a", $"ca", $"m",
        ($"pos" + 1).cast("long").as("pa"), $"col".as("h"))
    // B-side: EVERY capped posting, also ranked — the positional filter
    // needs both ranks (same global order on both sides)
    val posted = tok
      .select($"doc_id".as("doc_b"), $"c_len".as("cb"), posexplode($"hs"))
      .select($"doc_b", $"cb", ($"pos" + 1).cast("long").as("pb"), $"col".as("h"))
    // POSITIONAL bound (PPJoin's, adapted to the directed threshold):
    // both hs arrays are sorted by the SAME global (df, h) order, so the
    // smallest common shingle sits at some (pa, pb) and every other
    // common shingle ranks strictly after it in BOTH docs — hence
    // n_inter ≤ 1 + min(ca − pa, cb − pb). A true pair's first-match
    // posting row satisfies the bound, so filtering join rows by it
    // loses nothing (the sf1 probe measured the bare prefix join at
    // ~60 candidates/doc; the positional bound is what turned PPJoin's
    // candidate set into ~1 per true pair).
    val cand = pfx.join(posted, "h")
      .filter($"doc_a" =!= $"doc_b" &&
        lit(1) + least($"ca" - $"pa", $"cb" - $"pb") >= $"m")
      .select($"doc_a", $"doc_b").distinct()
    cand
      .join(tok.select($"doc_id".as("doc_a"),
        $"hss".as("hss_a"), $"nsh".as("nsh_a")), "doc_a")
      .join(tok.select($"doc_id".as("doc_b"), $"hss".as("hss_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        expr("graft_icount_sorted(hss_a, hss_b)").as("n_inter"), $"nsh_a")
      .filter($"n_inter" * 5 >= $"nsh_a" * 4)
      .select($"doc_a", $"doc_b", $"n_inter", $"nsh_a",
        ($"n_inter".cast("double") / $"nsh_a".cast("double")).as("containment"))
      .orderBy($"doc_a", $"doc_b")
  }

  val dedupContainmentSql: String =
    s"""WITH $shinglesCte,
       |shv AS (
       |  SELECT doc_id, CAST(concat('0x', substr(m, 1, 15)) AS BIGINT) AS h
       |  FROM shingles),
       |df AS (SELECT h, count(*) AS nd FROM shv GROUP BY h),
       |capped AS (SELECT s.doc_id, s.h FROM shv s JOIN df USING (h) WHERE df.nd <= 50),
       |sized AS (SELECT doc_id, count(*) AS nsh FROM shv GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id <> b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT i.doc_a, i.doc_b, CAST(i.n_inter AS BIGINT) AS n_inter,
       |       CAST(sa.nsh AS BIGINT) AS nsh_a,
       |       CAST(i.n_inter AS DOUBLE) / CAST(sa.nsh AS DOUBLE) AS containment
       |FROM inter i JOIN sized sa ON sa.doc_id = i.doc_a
       |WHERE 5 * i.n_inter >= 4 * sa.nsh
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Token count below which a repeated cross-document span is ignored —
    * the K of the K-gram pass. Lee et al. 2022 use 50 BPE tokens on web
    * corpora; 8 whitespace tokens is the same idea scaled to the
    * ~54-token synthetic docs. */
  private val SpanGram = 8

  /** Cross-document REPEATED-SUBSTRING spans (`dedup_repeated_substrings`)
    * — the distributed stand-in for the suffix-array pass of Lee et al.
    * 2022 ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499), which removes VERBATIM repeated substrings
    * (boilerplate, licenses, templated headers) that whole-document
    * near-dup families never see. For every document, emits the maximal
    * token spans of length ≥ [[SpanGram]] whose every [[SpanGram]]-gram
    * also occurs in at least one OTHER document:
    *
    *  1. positional K-gram stream — one `(doc_id, pos, h60(gram))` row
    *     per token position (narrow: split → kernel, all codegen; the
    *     8-byte 60-bit hash moves through every shuffle, the ~8-word
    *     gram string never leaves the scan stage);
    *  2. duplicated-gram classification — `count(DISTINCT doc_id) ≥ 2`
    *     per gram hash (partial+final two-level aggregate);
    *  3. a LEFT SEMI join of the positional stream back onto the
    *     duplicated keys — both sides hash-partitioned on the same
    *     8-byte key, so AQE plans one co-located shuffle;
    *  4. per-document span merge — gaps-and-islands over `pos`
    *     (overlapping/adjacent hits, gap ≤ K, coalesce into one island),
    *     a window partitioned by doc_id whose state is bounded by
    *     document length, never corpus size.
    *
    * At 100 TB no stage is corpus-proportional on a single node: the
    * gram aggregate and semi-join shard on the hash, the window shards
    * on doc_id. A suffix array would find spans ≥ K with arbitrary
    * alignment; the K-gram lattice finds exactly the same spans (any
    * duplicated run of length L ≥ K contains L−K+1 duplicated K-grams at
    * every offset, which merge back into one island), at the cost of
    * K-gram classification granularity — the standard trade
    * (ExactSubstr vs its MinHash approximations in the paper's §4).
    *
    * Parity: both engines classify on the md5 of the identical gram
    * string; the island arithmetic is pure integer math. */
  /** The merged spans themselves `(doc_id, span_start, span_end,
    * n_dup_grams)` — shared by the span REPORT
    * ([[dedupRepeatedSubstrings]]) and the span REMOVAL
    * ([[textStripRepeatedSpans]]). */
  /** Memoized shared stage (r11): BOTH consumers — the span report
    * (`dedup_repeated_substrings`) and the span removal
    * (`text_strip_repeated_spans`) — previously rebuilt the whole K-gram
    * lattice (positional gram hashing, the cross-doc dup-gram agg, the
    * semi join, and two stacked windows) from scratch; at the sf1 probe
    * each paid 11-12 s. The finished span table is tiny (spans per doc),
    * so it persists whole and the pair shares one build, the
    * `dup_windows`/`exact_topk` pattern. */
  private[graft] def repeatedSpans(spark: SparkSession, dir: String): DataFrame =
    Stages.memo(spark, s"dupspans:$dir") { buildRepeatedSpans(spark, dir).persist() }

  private def buildRepeatedSpans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val K = SpanGram
    // graft_gram_hashes60 = the interpreted transform/slice/concat_ws/md5/
    // conv tower in one codegen'd pass (kernel == tower pinned in
    // FunctionsSpec). 60-bit longs, not 16-byte binaries (r14): the gram
    // stream is one row per token position — the groupBy and the semi
    // join below shuffle 8-byte keys instead of 16-byte digests. The
    // oracle derives the identical 60-bit ints, so parity is exact even
    // in the astronomically-unlikely collision case (a collision would
    // merge two grams in BOTH engines).
    val grams = Tables.documents(spark, dir)
      .select($"doc_id", split(lower($"text"), " ").as("ws"))
      .filter(size($"ws") >= K)
      .select($"doc_id", posexplode(expr(s"graft_gram_hashes60(ws, $K)")))
      .select($"doc_id", ($"pos" + 1).cast("bigint").as("pos"), $"col".as("g"))
    val dupGrams = grams.groupBy($"g")
      .agg(countDistinct($"doc_id").as("nd")).filter($"nd" >= 2).select($"g")
    val hits = grams.join(dupGrams, Seq("g"), "left_semi")
    val byPos = Window.partitionBy($"doc_id").orderBy($"pos")
    val islands = hits
      .withColumn("brk",
        when($"pos" - lag($"pos", 1).over(byPos) <= K, lit(0L)).otherwise(lit(1L)))
      .withColumn("island", sum($"brk").over(byPos))
    islands.groupBy($"doc_id", $"island")
      .agg(min($"pos").as("span_start"), (max($"pos") + (K - 1)).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
  }

  def dedupRepeatedSubstrings(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    repeatedSpans(spark, dir)
      .select($"doc_id", $"span_start", $"span_end",
        ($"span_end" - $"span_start" + 1).as("span_tokens"), $"n_dup_grams")
      .orderBy($"doc_id", $"span_start")
  }

  val dedupRepeatedSubstringsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      |grams AS (
      |  SELECT doc_id, pos, CAST(concat('0x',
      |    substr(md5(array_to_string(ws[pos:pos+7], ' ')), 1, 15)) AS BIGINT) AS g
      |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS pos
      |        FROM toks WHERE len(ws) >= 8)),
      |dup AS (SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
      |hits AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)),
      |isl AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
      |         THEN 0 ELSE 1 END AS brk
      |  FROM hits),
      |grp AS (
      |  SELECT doc_id, pos,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM isl)
      |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
      |       CAST(max(pos) + 7 AS BIGINT) AS span_end,
      |       CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS span_tokens,
      |       CAST(count(*) AS BIGINT) AS n_dup_grams
      |FROM grp GROUP BY doc_id, island
      |ORDER BY doc_id, span_start""".stripMargin

  /** Repeated-span REMOVAL (`text_strip_repeated_spans`) — the action the
    * span report exists for: Lee et al. 2022 delete each duplicated
    * substring from the corpus (not the whole document), keeping the
    * unique prose around it. Per document: the normalized (lowercased)
    * text with every [[repeatedSpans]] span deleted, plus kept/removed
    * token counts — `''` for a fully-boilerplate doc.
    *
    * Plan shape: the positional token stream anti-joins the span table —
    * an equi-join on doc_id with the BETWEEN containment as a residual
    * predicate, hash-partitioned on doc_id (spans per doc are few, the
    * residual scan is bounded by doc span count) — then one groupBy
    * doc_id whose sort-in-aggregate state is bounded by document length;
    * the final LEFT join back to the corpus spine restores span-free
    * documents. Nothing is corpus-proportional on a driver or broadcast
    * side. */
  def textStripRepeatedSpans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", posexplode(split(lower($"text"), " ")))
      .select($"doc_id", ($"pos" + 1).cast("bigint").as("pos"), $"col".as("w"))
    val spans = repeatedSpans(spark, dir)
    val kept = toks.as("t").join(spans.as("s"),
        $"t.doc_id" === $"s.doc_id" &&
          $"t.pos" >= $"s.span_start" && $"t.pos" <= $"s.span_end",
        "left_anti")
      .groupBy($"doc_id")
      .agg(
        array_join(
          expr("transform(array_sort(collect_list(struct(pos, w))), x -> x.w)"),
          " ").as("kept_text"),
        count(lit(1)).as("n_kept"))
    Tables.documents(spark, dir)
      .select($"doc_id", size(split(lower($"text"), " ")).cast("bigint").as("n_tok"))
      .join(kept, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"kept_text", lit("")).as("kept_text"),
        coalesce($"n_kept", lit(0L)).as("n_kept_tokens"),
        ($"n_tok" - coalesce($"n_kept", lit(0L))).as("n_removed_tokens"))
      .orderBy($"doc_id")
  }

  val textStripRepeatedSpansSql: String =
    """WITH toksrc AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      |toks AS (
      |  SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w
      |  FROM toksrc),
      |grams AS (
      |  SELECT doc_id, pos, CAST(concat('0x',
      |    substr(md5(array_to_string(ws[pos:pos+7], ' ')), 1, 15)) AS BIGINT) AS g
      |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS pos
      |        FROM toksrc WHERE len(ws) >= 8)),
      |dup AS (SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
      |hits AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)),
      |isl AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
      |         THEN 0 ELSE 1 END AS brk
      |  FROM hits),
      |grp AS (
      |  SELECT doc_id, pos,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM isl),
      |spans AS (
      |  SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
      |  FROM grp GROUP BY doc_id, island),
      |kept AS (
      |  SELECT t.doc_id, string_agg(t.w, ' ' ORDER BY t.pos) AS kept_text,
      |         count(*) AS n_kept
      |  FROM toks t
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM spans s
      |    WHERE s.doc_id = t.doc_id
      |      AND t.pos BETWEEN s.span_start AND s.span_end)
      |  GROUP BY t.doc_id)
      |SELECT d.doc_id,
      |  coalesce(k.kept_text, '') AS kept_text,
      |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept_tokens,
      |  CAST(len(string_split(lower(d.text), ' ')) - coalesce(k.n_kept, 0) AS BIGINT)
      |    AS n_removed_tokens
      |FROM documents d LEFT JOIN kept k USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Embedding cosine near-duplicate pairs (exact, cutoff 0.4) with the
    * fixed-point quantization from [[SimilarityOps]].
    *
    * Execution shape: a BLOCK-PARTITIONED all-pairs join, not a
    * broadcast nested loop. Each side is exploded over [[CosineBlocks]]
    * block keys so every unordered vector pair lands in exactly one
    * `(blk_a, blk_b)` bucket; the join is a plain hash-partitioned
    * equi-join on that composite key, spreading the O(n²) scoring over
    * blocks² reducer groups (AQE can split stragglers). Exact pairwise
    * cosine is inherently O(n²) work — this makes the shape distributable;
    * the sub-quadratic route at corpus scale is the approximate family
    * ([[SimilarityOps.similarityAnnLsh]], [[dedupMinhashLsh]]). LSH
    * cannot replace exactness here: the testdata (and any real corpus)
    * has a dense cosine continuum through the 0.4 cutoff, so no
    * sign-projection scheme reaches recall 1.0. */
  private val CosineBlocks = 16

  def dedupEmbeddingCosine(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = SimilarityOps.quantized(spark, dir)
      .withColumn("blk", pmod($"vec_id", lit(CosineBlocks)).cast("int"))
    val blocks = explode(expr(s"sequence(0, ${CosineBlocks - 1})"))
    // a-side key (own block, partner block j); b-side key (partner block
    // i, own block): pair (a,b) matches in exactly one bucket — no
    // distinct needed, every bucket holds (n/B)² candidates
    val aSide = n.select($"vec_id".as("vec_a"), $"q".as("qa"), $"n2".as("n2a"),
      $"blk".as("ka"), blocks.as("kb"))
    val bSide = n.select($"vec_id".as("vec_b"), $"q".as("qb"), $"n2".as("n2b"),
      blocks.as("ka"), $"blk".as("kb"))
    aSide.join(bSide, Seq("ka", "kb"))
      .filter($"vec_a" < $"vec_b")
      .select($"vec_a", $"vec_b",
        SimilarityOps.cosine("qa", "qb", "n2a", "n2b").as("cos_sim"))
      .filter($"cos_sim" >= 0.4)
      .orderBy($"vec_a", $"vec_b")
  }

  val dedupEmbeddingCosineSql: String =
    s"""WITH ${SimilarityOps.quantizedCte}
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |       ${SimilarityOps.cosineSql("a", "b")} AS cos_sim
       |FROM n a JOIN n b ON a.vec_id < b.vec_id
       |WHERE ${SimilarityOps.cosineSql("a", "b")} >= 0.4
       |ORDER BY vec_a, vec_b""".stripMargin

  /** SemDeDup (`dedup_semantic` / `dedup_semantic_pivots`): semantic
    * deduplication by clustering embeddings and deduplicating only
    * WITHIN clusters (Abbas et al., "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication", arXiv:2303.09540). A
    * vector is `dropped` when a smaller-id vector in the SAME cluster
    * has cosine ≥ 0.4 (the paper's keep-one-per-near-dup-group rule
    * with doc-id as the canonical order), `kept` otherwise.
    *
    * This collapses [[dedupEmbeddingCosine]]'s exact O(n²) SCORING to
    * within-cluster work, hash-partitioned by cluster_id. The trade is
    * recall: only same-cluster pairs are seen (the suite measures
    * recall against the exact baseline, for BOTH coarse quantizers).
    *
    * The shared core takes the coarse assignment as input; the two
    * registered variants differ only there — see [[dedupSemantic]]
    * (trained bounded-K, the default) and [[dedupSemanticPivots]]
    * (density pivots, the oracle-checkable form). */
  private def semanticDedupCore(
      spark: SparkSession, dir: String, cacheKey: String,
      assign: DataFrame): DataFrame = {
    import spark.implicits._
    val n = SimilarityOps.quantized(spark, dir)
    // persisted: feeds four plan branches (both self-join sides, the dup
    // set, and the final status join) — without the cache the
    // assign⋈quantized shuffle join would recompute per branch
    val withVec = Stages.memo(spark, s"$cacheKey:$dir") {
      assign.join(n, "vec_id").persist()
    }
    val aSide = withVec.select($"cluster_id", $"vec_id".as("vec_a"),
      $"q".as("qa"), $"n2".as("n2a"))
    val bSide = withVec.select($"cluster_id", $"vec_id".as("vec_b"),
      $"q".as("qb"), $"n2".as("n2b"))
    val dups = aSide.join(bSide, Seq("cluster_id"))
      .filter($"vec_a" < $"vec_b")
      .filter(SimilarityOps.cosine("qa", "qb", "n2a", "n2b") >= 0.4)
      .select($"vec_b".as("vec_id")).distinct()
    withVec.join(dups.withColumn("dup", lit(1)), Seq("vec_id"), "left_outer")
      .select($"vec_id", $"cluster_id",
        when($"dup".isNotNull, "dropped").otherwise("kept").as("status"))
      .orderBy($"vec_id")
  }

  /** The DEFAULT SemDeDup: coarse step = the TRAINED bounded-K spherical
    * k-means quantizer ([[SimilarityOps.kmeansAssign]]) — O(K·n)
    * assignment against a K-row broadcast, exactly as the SemDeDup paper
    * runs k-means. This is the 100 TB shape: cluster count is fixed at
    * K, the broadcast never grows with the corpus, and the
    * within-cluster join stays hash-partitioned by cluster_id. Cluster
    * ids are model-derived, so there is no closed-form SQL oracle (like
    * `similarity_ivf_trained` / `anomaly_kmeans`); the suite asserts row
    * conservation, exact-baseline witnesses for every drop, and a recall
    * floor — while [[dedupSemanticPivots]] keeps the byte-exact DuckDB
    * oracle on the same core. */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame =
    semanticDedupCore(spark, dir, "semvecT",
      SimilarityOps.kmeansAssign(spark, dir))

  /** The ORACLE-CHECKABLE SemDeDup variant: clusters reuse the IVF
    * coarse quantizer's deterministic density pivots (vec_id ≡ 7 mod
    * 64, max-cosine assignment via the memoized
    * [[SimilarityOps.ivfAssign]] stage shared with the IVF/IVF-PQ
    * candidate generation). Pivot DENSITY is constant, so expected
    * cluster size stays ~64 and the within-cluster join does O(32·n)
    * cosine evaluations — but assignment prices at n·(n/64) dot
    * products with a corpus-growing pivot broadcast: exact-oracle work
    * at test scale, deliberately NOT the default (see
    * [[dedupSemantic]]). */
  def dedupSemanticPivots(spark: SparkSession, dir: String): DataFrame =
    semanticDedupCore(spark, dir, "semvec",
      SimilarityOps.ivfAssign(spark, dir)
        .withColumnRenamed("pivot_id", "cluster_id"))

  val dedupSemanticSql: String =
    s"""WITH ${SimilarityOps.quantizedCte},
       |${SimilarityOps.assignCte},
       |dups AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM assign a JOIN assign b
       |    ON a.pivot_id = b.pivot_id AND a.vec_id < b.vec_id
       |  JOIN n na ON na.vec_id = a.vec_id
       |  JOIN n nb ON nb.vec_id = b.vec_id
       |  WHERE ${SimilarityOps.cosineSql("na", "nb")} >= 0.4)
       |SELECT a.vec_id, a.pivot_id AS cluster_id,
       |  CASE WHEN d.vec_id IS NOT NULL THEN 'dropped' ELSE 'kept' END AS status
       |FROM assign a LEFT JOIN dups d ON d.vec_id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin

  /** EXACT Jaccard similarity join (threshold 0.5) via PPJoin-style
    * prefix filtering — the exact counterpart of the MinHash+LSH
    * approximation, over the SAME 3-gram shingle sets: where
    * [[dedupMinhashLsh]] estimates Jaccard from 16 hash minima, this
    * finds every pair whose TRUE Jaccard ≥ 0.5, with no false negatives
    * (shingles are dictionary-compressed to 60-bit md5 keys for the
    * joins; a collision could only merge shingles and raise a pair's
    * apparent similarity — it can never hide a true pair).
    *
    * The all-pairs trap is avoided by three classic filters, all
    * integer-exact:
    *  - PREFIX: order each doc's shingles by ascending global document
    *    frequency (rarest first); if J(A,B) ≥ t, the first
    *    |A| − ⌈t·|A|⌉ + 1 shingles of A and B must share one — so the
    *    candidate join only touches prefix shingles (an equi-join on the
    *    shingle key, hash-partitionable at any scale).
    *  - LENGTH: t·|A| ≤ |B| ≤ |A|/t, or the threshold is unreachable.
    *  - POSITIONAL: the remaining-suffix bound
    *    1 + min(|A|−posA, |B|−posB) ≥ ⌈(|A|+|B|)·t/(1+t)⌉ kills
    *    candidates whose shared prefix token sits too late (measured:
    *    29 candidates for 28 true pairs at sf0.001).
    * (PPJoin's asymmetric index/probe prefix split — the shorter record
    * indexed by only its 2t/(1+t)-prefix — was implemented and measured
    * in r14, and rejected: the positional filter already implies the
    * index-prefix cutoff for every surviving pair, and the split's two
    * distinct join inputs forfeit Spark's exchange reuse for the
    * self-join, costing more than the 1/3 probe fan-out cut saves at
    * every tested scale. See the candidate-join comment in the body.)
    * Survivors are verified by exact intersection counting — the
    * codegen'd [[graft.functions.SortedIntersectCount]] merge scan over
    * per-doc h-sorted arrays. Everything is a hash join or hash
    * aggregate on a key — no broadcast of anything corpus-proportional,
    * no cartesian. */
  def dedupPrefixFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the finished pair set is memoized per (session, dir) like the
    // MinHash estimates: repeated invocations in one long-lived session
    // (the driver runs every query in one app) reuse the tiny cached
    // result instead of stacking a fresh pair of persisted shingle
    // intermediates per call — tok/pfx are eagerly materialized into the
    // result below and unpersisted before this block returns
    val pairs = Stages.memo(spark, s"ppjoin:$dir") {
      // every join/group key is a 60-bit md5-derived long, not the 3-word
      // shingle string: the rank join, the prefix index/probe join and
      // both verify joins shuffle 8-byte keys instead of
      // ~25-byte strings (same md5-int trick that sped up ngram_jaccard;
      // the oracle hashes identically, so parity is exact even in the
      // astronomically-unlikely collision case). The 60-bit keys and the
      // df column come from the SHARED [[shingleIndex]] stage — ppjoin
      // previously re-derived both (its own md5 projection + a dfreq
      // shuffle over ~26M rows at the 100× probe) on every cold build.
      //
      // CANONICALIZE-THEN-JOIN (r11; lifted from text-md5 to the SHINGLE
      // SET in r14): J(a, b) depends only on the two shingle sets, so the
      // whole PPJoin pipeline runs on ONE representative per distinct
      // shingle set and member pairs are rebuilt afterwards in
      // output-sized expansion joins. Set-level grouping subsumes the old
      // exact-text grouping (equal text ⟹ equal set) and additionally
      // collapses docs whose bytes differ but whose 3-gram sets agree —
      // on the 100 TB corpus the class that matters is boilerplate
      // re-serialized with spacing/field-order drift, which text-md5
      // missed and which otherwise squares into the prefix join. The
      // canonical key is the md5 of the h-sorted 60-bit array (128-bit
      // on purpose: a key collision would wrongly MERGE two docs, so the
      // 60-bit birthday ceiling that is fine for the join keys — where a
      // collision only adds verify work — is not fine here). Exactness
      // is by construction: every expanded pair carries its rep pair's
      // exact metrics, and intra-group pairs are Jaccard 1 ≥ t by
      // definition. Overhead when there are no dups: one sort+md5 per
      // doc over the already-cached index, one min aggregate, one semi
      // join — all linear and key-partitioned.
      // rep pick via partial+final min aggregation, not a window — the
      // window sorted the whole corpus by content key; the groupBy
      // combines map-side
      val idx = shingleIndex(spark, dir)
      // persisted: sets feeds BOTH sides of the rep-pick join below, and
      // recomputing it is a full collect_list+sort+md5 aggregate over the
      // index (measured 12.5 task-CPU-s per computation at the sf1 probe)
      val sets = idx.groupBy($"doc_id")
        .agg(md5(sort_array(collect_list($"h")).cast("string")).as("ck"))
        .persist()
      val members = sets
        .join(sets.groupBy($"ck").agg(min($"doc_id").as("rep")), "ck")
        .select($"doc_id", $"rep")
        .persist()
      var docTok: DataFrame = null
      var out: DataFrame = null
      var done = false
      // the finally releases every intermediate on every exit — after the
      // eager materialize on success, and on a mid-build job failure,
      // which would otherwise leave them persisted with no owner; a
      // partially-cached `out` is released on failure too
      try {
        // PER-DOCUMENT TOKEN ARRAYS, rarest-first (r12): one (doc_id,
        // hs[], len) row per doc, tokens ordered by (df, h) exactly as
        // the old row_number window (sort_array on the struct is the
        // same lexicographic order, ties included). This replaces (a)
        // the two window sorts with one collect aggregate, and (b) the
        // verify path's Σ_pairs|A| row EXPLOSION — cand ⋈ tok ⋈ tok
        // fanned every candidate by its full token set (65M intermediate
        // rows at the sf1 probe) then hash-aggregated them back; now the
        // two arrays travel to the pair once and intersect in-task.
        // df is the ALL-docs document frequency from the shared index
        // (r13 recomputed a reps-only df): the prefix lemma is exact
        // under ANY fixed total token order, and the shared stage's
        // order is already built and cached.
        // hs is (df, h)-ordered for prefix slicing; hss is the SAME set
        // re-sorted ascending by h — the order the verify kernel's merge
        // scan requires (one extra ~50-element sort per doc, map-side)
        docTok = idx
          .join(members.filter($"doc_id" === $"rep").select($"doc_id"),
            Seq("doc_id"), "left_semi")
          .groupBy($"doc_id")
          .agg(sort_array(collect_list(struct($"df", $"h"))).as("ts"))
          .select($"doc_id",
            expr("transform(ts, x -> x.h)").as("hs"),
            expr("sort_array(transform(ts, x -> x.h))").as("hss"),
            size($"ts").cast("long").as("len"))
          .persist()
        // prefix entries unpack from the cached arrays — map-only, so
        // the cand self-join's two reads don't need their own persist.
        //
        // SYMMETRIC self-join on the full t-prefix, deliberately: the r14
        // asymmetric PPJoin variant (index side truncated to the shorter
        // record's 2t/(1+t)-prefix) was built, measured, and REJECTED.
        // DuckDB-side counts showed the positional filter below already
        // implies the index-prefix cutoff for every pair that survives it
        // (124,961 distinct candidates either way at sf0.1), so the only
        // gain is probe-pair fan-out (995k → 659k at sf0.1) — and the
        // measured Spark cost went the other way (33.5 → 41.3 task-CPU-s
        // at the sf1 probe): two DIFFERENT join inputs forfeit Spark's
        // exchange reuse, which shuffles+sorts the identical self-join
        // subplan ONCE. One reused exchange beats 1/3 fewer probes at
        // every tested scale.
        val pfx = docTok
          .select($"doc_id", $"len", posexplode(
            expr("slice(hs, 1, cast(len - (len + 1) div 2 + 1 as int))")))
          .select($"doc_id", $"len",
            ($"pos" + 1).cast("long").as("pos"), $"col".as("h"))
        val cand = pfx.as("a").join(pfx.as("b"),
            $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id" &&
            $"a.len" <= $"b.len" * 2 && $"b.len" <= $"a.len" * 2 &&
            lit(1) + least($"a.len" - $"a.pos", $"b.len" - $"b.pos") >=
              expr("(a.len + b.len + 2) div 3"))
          .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b")).distinct()
        // exact verify: hs arrays are SETS (sharedShingles is distinct
        // per doc), so the intersection count is the exact |A∩B|. Caveat:
        // "set" holds modulo within-doc 60-bit hash collisions — on a
        // collision hss would carry a duplicate that the count-once merge
        // dedupes while len counts it, diverging from the multiset
        // formulation by ≤ the collision count (probability ≈ n²/2⁶⁰
        // per doc, vanishing; the oracle derives the same ints, so any
        // realized collision shifts both engines' inputs together).
        // The count runs in the graft_icount_sorted kernel over the
        // h-ascending hss arrays — size(array_intersect(...)) built a
        // boxed hash set and materialized the intersection array per
        // pair (144 µs/pair, 180 of ppjoin's 388 task-CPU-s at the sf1
        // probe); the sorted-merge scan is allocation-free.
        val repPairs = cand
          .join(docTok.select($"doc_id".as("doc_a"),
            $"hss".as("hss_a"), $"len".as("sz_a")), "doc_a")
          .join(docTok.select($"doc_id".as("doc_b"),
            $"hss".as("hss_b"), $"len".as("sz_b")), "doc_b")
          .select($"doc_a", $"doc_b",
            expr("graft_icount_sorted(hss_a, hss_b)").as("n_common"),
            $"sz_a", $"sz_b")
          .withColumn("union_n", $"sz_a" + $"sz_b" - $"n_common")
          .filter($"n_common" * 2 >= $"union_n")
          .select($"doc_a", $"doc_b", $"n_common", $"union_n",
            ($"n_common".cast("double") / $"union_n".cast("double")).as("jaccard"))
        // expansion is output-sized: every emitted row IS a result pair.
        // A doc belongs to exactly one content group, so inter pairs
        // cannot collide across rep pairs or with intra pairs.
        val inter = repPairs
          .join(members.select($"doc_id".as("m_a"), $"rep".as("doc_a")), "doc_a")
          .join(members.select($"doc_id".as("m_b"), $"rep".as("doc_b")), "doc_b")
          .select(least($"m_a", $"m_b").as("doc_a"),
            greatest($"m_a", $"m_b").as("doc_b"),
            $"n_common", $"union_n", $"jaccard")
        // the sizes inner join drops shingle-less groups (< 3 tokens),
        // which produce no pairs in the direct formulation either
        val intra = members.as("x").join(members.as("y"),
            $"x.rep" === $"y.rep" && $"x.doc_id" < $"y.doc_id")
          .join(docTok.select($"doc_id".as("szrep"), $"len".as("sz")),
            $"x.rep" === $"szrep")
          .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"),
            $"sz".as("n_common"), $"sz".as("union_n"),
            ($"sz".cast("double") / $"sz".cast("double")).as("jaccard"))
        out = inter.unionByName(intra).persist()
        out.count() // materialize so the intermediates can go NOW
        done = true
        out
      } finally {
        // blocking=true for the same attribution reason as the ngram
        // build: async removal taxes the NEXT query's timed window
        sets.unpersist(blocking = true)
        members.unpersist(blocking = true)
        if (docTok != null) docTok.unpersist(blocking = true)
        if (!done && out != null) out.unpersist(blocking = false)
      }
    }
    pairs.orderBy($"doc_a", $"doc_b")
  }

  lazy val dedupPrefixFilterSql: String =
    s"""WITH $shinglesCte,
       |tok AS (
       |  SELECT doc_id,
       |         CAST(concat('0x', substr(m, 1, 15)) AS BIGINT) AS h
       |  FROM shingles),
       |dfreq AS (SELECT h, count(*) AS df FROM tok GROUP BY h),
       |ranked AS (
       |  SELECT t.doc_id, t.h,
       |         CAST(row_number() OVER (PARTITION BY t.doc_id
       |                                 ORDER BY f.df, t.h) AS BIGINT) AS pos,
       |         count(*) OVER (PARTITION BY t.doc_id) AS len
       |  FROM tok t JOIN dfreq f USING (h)),
       |pfx AS (SELECT * FROM ranked WHERE pos <= len - (len + 1) // 2 + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pfx a JOIN pfx b ON a.h = b.h AND a.doc_id < b.doc_id
       |    AND a.len <= 2 * b.len AND b.len <= 2 * a.len
       |    AND 1 + least(a.len - a.pos, b.len - b.pos)
       |        >= (a.len + b.len + 2) // 3),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
       |ic AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS n_common
       |  FROM cand c JOIN tok ta ON ta.doc_id = c.doc_a
       |              JOIN tok tb ON tb.doc_id = c.doc_b AND ta.h = tb.h
       |  GROUP BY c.doc_a, c.doc_b)
       |SELECT i.doc_a, i.doc_b,
       |  CAST(i.n_common AS BIGINT) AS n_common,
       |  CAST(sa.sz + sb.sz - i.n_common AS BIGINT) AS union_n,
       |  CAST(i.n_common AS DOUBLE) / CAST(sa.sz + sb.sz - i.n_common AS DOUBLE)
       |    AS jaccard
       |FROM ic i JOIN sizes sa ON sa.doc_id = i.doc_a
       |          JOIN sizes sb ON sb.doc_id = i.doc_b
       |WHERE 2 * i.n_common >= sa.sz + sb.sz - i.n_common
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Dedup threshold sensitivity sweep (`dedup_threshold_sweep`): for
    * each candidate Jaccard threshold 0.50…0.95, how many exact-Jaccard
    * pairs survive, how many documents are touched, and how many the
    * keep-smallest-id rule would drop. THE tuning artifact for "where do
    * we set the near-dup bar": thresholds are a cliff (too low merges
    * topic-mates, too high keeps boilerplate), and the decision should
    * be read off one table instead of re-running the pipeline per guess.
    *
    * Cost: one pass over the memoized [[dedupPrefixFilter]] pair set
    * (already ≥ 0.5, the sweep floor) crossed with a 10-row literal
    * threshold frame — no new shingle work at any scale. Threshold
    * comparison is exact-integer (`n_common·100 ≥ union_n·t100`), so no
    * float-boundary flakiness on either engine. */
  def dedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val thresholds = (50 to 95 by 5).map(lit(_))
    val pairs = dedupPrefixFilter(spark, dir)
      .select($"doc_a", $"doc_b", $"n_common", $"union_n")
    val swept = pairs
      .crossJoin(broadcast(
        spark.range(1).select(explode(array(thresholds: _*)).as("t100"))))
      .filter($"n_common" * 100 >= $"union_n" * $"t100")
    val pairStats = swept.groupBy($"t100")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct($"doc_b").as("n_dropped"))
    val docStats = swept
      .select($"t100", explode(array($"doc_a", $"doc_b")).as("doc"))
      .groupBy($"t100").agg(countDistinct($"doc").as("n_docs_touched"))
    pairStats.join(docStats, "t100")
      .select($"t100".cast("int").as("threshold_x100"),
        $"n_pairs", $"n_docs_touched", $"n_dropped")
      .orderBy($"threshold_x100")
  }

  lazy val dedupThresholdSweepSql: String = {
    val pp = dedupPrefixFilterSql.trim
    require(pp.endsWith("ORDER BY doc_a, doc_b"),
      "ppjoin oracle changed shape — recompose the sweep oracle")
    s"""WITH pp AS (${pp.stripSuffix("ORDER BY doc_a, doc_b")}),
       |ts AS (SELECT unnest([${(50 to 95 by 5).mkString(", ")}]) AS t100),
       |swept AS (
       |  SELECT t100, doc_a, doc_b FROM pp, ts
       |  WHERE n_common * 100 >= union_n * t100),
       |pair_stats AS (
       |  SELECT t100, count(*) AS n_pairs,
       |         count(DISTINCT doc_b) AS n_dropped
       |  FROM swept GROUP BY t100),
       |doc_stats AS (
       |  SELECT t100, count(DISTINCT doc) AS n_docs_touched FROM (
       |    SELECT t100, doc_a AS doc FROM swept
       |    UNION ALL SELECT t100, doc_b FROM swept) u
       |  GROUP BY t100)
       |SELECT CAST(p.t100 AS INT) AS threshold_x100, p.n_pairs,
       |       d.n_docs_touched, p.n_dropped
       |FROM pair_stats p JOIN doc_stats d USING (t100)
       |ORDER BY threshold_x100""".stripMargin
  }

  /** Forwards to [[graft.stages.Stages.list]]; `perfbench` calls this name. */
  def sharedStageList(spark: SparkSession, dir: String): Seq[SharedStage] =
    Stages.list(spark, dir)

  /** LSH banding-threshold tuning report (`dedup_lsh_tuning`): every
    * MinHash candidate pair verified against EXACT shingle Jaccard,
    * bucketed by the pair's signature agreement (0-16 matching
    * minhashes), with per-bucket and cumulative-from-the-top exact
    * per-mille precision. This is the table that answers "what agreement
    * cutoff do I need for ≥X precision, and how many pairs survive it" —
    * the decision every banded-LSH deployment re-makes when the corpus
    * or band layout changes.
    *
    * Scale shape: the expensive part is sketch-then-verify, and the
    * verify is per-CANDIDATE-pair only — est pairs join their two
    * shingle-hash sets through doc_id/h equi-joins (work = Σ_pairs |A|,
    * the same budget dedup_edit_distance spends), never a corpus-wide
    * pair join. The ≤17-row bucket table then takes a single-partition
    * cumulative window — bounded by the signature width, not the data.
    * Truth = exact integer cross-multiply `3·|A∩B| ≥ |A|+|B|`
    * (⇔ Jaccard ≥ 0.5); divisions only decorate the output. */
  def dedupLshTuning(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val est = minhashEstimates(spark, dir)
      .select($"doc_a", $"doc_b",
        expr("cast(round(est_jaccard * 16) AS int)").as("match_bits"))
    // UNCAPPED hashed view + sizes from the session-shared stages — the
    // exact verification must see every shingle, so no df predicate here
    val sh = shingleIndex(spark, dir).select($"doc_id", $"h")
    val sizes = shingleSizes(spark, dir)
    val inter = est.select($"doc_a", $"doc_b")
      .join(sh.select($"doc_id".as("doc_a"), $"h"), "doc_a")
      .join(sh.select($"doc_id".as("doc_b"), $"h"), Seq("doc_b", "h"))
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("n_inter"))
    val verified = est
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.select($"doc_id".as("doc_a"), $"nsh".as("nsh_a")), "doc_a")
      .join(sizes.select($"doc_id".as("doc_b"), $"nsh".as("nsh_b")), "doc_b")
      .withColumn("is_true",
        coalesce($"n_inter", lit(0L)) * 3 >= $"nsh_a" + $"nsh_b")
    val w = Window.orderBy($"match_bits".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    verified.groupBy($"match_bits")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when($"is_true", 1L).otherwise(0L)).as("n_true"))
      .withColumn("cum_pairs", sum($"n_pairs").over(w))
      .withColumn("cum_true", sum($"n_true").over(w))
      .select($"match_bits", $"n_pairs", $"n_true",
        expr("(n_true * 1000) div n_pairs").as("precision_permille"),
        $"cum_pairs", $"cum_true",
        expr("(cum_true * 1000) div cum_pairs").as("cum_precision_permille"))
      .orderBy($"match_bits")
  }

  lazy val dedupLshTuningSql: String =
    s"""$minhashCtes,
       |shv AS (
       |  SELECT doc_id, CAST(concat('0x', substr(m, 1, 15)) AS BIGINT) AS h
       |  FROM shingles),
       |sized AS (SELECT doc_id, count(*) AS nsh FROM shv GROUP BY doc_id),
       |cands AS (
       |  SELECT doc_a, doc_b,
       |         CAST(round(est_jaccard * 16) AS INT) AS match_bits
       |  FROM est),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
       |  FROM cands c JOIN shv a ON a.doc_id = c.doc_a
       |               JOIN shv b ON b.doc_id = c.doc_b AND b.h = a.h
       |  GROUP BY c.doc_a, c.doc_b),
       |verified AS (
       |  SELECT c.match_bits,
       |    (coalesce(i.n_inter, 0) * 3 >= sa.nsh + sb.nsh) AS is_true
       |  FROM cands c
       |  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |  JOIN sized sa ON sa.doc_id = c.doc_a
       |  JOIN sized sb ON sb.doc_id = c.doc_b),
       |buckets AS (
       |  SELECT match_bits, count(*) AS n_pairs,
       |    CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true
       |  FROM verified GROUP BY match_bits)
       |SELECT match_bits, n_pairs, n_true,
       |  (n_true * 1000) // n_pairs AS precision_permille,
       |  CAST(sum(n_pairs) OVER w AS BIGINT) AS cum_pairs,
       |  CAST(sum(n_true) OVER w AS BIGINT) AS cum_true,
       |  (CAST(sum(n_true) OVER w AS BIGINT) * 1000)
       |    // CAST(sum(n_pairs) OVER w AS BIGINT) AS cum_precision_permille
       |FROM buckets
       |WINDOW w AS (ORDER BY match_bits DESC
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |ORDER BY match_bits""".stripMargin

  /** LSH recall report (`dedup_lsh_recall`) — the other half of the
    * tuning story [[dedupLshTuning]] tells: of the pairs that ARE true
    * near-dups (exact df-capped 3-gram Jaccard ≥ 0.5, the
    * [[dedupNgramJaccard]] truth set), which did the banded MinHash
    * stage even SURFACE as candidates? True pairs are bucketed by exact
    * Jaccard decile and marked caught/missed by a left join against the
    * candidate set, with per-decile and cumulative-from-the-top
    * per-mille recall — the empirical LSH S-curve a deployment checks
    * before trusting a band layout (missed pairs are invisible to every
    * downstream verify step, so precision-side tuning alone can't see
    * this failure mode).
    *
    * Scale shape: both inputs are the session-shared memoized stages
    * (truth pairs ≈ the near-dup rate × corpus, candidates likewise),
    * so the report itself is one hash equi-join on (doc_a, doc_b) plus
    * a bounded ≤6-row bucket agg; the cumulative window runs on that
    * bucket table, bounded by the decile grid, not the data. The decile
    * via floor(jaccard·10) is engine-parity-safe: IEEE division and
    * multiplication of exact integers are correctly rounded, so both
    * engines floor the same double (no order-dependent sums, no libm). */
  def dedupLshRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val truth = dedupNgramJaccard(spark, dir)
      .select($"doc_a", $"doc_b",
        floor($"jaccard" * 10).cast("int").as("jac_decile"))
    val caught = minhashEstimates(spark, dir)
      .select($"doc_a", $"doc_b").withColumn("caught", lit(1))
    val marked = truth.join(caught, Seq("doc_a", "doc_b"), "left")
    val w = Window.orderBy($"jac_decile".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked.groupBy($"jac_decile")
      .agg(count(lit(1)).as("n_true_pairs"),
        sum(coalesce($"caught", lit(0))).cast("long").as("n_caught"))
      .withColumn("cum_pairs", sum($"n_true_pairs").over(w))
      .withColumn("cum_caught", sum($"n_caught").over(w))
      .select($"jac_decile", $"n_true_pairs", $"n_caught",
        expr("(n_caught * 1000) div n_true_pairs").as("recall_permille"),
        $"cum_pairs", $"cum_caught",
        expr("(cum_caught * 1000) div cum_pairs").as("cum_recall_permille"))
      .orderBy($"jac_decile")
  }

  lazy val dedupLshRecallSql: String =
    s"""$minhashCtes,
       |shv AS (
       |  SELECT doc_id, CAST(concat('0x', substr(m, 1, 15)) AS BIGINT) AS h
       |  FROM shingles),
       |df AS (SELECT h, count(*) AS nd FROM shv GROUP BY h),
       |sized AS (SELECT doc_id, count(*) AS nsh FROM shv GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM shv a JOIN shv b ON a.h = b.h AND a.doc_id < b.doc_id
       |  JOIN df ON df.h = a.h AND df.nd <= 50
       |  GROUP BY a.doc_id, b.doc_id),
       |truth AS (
       |  SELECT i.doc_a, i.doc_b,
       |    CAST(floor(CAST(i.n_inter AS DOUBLE)
       |      / (sa.nsh + sb.nsh - i.n_inter) * 10) AS INT) AS jac_decile
       |  FROM inter i JOIN sized sa ON sa.doc_id = i.doc_a
       |               JOIN sized sb ON sb.doc_id = i.doc_b
       |  WHERE CAST(i.n_inter AS DOUBLE) / (sa.nsh + sb.nsh - i.n_inter) >= 0.5),
       |marked AS (
       |  SELECT t.jac_decile,
       |    CASE WHEN e.doc_a IS NOT NULL THEN 1 ELSE 0 END AS caught
       |  FROM truth t LEFT JOIN est e
       |    ON e.doc_a = t.doc_a AND e.doc_b = t.doc_b),
       |buckets AS (
       |  SELECT jac_decile, count(*) AS n_true_pairs,
       |    CAST(sum(caught) AS BIGINT) AS n_caught
       |  FROM marked GROUP BY jac_decile)
       |SELECT jac_decile, n_true_pairs, n_caught,
       |  (n_caught * 1000) // n_true_pairs AS recall_permille,
       |  CAST(sum(n_true_pairs) OVER w AS BIGINT) AS cum_pairs,
       |  CAST(sum(n_caught) OVER w AS BIGINT) AS cum_caught,
       |  (CAST(sum(n_caught) OVER w AS BIGINT) * 1000)
       |    // CAST(sum(n_true_pairs) OVER w AS BIGINT) AS cum_recall_permille
       |FROM buckets
       |WINDOW w AS (ORDER BY jac_decile DESC
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |ORDER BY jac_decile""".stripMargin
}
