package graft.operators

import graft.Tables
import graft.stages.Stages
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the text half of
  * the large-scale training-data pipeline surface: token statistics,
  * language identification, quality scoring, fingerprinting.
  *
  * Everything is built from codegen'd Catalyst expressions (split/explode/
  * regexp/md5) — no UDFs — so the hot path stays inside whole-stage
  * codegen and the same logic is expressible as the DuckDB oracle.
  *
  * Scale notes: `explode(split(...))` is a narrow Generate (no shuffle);
  * the per-token aggregation shuffles one partial count per (partition,
  * token) — with a ~fixed vocabulary that is O(vocab × partitions), not
  * O(corpus). Per-document scores are embarrassingly parallel projections.
  */
object TextOps {

  /** Stop-word list shared by every quality feature (scoring plus the
    * logreg applier/trainer) AND interpolated into the DuckDB oracle
    * strings — one constant so the feature definition cannot drift
    * between call sites or between engines. Declared first: object vals
    * initialize in source order and the oracle strings below read it. */
  private[graft] val StopWords = Seq("the", "a", "of", "and", "to")

  /** [[StopWords]] as a SQL IN-list fragment, shared by the oracle
    * strings so both engines read the same constant. Embedded single
    * quotes are SQL-escaped so a future stop word like "it's" corrupts
    * neither the oracle strings nor this constant's call sites. */
  private val StopWordsSql =
    StopWords.map(w => s"'${w.replace("'", "''")}'").mkString(", ")

  /** Teacher logistic-regression weights — order: bias, log token count,
    * stopword ratio, type-token ratio, average token length. The single
    * source of truth for [[textQualityLogreg]] (application),
    * [[textLogregTrain]] (label distillation) and BOTH of their oracle
    * SQL strings: the trainer's documented invariant is that it recovers
    * THIS boundary over the SAME features, so every statement of the
    * boundary must read the same constants. */
  private[operators] val TeacherWeights = Array(-4.0, 0.8, 6.0, 1.5, -0.1)

  /** Whitespace token histogram over the corpus (SURVEY.md §2.9
    * `text_token_counts`). */
  def textTokenCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(explode(split(lower($"text"), " ")).as("token"))
      .filter($"token" =!= "")
      .groupBy($"token")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token")
  }

  val textTokenCountsSql: String =
    """SELECT token, count(*) AS n
      |FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents) t
      |WHERE token <> ''
      |GROUP BY token
      |ORDER BY n DESC, token""".stripMargin

  /** Per-source quality-distribution drift (`quality_score_drift`): for
    * every ingest source, the Kolmogorov–Smirnov statistic of its
    * stopword-ratio distribution against the whole corpus, on a fixed
    * 20-bucket grid, plus the bucket where the CDFs diverge most — the
    * monitor that catches a source whose QUALITY SHAPE shifted (new
    * template, new spam mix, a crawler change) even when its mean still
    * looks fine; per-source means alone miss bimodal drift.
    *
    * Exactness: documents bucket on the exact integer rule
    * `least(19, 20·n_stop div n_tokens)` — never on the float score —
    * and the CDF gap is the cross-multiplied exact integer
    * `|cum_src·n_all − cum_all·n_src|` (DECIMAL(38,0)/HUGEINT; the
    * normalized statistic divides exact integers identically in both
    * engines). Scale shape: ONE corpus pass to (source, bucket) counts,
    * then everything — dense spine, two shared-sort cumulative windows,
    * the join and the max — runs on ≤ #sources×20 rows. */
  def qualityScoreDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"source",
        size(split($"text", " ")).cast("bigint").as("n_tokens"),
        size(filter(split(lower($"text"), " "),
          t => t.isInCollection(StopWords))).cast("bigint").as("n_stop"))
      .select($"source",
        least(lit(19L), expr("20 * n_stop div greatest(n_tokens, 1)"))
          .as("bucket"))
    val counts = docs.groupBy($"source", $"bucket").agg(count(lit(1)).as("cnt"))
    // dense (source × bucket) spine so empty buckets still carry the CDF
    val spine = counts.select($"source").distinct()
      .crossJoin(spark.range(20).select($"id".as("bucket")))
    val dense = spine.join(counts, Seq("source", "bucket"), "left")
      .select($"source", $"bucket", coalesce($"cnt", lit(0L)).as("cnt"))
    val wCum = Window.partitionBy($"source").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val src = dense
      .withColumn("cum_src", sum($"cnt").over(wCum))
      .withColumn("n_src", sum($"cnt").over(Window.partitionBy($"source")))
    val all = dense.groupBy($"bucket").agg(sum($"cnt").as("acnt"))
      .withColumn("cum_all", sum($"acnt").over(
        Window.orderBy($"bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = all.agg(sum($"acnt").as("n_all"))
    src.join(all.select($"bucket", $"cum_all"), "bucket")
      .crossJoin(broadcast(tot))
      .select($"source", $"bucket", $"n_src", $"n_all",
        abs($"cum_src".cast("decimal(38,0)") * $"n_all" -
          $"cum_all".cast("decimal(38,0)") * $"n_src").as("gap"))
      .groupBy($"source")
      .agg(max($"n_src").as("n_docs"),
        max(struct($"gap", (-$"bucket").as("nb"))).as("p"),
        max($"n_src".cast("decimal(38,0)") * $"n_all").as("denom"))
      .select($"source", $"n_docs",
        round($"p.gap".cast("double") / $"denom".cast("double"), 6)
          .as("ks_stat"),
        (-$"p.nb").as("worst_bucket"))
      .orderBy($"source")
  }

  lazy val qualityScoreDriftSql: String =
    s"""WITH b AS (
       |  SELECT source,
       |    least(19, 20 * n_stop // greatest(n_tokens, 1)) AS bucket
       |  FROM (
       |    SELECT source,
       |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |      CAST(len(list_filter(string_split(lower(text), ' '),
       |        t -> t IN ($StopWordsSql))) AS BIGINT) AS n_stop
       |    FROM documents) t),
       |counts AS (
       |  SELECT source, bucket, count(*) AS cnt FROM b GROUP BY source, bucket),
       |spine AS (
       |  SELECT s.source, g.bucket
       |  FROM (SELECT DISTINCT source FROM counts) s
       |  CROSS JOIN (SELECT unnest(generate_series(0, 19)) AS bucket) g),
       |dense AS (
       |  SELECT sp.source, sp.bucket, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
       |  FROM spine sp LEFT JOIN counts c
       |    ON c.source = sp.source AND c.bucket = sp.bucket),
       |src AS (
       |  SELECT source, bucket, cnt,
       |    sum(cnt) OVER (PARTITION BY source ORDER BY bucket
       |                   ROWS UNBOUNDED PRECEDING) AS cum_src,
       |    sum(cnt) OVER (PARTITION BY source) AS n_src
       |  FROM dense),
       |alls AS (
       |  SELECT bucket, sum(cnt) AS acnt FROM dense GROUP BY bucket),
       |allc AS (
       |  SELECT bucket,
       |    sum(acnt) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum_all
       |  FROM alls),
       |tot AS (SELECT CAST(sum(acnt) AS BIGINT) AS n_all FROM alls),
       |gaps AS (
       |  SELECT s.source, s.bucket, s.n_src,
       |    abs(CAST(s.cum_src AS HUGEINT) * t.n_all
       |        - CAST(a.cum_all AS HUGEINT) * s.n_src) AS gap
       |  FROM src s JOIN allc a USING (bucket) CROSS JOIN tot t),
       |sel AS (
       |  SELECT source, n_src, bucket, gap,
       |    row_number() OVER (PARTITION BY source
       |                       ORDER BY gap DESC, bucket) AS rk,
       |    CAST(n_src AS HUGEINT) * (SELECT n_all FROM tot) AS denom
       |  FROM gaps)
       |SELECT source, CAST(n_src AS BIGINT) AS n_docs,
       |  round(CAST(gap AS DOUBLE) / CAST(denom AS DOUBLE), 6) AS ks_stat,
       |  bucket AS worst_bucket
       |FROM sel WHERE rk = 1
       |ORDER BY source""".stripMargin

  /** Feature-hashing (hashing-trick) document featurizer
    * (`text_feature_hashing`, Weinberger et al. 2009): every token
    * hashes to one of 64 feature buckets with a ±1 sign bit drawn from
    * the same hash, and the per-(doc, bucket) SIGNED counts are the
    * sparse feature vector a linear classifier (fastText-class quality
    * models, spam gates) trains on — vocabulary-free, so the feature
    * space is FIXED at any corpus size and needs no dictionary build,
    * broadcast, or OOV path; the sign makes collisions cancel in
    * expectation instead of biasing the estimate upward.
    *
    * Determinism: bucket and sign both come from the md5-derived u32
    * (bit 0 = sign, the rest = bucket), exact integer arithmetic in
    * both engines. Plan shape: one narrow token explode → codegen'd
    * hash projection → ONE partial+final aggregation on
    * (doc_id, bucket) — map-side combine bounds each partition's
    * shuffle contribution at 64 rows/doc; no joins, no windows. */
  def textFeatureHashing(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", explode(split(lower($"text"), " ")).as("token"))
      .filter($"token" =!= "")
      .withColumn("u32",
        conv(substring(md5($"token"), 1, 8), 16, 10).cast("long"))
      .groupBy($"doc_id", (shiftright($"u32", 1) % 64).as("bucket"))
      .agg(sum(when($"u32" % 2 === 0, 1L).otherwise(-1L)).as("feat"))
      .orderBy($"doc_id", $"bucket")
  }

  val textFeatureHashingSql: String =
    """SELECT doc_id, (u32 // 2) % 64 AS bucket,
      |       CAST(sum(CASE WHEN u32 % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS feat
      |FROM (
      |  SELECT doc_id,
      |    CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT) AS u32
      |  FROM (
      |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      |    FROM documents) t
      |  WHERE token <> '') h
      |GROUP BY doc_id, (u32 // 2) % 64
      |ORDER BY doc_id, bucket""".stripMargin

  /** Per-language marker-token lists for the n-gram/stopword language-ID
    * heuristic. Deterministic, engine-independent scoring: count marker
    * hits per language, predict the argmax (ties broken by fixed language
    * order de < en < es < fr < zh). */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("small", "data", "scan", "key", "table"),
    "en" -> Seq("column", "sort", "window", "row", "filter"),
    "es" -> Seq("line", "part", "hash", "value", "query"),
    "fr" -> Seq("order", "group", "customer", "slow", "fast"),
    "zh" -> Seq("merge", "vector", "join", "stream", "batch"))

  /** Language identification via marker-token counting
    * (`text_language_id`): a portable stand-in for character-n-gram
    * language models, structured the same way (per-class score, argmax). */
  def textLanguageId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tokens = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", explode(split(lower($"text"), " ")).as("token"))
    val scoreCols = langMarkers.map { case (l, ms) =>
      sum(when($"token".isInCollection(ms), 1).otherwise(0)).as(s"score_$l")
    }
    val scored = tokens.groupBy($"doc_id", $"lang")
      .agg(scoreCols.head, scoreCols.tail: _*)
    // argmax with ties broken by language order (strictly-greater compare
    // against previous best keeps the earliest language on ties)
    val pred = langMarkers.map(_._1).tail.foldLeft(
      (lit("de"), col("score_de"))) { case ((bestL, bestS), l) =>
      val s = col(s"score_$l")
      (when(s > bestS, lit(l)).otherwise(bestL), when(s > bestS, s).otherwise(bestS))
    }
    scored.select($"doc_id", pred._1.as("pred_lang"),
        ($"lang" === pred._1).cast("int").as("correct"))
      .orderBy($"doc_id")
  }

  val textLanguageIdSql: String = {
    val scoreCols = langMarkers.map { case (l, ms) =>
      val list = ms.map(m => s"'$m'").mkString(", ")
      s"sum(CASE WHEN token IN ($list) THEN 1 ELSE 0 END) AS score_$l"
    }.mkString(",\n    ")
    // same fold as the Spark side: strictly-greater keeps earliest on ties
    val langs = langMarkers.map(_._1)
    val pred = langs.tail.foldLeft("'de'" -> "score_de") { case ((bl, bs), l) =>
      (s"(CASE WHEN score_$l > $bs THEN '$l' ELSE $bl END)",
        s"(CASE WHEN score_$l > $bs THEN score_$l ELSE $bs END)")
    }._1
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |    $scoreCols
       |  FROM (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS token
       |        FROM documents) t
       |  GROUP BY doc_id, lang)
       |SELECT doc_id, $pred AS pred_lang,
       |       CAST(lang = $pred AS INT) AS correct
       |FROM scored
       |ORDER BY doc_id""".stripMargin
  }

  /** Document quality scoring (`text_quality_score`): length, token count,
    * average token length, stopword ratio, and a rational composite score.
    * All arithmetic is integer-derived double math with identical
    * expression trees in both engines (bit-equal results). */
  def textQualityScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", $"text",
        length($"text").as("len_chars"),
        size(split($"text", " ")).cast("bigint").as("n_tokens"),
        size(filter(split(lower($"text"), " "),
          t => t.isInCollection(StopWords))).cast("bigint").as("n_stop"))
      .select($"doc_id", $"len_chars", $"n_tokens",
        (($"len_chars" - ($"n_tokens" - 1)).cast("double") / $"n_tokens").as("avg_token_len"),
        ($"n_stop".cast("double") / $"n_tokens").as("stopword_ratio"))
      .withColumn("quality_score",
        ($"avg_token_len" / 10.0) + ($"stopword_ratio" * 2.0))
      .transform(Presentation.ordered(_, $"doc_id"))
  }

  val textQualityScoreSql: String =
    s"""SELECT doc_id, len_chars, n_tokens,
       |  CAST(len_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_token_len,
       |  CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
       |  (CAST(len_chars - (n_tokens - 1) AS DOUBLE) / n_tokens / 10.0)
       |    + (CAST(n_stop AS DOUBLE) / n_tokens * 2.0) AS quality_score
       |FROM (
       |  SELECT doc_id,
       |    length(text) AS len_chars,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(string_split(lower(text), ' '),
       |      t -> t IN ($StopWordsSql))) AS BIGINT) AS n_stop
       |  FROM documents) t
       |ORDER BY doc_id""".stripMargin

  /** Narrow per-document quality-feature projection shared by the logreg
    * applier and trainer: `f_log_tokens`, `stop_ratio`, `ttr` (type-token
    * ratio), `avg_token_len`, plus `doc_id`/`n_tokens` for downstream
    * output. Shuffle-free, fully codegen — the 100 TB-friendly half of
    * both queries. */
  private def qualityFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        length($"text").as("len_chars"),
        size(split($"text", " ")).cast("bigint").as("n_tokens"),
        size(array_distinct(split(lower($"text"), " "))).cast("bigint").as("n_types"),
        size(filter(split(lower($"text"), " "),
          t => t.isInCollection(StopWords))).cast("bigint").as("n_stop"))
      .select($"doc_id", $"n_tokens",
        log($"n_tokens".cast("double")).as("f_log_tokens"),
        ($"n_stop".cast("double") / $"n_tokens").as("stop_ratio"),
        ($"n_types".cast("double") / $"n_tokens").as("ttr"),
        (($"len_chars" - ($"n_tokens" - 1)).cast("double") / $"n_tokens").as("avg_token_len"))
  }

  /** Teacher decision function over [[qualityFeatures]] columns.
    * `+ lit(-0.1)·x` is IEEE-identical to the oracle's `- 0.1·x`, so the
    * constant-array form does not move the hash compare. */
  private def teacherZ: Column =
    lit(TeacherWeights(0)) +
      lit(TeacherWeights(1)) * col("f_log_tokens") +
      lit(TeacherWeights(2)) * col("stop_ratio") +
      lit(TeacherWeights(3)) * col("ttr") +
      lit(TeacherWeights(4)) * col("avg_token_len")

  /** Quality CLASSIFIER application (`text_quality_logreg`) — the
    * fasttext-style trained-filter shape (CCNet, Wenzek et al. 2020;
    * GPT-3's LR quality filter, Brown et al. 2020 App. A): a logistic
    * regression over per-document features scored at corpus scale. The
    * weights are fixed literals standing in for an offline-trained model —
    * what a production pipeline ships to the cluster; the interesting part
    * at 100 TB is the APPLICATION: one narrow, shuffle-free projection per
    * document (all features derive from the doc's own tokens), fully
    * codegen, filter-pushable on the resulting label.
    *
    * Features: log token count, stopword ratio, type-token ratio,
    * average token length. Determinism: all features are exact
    * integer-derived doubles with identical expression trees on both
    * engines; ln/exp are the only transcendental steps (≤1 ulp apart), so
    * the sigmoid is rounded to 1e-6 like `text_lm_logprob` — measured at
    * sf0.01 the closest rounded probability sits 2e-6 from the 0.5
    * decision boundary, two full rounding steps clear. */
  def textQualityLogreg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    qualityFeatures(spark, dir)
      .withColumn("z", teacherZ)
      .select($"doc_id", $"n_tokens", $"avg_token_len", $"stop_ratio", $"ttr",
        round(lit(1.0) / (lit(1.0) + exp(-$"z")), 6).as("prob_keep"))
      .withColumn("label", when($"prob_keep" >= 0.5, "keep").otherwise("drop"))
      .transform(Presentation.ordered(_, $"doc_id"))
  }

  val textQualityLogregSql: String =
    s"""WITH f AS (
       |  SELECT doc_id,
       |    length(text) AS len_chars,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(string_split(lower(text), ' '))) AS BIGINT) AS n_types,
       |    CAST(len(list_filter(string_split(lower(text), ' '),
       |      t -> t IN ($StopWordsSql))) AS BIGINT) AS n_stop
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(len_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_token_len,
       |    CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
       |    CAST(n_types AS DOUBLE) / n_tokens AS ttr
       |  FROM f),
       |z AS (
       |  SELECT doc_id, n_tokens, avg_token_len, stop_ratio, ttr,
       |    (${TeacherWeights(0)}) + (${TeacherWeights(1)}) * ln(CAST(n_tokens AS DOUBLE))
       |      + (${TeacherWeights(2)}) * stop_ratio
       |      + (${TeacherWeights(3)}) * ttr + (${TeacherWeights(4)}) * avg_token_len AS z
       |  FROM g)
      |SELECT doc_id, n_tokens, avg_token_len, stop_ratio, ttr,
      |  round(1.0 / (1.0 + exp(-z)), 6) AS prob_keep,
      |  CASE WHEN round(1.0 / (1.0 + exp(-z)), 6) >= 0.5
      |       THEN 'keep' ELSE 'drop' END AS label
      |FROM z
      |ORDER BY doc_id""".stripMargin

  /** Token counting two ways (`text_token_count`): whitespace split vs a
    * BPE-ish word regex — the difference exposes punctuation/whitespace
    * irregularities that matter for LLM token budgeting. */
  def textTokenCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        size(split($"text", " ")).cast("bigint").as("n_ws_tokens"),
        size(expr("regexp_extract_all(text, '[A-Za-z0-9]+', 0)")).cast("bigint")
          .as("n_word_tokens"),
        length($"text").cast("bigint").as("n_chars_actual"))
      .transform(Presentation.ordered(_, $"doc_id"))
  }

  val textTokenCountSql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_word_tokens,
      |  CAST(length(text) AS BIGINT) AS n_chars_actual
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Vocabulary coverage curve (`text_vocab_coverage`): corpus token
    * frequencies ranked descending with cumulative coverage — the
    * tokenizer-prep view that answers "how many vocabulary entries cover
    * X% of the corpus", top-100 entries. Determinism: counts and the
    * running total are exact BIGINTs (one division to DOUBLE at the end);
    * ties rank by token text.
    *
    * Scale notes: the corpus-wide pass is ONE hash aggregation over the
    * token stream (partial+final). The top-100 head is taken with a
    * distributed TakeOrdered (per-partition top-k, merged) BEFORE the
    * global rank/cumsum window, so the single-partition window only ever
    * sees 100 rows — the prefix cumulative over the same total order is
    * identical to windowing the full vocabulary, without sorting a
    * web-scale (~1e9-token) vocab on one reducer. */
  def textVocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cnt = Tables.documents(spark, dir)
      .select(explode(split(lower($"text"), " ")).as("token"))
      .filter($"token" =!= "")
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
    val total = cnt.agg(sum($"cnt").as("total_cnt"))
    val top = cnt.orderBy($"cnt".desc, $"token".asc).limit(100)
    val w = Window.orderBy($"cnt".desc, $"token".asc)
    top
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_cnt", sum($"cnt").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .select($"token", $"cnt", $"rank", $"cum_cnt",
        ($"cum_cnt".cast("double") / $"total_cnt".cast("double")).as("cum_coverage"))
      .orderBy($"rank")
  }

  val textVocabCoverageSql: String =
    """WITH cnt AS (
      |  SELECT token, count(*) AS cnt FROM (
      |    SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents) t
      |  WHERE token <> '' GROUP BY token),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_cnt FROM cnt),
      |ranked AS (
      |  SELECT token, cnt,
      |         row_number() OVER (ORDER BY cnt DESC, token) AS rank,
      |         CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
      |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt
      |  FROM cnt)
      |SELECT token, cnt, CAST(rank AS INT) AS rank, cum_cnt,
      |       CAST(cum_cnt AS DOUBLE) / (SELECT CAST(total_cnt AS DOUBLE) FROM tot) AS cum_coverage
      |FROM ranked WHERE rank <= 100
      |ORDER BY rank""".stripMargin

  /** Document fingerprinting (`text_fingerprint`): an exact content hash
    * plus a winnowing-style min-hash over word 5-gram windows (the rolling-
    * hash fingerprint used by near-dup detectors; md5 stands in for the
    * rolling hash — both engines agree on it byte-for-byte). Entirely
    * NARROW: the per-doc gram minimum is `array_min(transform(...))` over
    * the in-row word array — no posexplode, no window sort-shuffle of the
    * token stream, no re-aggregation join (contrast: a lead()-window
    * formulation shuffles every word of the corpus). One map-only pass,
    * then only the presentation sort. */
  /** Winnowing fingerprints (`text_winnowing_fingerprint`, Schleimer et
    * al. 2003 — the MOSS scheme): per document, the rightmost-minimum
    * 4-token-gram hash of every 5-hash winnowing window, deduplicated by
    * position. Winnowing's guarantee is what min-hash fingerprints
    * (`text_fingerprint`) lack: any shared run of ≥ 8 tokens between two
    * documents shares at least one SELECTED fingerprint, so matching on
    * the ~2/(w+1) density fingerprint set finds local overlap (plagiarism,
    * quoted boilerplate, partial mirrors) without comparing full texts.
    *
    * Scale shape: the entire selection runs INSIDE per-row array
    * expressions (k-gram hashing, per-window `array_min`, rightmost-tie
    * `filter`+`array_max`, positional dedup) — a map-only codegen'd pass
    * with ZERO pre-output shuffle at any corpus size; only the selected
    * fingerprints (≈ n_tokens/3 rows/doc) leave the map side, hashed to
    * u32 ints before they do. The downstream match join (not included;
    * same shape as `dedup_minhash_lsh`'s band join) equi-keys on the
    * fingerprint value. */
  /** Memoized winnowing selection `(doc_id, pos, fp)` — the map-only
    * extraction shared by the fingerprint query and the match join
    * ([[dedupWinnowingPairs]]); its own `winnow_fps` prewarm ledger line
    * keeps the k-gram md5 pass from billing to whichever consumer runs
    * first. */
  private[graft] def winnowFps(spark: SparkSession, dir: String): DataFrame =
    Stages.memo(spark, s"winnow:$dir") {
      import spark.implicits._
      graft.functions.GramHashes.register(spark)
      graft.functions.WinnowPositions.register(spark)
      Tables.documents(spark, dir)
        .select($"doc_id", split(lower($"text"), " ").as("ts"))
        .filter(size($"ts") >= 8)
        // r11: the per-window md5 tower runs in the gram-hash kernel;
        // r14 moved the 60-bit extraction INTO it (graft_gram_hashes60
        // packs each digest's first 15 hex digits as a long directly —
        // no binary array, no hex string, no conv per gram) and then the
        // SELECTION into graft_winnow_positions (rightmost-min per
        // 5-window, consecutive-dedup ≡ array_distinct because the
        // selection is non-decreasing — proof at the kernel): the
        // expression tower allocated a slice + two sequences + a filter
        // result per token, and the build is map-only, so allocation
        // traffic WAS its cost — its isolated task-CPU ladder read
        // 10.3/53.8/604 s at 10×/30×/100× (stall-cycle compounding),
        // vs w primitive compares per token here.
        // 60-bit fingerprint space (widened from 32 in r14): the match
        // join keys on fp values, so a 32-bit space pays n²/2³³ birthday
        // collisions past ~10⁷ distinct fingerprints — the same ceiling
        // the shingle index hit at the 100× probe (DedupOps r13). 60 bits
        // also makes within-window min ties (the rightmost-tie rule's
        // input) chance-level instead of collision-driven at scale.
        .select($"doc_id", expr("graft_gram_hashes60(ts, 4)").as("hs"))
        .select($"doc_id", $"hs",
          explode(expr("graft_winnow_positions(hs, 5)")).as("pos"))
        .select($"doc_id", $"pos".cast("bigint").as("pos"),
          expr("element_at(hs, pos)").as("fp"))
        .persist()
    }

  def textWinnowingFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    winnowFps(spark, dir).orderBy($"doc_id", $"pos")
  }

  /** Oracle CTE chain ending in `wfp(doc_id, pos, fp)` — the one
    * statement of the winnowing rule, shared by the fingerprint oracle
    * and the match-join oracle. */
  private lazy val winnowCtes: String =
    """toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
      |hst AS (
      |  SELECT doc_id,
      |    list_transform(generate_series(1, len(ts) - 3),
      |      i -> CAST(concat('0x',
      |             substr(md5(array_to_string(ts[i:i+3], ' ')), 1, 15))
      |           AS BIGINT)) AS hs
      |  FROM toks WHERE len(ts) >= 8),
      |sel AS (
      |  SELECT doc_id, hs,
      |    list_distinct(list_transform(generate_series(1, len(hs) - 4),
      |      j -> list_max(list_filter(generate_series(j, j + 4),
      |             p -> hs[p] = list_min(hs[j:j+4]))))) AS poss
      |  FROM hst),
      |wfp AS (
      |  SELECT doc_id, CAST(pos AS BIGINT) AS pos, hs[pos] AS fp
      |  FROM (SELECT doc_id, hs, unnest(poss) AS pos FROM sel) t)""".stripMargin

  lazy val textWinnowingFingerprintSql: String =
    s"""WITH $winnowCtes
       |SELECT doc_id, pos, fp FROM wfp
       |ORDER BY doc_id, pos""".stripMargin

  /** Winnowing match join (`dedup_winnowing_pairs`): document pairs
    * sharing ≥ 5 distinct selected fingerprints — LOCAL-overlap
    * detection (quoted boilerplate, partial mirrors, plagiarized spans)
    * that whole-document sketches dilute away: MinHash estimates global
    * Jaccard, so a 30-token shared run inside two long documents scores
    * near zero there but leaves ≥ 5 shared winnowing fingerprints here
    * by the scheme's coverage guarantee.
    *
    * Plan shape: distinct (doc, fp) projection off the memoized
    * extraction, a ≤50-doc df-cap on the fingerprint value (the same
    * fan-out bound the n-gram inverted index uses — a fingerprint in
    * hundreds of documents is boilerplate, not provenance), then the
    * self equi-join on the 60-bit fp key and one pair-count aggregation.
    * Work is Σ_fp df², bounded by the cap — never all-pairs. */
  def dedupWinnowingPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fp = winnowFps(spark, dir).select($"doc_id", $"fp").distinct()
    val rare = fp.groupBy($"fp").agg(count(lit(1)).as("nd"))
      .filter($"nd" <= 50).select($"fp")
    val capped = fp.join(rare, "fp")
    capped.as("a").join(capped.as("b"),
        $"a.fp" === $"b.fp" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= 5)
      .orderBy($"doc_a", $"doc_b")
  }

  lazy val dedupWinnowingPairsSql: String =
    s"""WITH $winnowCtes,
       |dfp AS (SELECT DISTINCT doc_id, fp FROM wfp),
       |rare AS (
       |  SELECT fp FROM (SELECT fp, count(*) AS nd FROM dfp GROUP BY fp) t
       |  WHERE nd <= 50),
       |capped AS (SELECT d.doc_id, d.fp FROM dfp d JOIN rare USING (fp))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       count(*) AS n_shared
       |FROM capped a JOIN capped b
       |  ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY a.doc_id, b.doc_id
       |HAVING count(*) >= 5
       |ORDER BY doc_a, doc_b""".stripMargin

  def textFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.GramHashes.register(spark)
    // r11: 5-gram md5s from the codegen'd kernel; lower(hex(g)) restores
    // md5()'s lowercase-hex string so the lexicographic min is unchanged
    // (Spark's hex() is uppercase). Below 5 tokens the kernel emits no
    // windows and array_min(empty) is null, matching the old size guard.
    Tables.documents(spark, dir)
      .select($"doc_id", md5(lower($"text")).as("fp_exact"),
        split(lower($"text"), " ").as("ws"))
      .select($"doc_id", $"fp_exact",
        expr("array_min(transform(graft_gram_hashes(ws, 5), g -> lower(hex(g))))")
          .as("fp_min_gram"))
      .orderBy($"doc_id")
  }

  val textFingerprintSql: String =
    """WITH words AS (
      |  SELECT doc_id, t.w, t.pos FROM (
      |    SELECT doc_id,
      |      unnest(string_split(lower(text), ' ')) AS w,
      |      generate_subscripts(string_split(lower(text), ' '), 1) AS pos
      |    FROM documents) t),
      |grams AS (
      |  SELECT doc_id, concat_ws(' ', w,
      |    lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos),
      |    lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos),
      |    lead(w, 3) OVER (PARTITION BY doc_id ORDER BY pos),
      |    lead(w, 4) OVER (PARTITION BY doc_id ORDER BY pos)) AS gram
      |  FROM words),
      |mins AS (
      |  SELECT doc_id, min(md5(gram)) AS fp_min_gram
      |  FROM grams WHERE len(string_split(gram, ' ')) = 5
      |  GROUP BY doc_id)
      |SELECT d.doc_id, md5(lower(d.text)) AS fp_exact, m.fp_min_gram
      |FROM documents d LEFT JOIN mins m ON d.doc_id = m.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Bigram collocation mining (tokenizer prep: which adjacent word pairs
    * co-occur far more than chance — multi-word-expression candidates for
    * vocabulary merges). Association is a PMI-style LIFT kept RATIONAL:
    * `lift = (n_xy · T²) / (B · n_x · n_y)` — the log of classic PMI is
    * monotone, so ranking is unchanged, and staying transcendental-free
    * keeps the doubles bit-equal across engines (same reason the tf-idf
    * query uses a BM25-style rational idf).
    *
    * Scale shape: bigram construction is NARROW (per-row array slide, like
    * the shingle pipeline — no window over the exploded token stream);
    * the two count aggregations shuffle O(vocab) partials; the unigram
    * re-attachment is a hash join on the word key (no broadcast hint —
    * vocabulary grows with the corpus); the two 1-row totals are derived
    * from the GROUPED sides (no second corpus pass) and are the only
    * broadcast sides. Final top-50 is a TakeOrderedAndProject. */
  def textBigramCollocations(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(split(lower($"text"), " ").as("ws"))
    val bg = docs
      .select(explode(when(size($"ws") >= 2, expr(
        "transform(sequence(0, size(ws) - 2), i -> named_struct('w1', ws[i], 'w2', ws[i+1]))"))
        .otherwise(expr("array()"))).as("b"))
      .select($"b.w1", $"b.w2")
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("n_xy"))
    val uni = docs.select(explode($"ws").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("n_w"))
    val tot = uni.agg(sum($"n_w").as("t_tok"))
    val btot = bg.agg(sum($"n_xy").as("b_tot"))
    bg.join(uni.select($"w".as("w1"), $"n_w".as("n_x")), "w1")
      .join(uni.select($"w".as("w2"), $"n_w".as("n_y")), "w2")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(btot))
      .filter($"n_xy" >= 3)
      .withColumn("lift", expr(
        "(CAST(n_xy AS DOUBLE) * CAST(t_tok AS DOUBLE) * CAST(t_tok AS DOUBLE)) / " +
        "(CAST(b_tot AS DOUBLE) * CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))"))
      .select($"w1", $"w2", $"n_xy", $"lift")
      .orderBy($"lift".desc, $"w1", $"w2")
      .limit(50)
  }

  val textBigramCollocationsSql: String =
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w,
      |         generate_subscripts(string_split(lower(text), ' '), 1) AS pos
      |  FROM documents),
      |bg0 AS (
      |  SELECT w AS w1, lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      |  FROM words),
      |bg AS (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_xy
      |  FROM bg0 WHERE w2 IS NOT NULL GROUP BY w1, w2),
      |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS n_w FROM words GROUP BY w),
      |tot AS (SELECT CAST(sum(n_w) AS BIGINT) AS t_tok FROM uni),
      |btot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS b_tot FROM bg)
      |SELECT bg.w1, bg.w2, bg.n_xy,
      |  (CAST(bg.n_xy AS DOUBLE) * CAST(t_tok AS DOUBLE) * CAST(t_tok AS DOUBLE)) /
      |  (CAST(b_tot AS DOUBLE) * CAST(u1.n_w AS DOUBLE) * CAST(u2.n_w AS DOUBLE)) AS lift
      |FROM bg, uni u1, uni u2, tot, btot
      |WHERE bg.w1 = u1.w AND bg.w2 = u2.w AND bg.n_xy >= 3
      |ORDER BY lift DESC, bg.w1, bg.w2
      |LIMIT 50""".stripMargin

  /** Lexical rarity scoring (`text_rarity_score`): the integer-exact
    * proxy for unigram-LM perplexity filtering — a corpus pass builds
    * the global unigram table, then each document is scored by the
    * fraction of its tokens that are rarer than the corpus MEAN token
    * frequency. Real perplexity needs `ln(p)`, whose last-ulp value
    * differs between libm implementations, so the score is restated in
    * exact integer arithmetic (`cnt · |vocab| < total` avoids division
    * entirely) with ONE final double division per doc — bit-identical on
    * both engines, same selectivity ordering as mean surprisal for a
    * monotone frequency threshold. The cross-multiply is carried in
    * DECIMAL(19,0)×DECIMAL(19,0) → DECIMAL(38,0): two BIGINT operands
    * (cnt ~1e10, vocab ~1e9 at the 100 TB design point) would overflow
    * 2^63, where non-ANSI Spark wraps silently while DuckDB promotes —
    * the decimal product stays exact on both engines.
    *
    * Plan shape at 100 TB: the token stream is a narrow split/explode;
    * the unigram table is vocab-bounded (hash agg); the score join is a
    * hash equi-join on the token — AQE broadcasts the unigram side while
    * it fits and degrades to shuffle when a web-scale vocab doesn't. The
    * two corpus constants (total, vocab) are a 1-row cross join. */
  def textRarityScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tok = Tables.documents(spark, dir)
      .select($"doc_id", explode(split(lower($"text"), " ")).as("token"))
      .filter($"token" =!= "")
    val uni = tok.groupBy($"token").agg(count(lit(1)).as("cnt"))
    val consts = uni.agg(
      sum($"cnt").as("total"), count(lit(1)).as("vocab"))
    tok.join(uni, "token")
      .crossJoin(consts)
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(expr("cast(cnt as decimal(19,0)) * cast(vocab as decimal(19,0))")
            < $"total", 1L).otherwise(0L)).as("n_rare"))
      .select($"doc_id", $"n_tokens", $"n_rare",
        ($"n_rare".cast("double") / $"n_tokens".cast("double")).as("rare_ratio"))
      .orderBy($"doc_id")
  }

  val textRarityScoreSql: String =
    """WITH tok AS (
      |  SELECT doc_id, token FROM (
      |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      |    FROM documents) t
      |  WHERE token <> ''),
      |uni AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
      |consts AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS total,
      |         CAST(count(*) AS BIGINT) AS vocab FROM uni)
      |SELECT t.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN CAST(u.cnt AS DECIMAL(19,0)) * CAST(c.vocab AS DECIMAL(19,0))
      |                     < c.total THEN 1 ELSE 0 END)
      |       AS BIGINT) AS n_rare,
      |  CAST(sum(CASE WHEN CAST(u.cnt AS DECIMAL(19,0)) * CAST(c.vocab AS DECIMAL(19,0))
      |                     < c.total THEN 1 ELSE 0 END)
      |       AS DOUBLE) / CAST(count(*) AS DOUBLE) AS rare_ratio
      |FROM tok t JOIN uni u USING (token), consts c
      |GROUP BY t.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** Sliding-window token chunking (`text_chunk_overlap`) — the
    * context-window prep step of an LLM training / RAG pipeline: each
    * document becomes ⌈(n−32)/24⌉+1 chunks of 32 tokens with stride 24
    * (8-token overlap so no boundary context is lost), emitted with a
    * per-chunk content hash for downstream chunk-level dedup.
    *
    * Plan shape: tokenize → `sequence` → `explode` is one narrow
    * Generate per doc — no shuffle, no window; fan-out is bounded by
    * each doc's own length (n/24 chunks), so the op scales linearly on
    * partitions however the 100 TB corpus is laid out. The only sort is
    * the presentation ORDER BY. Empty / whitespace-only documents are
    * filtered out BEFORE the explode: they would otherwise all emit one
    * sentinel chunk sharing `md5('')`, which downstream chunk-level
    * dedup ([[dedupChunks]]) would collide into one giant phantom
    * cluster. */
  private def chunks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        expr("filter(split(lower(text), ' '), t -> t <> '')").as("w"))
      .select($"doc_id", $"w", size($"w").as("n"))
      .filter($"n" > 0)
      .select($"doc_id", $"w",
        explode(expr("sequence(0L, (greatest(n - 32, 0) + 23) div 24)")).as("k"))
      .select($"doc_id",
        $"k".cast("int").as("chunk_idx"),
        ($"k" * 24L).cast("bigint").as("chunk_start"),
        expr("cast(size(slice(w, cast(k * 24 + 1 as int), 32)) as bigint)")
          .as("n_chunk_tokens"),
        expr("md5(concat_ws(' ', slice(w, cast(k * 24 + 1 as int), 32)))")
          .as("chunk_hash"))
  }

  def textChunkOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    chunks(spark, dir).orderBy($"doc_id", $"chunk_idx")
  }

  /** Shared oracle CTE chain ending in
    * `chunks(doc_id, chunk_idx, chunk_start, n_chunk_tokens, chunk_hash)`
    * — the SQL twin of [[chunks]], reused by the chunking query and the
    * chunk-level dedup. */
  private[operators] val chunksCte: String =
    """ws AS (
      |  SELECT doc_id,
      |         list_filter(string_split(lower(text), ' '), t -> t <> '') AS w
      |  FROM documents),
      |starts AS (
      |  SELECT doc_id, w,
      |         unnest(range(0, 1 + ((greatest(len(w) - 32, 0) + 23) // 24))) AS k
      |  FROM ws WHERE len(w) > 0),
      |chunks AS (
      |  SELECT doc_id,
      |    CAST(k AS INT) AS chunk_idx,
      |    CAST(k * 24 AS BIGINT) AS chunk_start,
      |    CAST(len(list_slice(w, k * 24 + 1, k * 24 + 32)) AS BIGINT)
      |      AS n_chunk_tokens,
      |    md5(array_to_string(list_slice(w, k * 24 + 1, k * 24 + 32), ' '))
      |      AS chunk_hash
      |  FROM starts)""".stripMargin

  val textChunkOverlapSql: String =
    s"""WITH $chunksCte
       |SELECT doc_id, chunk_idx, chunk_start, n_chunk_tokens, chunk_hash
       |FROM chunks
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Chunk-level deduplication (`dedup_chunks`) — closes the
    * document→chunk dedup loop a training pipeline actually ships: the
    * per-chunk content hashes from [[textChunkOverlap]] are grouped, and
    * each distinct chunk keeps its EARLIEST occurrence (lexicographically
    * smallest (doc_id, chunk_idx) — same keep-first discipline as
    * `dedup_events`) with the copy count. Downstream packing drops every
    * row where (doc_id, chunk_idx) ≠ (keep_doc_id, keep_chunk_idx).
    *
    * Plan shape: the chunker's narrow Generate feeds ONE hash aggregate
    * keyed by the 32-hex chunk hash (struct-min picks the keeper — no
    * per-corpus window sort), so the op is a single shuffle whose key
    * cardinality is the distinct-chunk count. At 100 TB that is the same
    * shape as exact document dedup — embarrassingly scalable. */
  def dedupChunks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    chunks(spark, dir)
      .groupBy($"chunk_hash")
      .agg(
        count(lit(1)).as("n_copies"),
        min(struct($"doc_id", $"chunk_idx")).as("k"))
      .select($"chunk_hash", $"k.doc_id".as("keep_doc_id"),
        $"k.chunk_idx".as("keep_chunk_idx"), $"n_copies")
      .orderBy($"chunk_hash")
  }

  /** Keeper chunks — the rows [[dedupChunks]] retains — with their token
    * counts: the input a dedup-aware packer consumes. Same single hash
    * aggregate as `dedup_chunks`; `n_chunk_tokens` rides the min-struct
    * (every copy of a hash has identical content, hence an identical
    * token count, so the keeper's value IS the hash's value). */
  private[operators] def chunkKeepers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    chunks(spark, dir)
      .groupBy($"chunk_hash")
      .agg(min(struct($"doc_id", $"chunk_idx", $"n_chunk_tokens")).as("k"))
      .select($"k.doc_id".as("doc_id"), $"k.chunk_idx".as("chunk_idx"),
        $"k.n_chunk_tokens".as("n_chunk_tokens"))
  }

  /** Oracle twin of [[chunkKeepers]] — appended after [[chunksCte]],
    * ends in `keepers(doc_id, chunk_idx, n_chunk_tokens)`. Same
    * no-leading-'|' contract as the other shared CTEs (outer templates
    * stripMargin again). */
  private[operators] val chunkKeepersCte: String =
    """keepers AS (
      |  SELECT doc_id, chunk_idx, n_chunk_tokens FROM (
      |    SELECT doc_id, chunk_idx, n_chunk_tokens,
      |           row_number() OVER (PARTITION BY chunk_hash
      |                              ORDER BY doc_id, chunk_idx) AS rn
      |    FROM chunks) t
      |  WHERE rn = 1)""".stripMargin

  val dedupChunksSql: String =
    s"""WITH $chunksCte
       |SELECT chunk_hash, keep_doc_id, keep_chunk_idx, n_copies FROM (
       |  SELECT chunk_hash,
       |    doc_id AS keep_doc_id,
       |    chunk_idx AS keep_chunk_idx,
       |    row_number() OVER (PARTITION BY chunk_hash
       |                       ORDER BY doc_id, chunk_idx) AS rn,
       |    CAST(count(*) OVER (PARTITION BY chunk_hash) AS BIGINT) AS n_copies
       |  FROM chunks) t
       |WHERE rn = 1
       |ORDER BY chunk_hash""".stripMargin

  /** BPE merge-candidate statistics (`text_bpe_pairs`): the top-50
    * adjacent character-pair frequencies over word-internal text — the
    * first merge round of byte-pair-encoding tokenizer training, which
    * at corpus scale is exactly this aggregate re-run per merge. Words
    * are the same `[a-z0-9]+` regex tokens the token-count op uses;
    * pairs are counted with multiplicity (BPE merges by total count,
    * not document frequency).
    *
    * Plan shape: two narrow Generates (word explode, pair explode) into
    * ONE hash aggregate whose key cardinality is bounded by the symbol
    * alphabet squared (≤ ~1.3k for [a-z0-9]) — partial aggregation
    * collapses each partition to that bound before the shuffle, so the
    * op moves O(alphabet² × partitions), not O(corpus). Top-50 is a
    * TakeOrdered over the bounded aggregate, ties broken by pair text. */
  def textBpePairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
      .filter(length($"w") >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy($"pair")
      .agg(count(lit(1)).as("n_pair"))
      .orderBy($"n_pair".desc, $"pair")
      .limit(50)
  }

  val textBpePairsSql: String =
    """WITH words AS (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      |  FROM documents),
      |pairs AS (
      |  SELECT substr(w, CAST(i AS INT), 2) AS pair FROM (
      |    SELECT w, unnest(range(1, length(w))) AS i
      |    FROM words WHERE length(w) >= 2))
      |SELECT pair, CAST(count(*) AS BIGINT) AS n_pair
      |FROM pairs
      |GROUP BY pair
      |ORDER BY n_pair DESC, pair
      |LIMIT 50""".stripMargin

  /** BPE tokenizer TRAINING (`text_bpe_train`) — the multi-round loop
    * [[textBpePairs]] is the first iteration of: greedily pick the
    * highest-count adjacent symbol pair, fuse it into a new vocabulary
    * symbol, re-count, repeat. Emits the learned merge table (step,
    * left, right, merged, pair_score) — the artifact a tokenizer ships.
    *
    * Scale contract (how production BPE trainers work, e.g. the
    * word-count pre-aggregation in HuggingFace tokenizers): the ONE
    * corpus-sized job is the initial word-TYPE count aggregation; all
    * 8 training rounds then run on the Zipf-bounded type table
    * (types ≪ occurrences), each round = one pair-count aggregation
    * (bounded by vocab², partial-agg-collapsed pre-shuffle) + one
    * narrow leftmost-greedy fold applying the merge. The driver holds
    * only the 1-row argmax per round — the `text_logreg_train` motion.
    * Per-round persists hand off with blocking unpersists (the trained-
    * PQ discipline) so no round rebuilds its predecessor.
    *
    * Determinism: counts are exact BIGINTs, the argmax tie-breaks on
    * (score DESC, left, right), and the fold is leftmost-greedy (the
    * 'aaa' + (a,a) case merges once, not twice) — byte-identical merge
    * tables on every run, which the suite's double-run check exercises
    * for real because nothing here is memoized. Oracle-checked since
    * r12: [[textBpeTrainSql]] restates the full loop in DuckDB; the
    * suite additionally pins score monotonicity across rounds (a fused
    * pair can never mint a more frequent successor), merged =
    * left||right, and round 1 == `text_bpe_pairs`' top pair. */
  def textBpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainBpeMerges(spark, dir)
      .toDF("step", "left", "right", "merged", "pair_score")
      .orderBy($"step")
  }

  /** The 8-round merge-training loop behind [[textBpeTrain]], returning
    * the driver-side merge table. Deliberately NOT memoized — the suite's
    * double-run determinism check relies on a real second training run;
    * [[textBpeEncode]] layers its own tiny memo on top so apply-side
    * consumers don't re-train per call. */
  private def trainBpeMerges(spark: SparkSession, dir: String): Seq[(Int, String, String, String, Long)] = {
    import spark.implicits._
    val Rounds = 8
    val wordTypes = Tables.documents(spark, dir)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .select($"cnt", expr("split(w, '')").as("syms"))
    var cur = wordTypes.persist()
    cur.count()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var step = 1
    var done = false
    while (step <= Rounds && !done) {
      val top = cur.filter(size($"syms") >= 2)
        .select($"cnt", explode(expr(
          """zip_with(slice(syms, 1, size(syms) - 1), slice(syms, 2, size(syms) - 1),
            |  (a, b) -> named_struct('l', a, 'r', b))""".stripMargin)).as("p"))
        .groupBy($"p.l".as("l"), $"p.r".as("r"))
        .agg(sum($"cnt").as("score"))
        .orderBy($"score".desc, $"l", $"r")
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (l, r, score) = (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        val m = l + r
        merges += ((step, l, r, m, score))
        // leftmost-greedy merge: fuse each non-overlapping (l, r) run
        val next = cur.withColumn("syms", expr(
          s"""aggregate(syms, cast(array() as array<string>), (acc, s) ->
             |  if(size(acc) > 0 AND element_at(acc, -1) = '$l' AND s = '$r',
             |     concat(slice(acc, 1, size(acc) - 1), array('$m')),
             |     concat(acc, array(s))))""".stripMargin)).persist()
        next.count()
        cur.unpersist(blocking = true)
        cur = next
        step += 1
      }
    }
    cur.unpersist(blocking = true)
    merges.toSeq
  }

  /** Shared CTE chain for the BPE ORACLES (r12): the full 8-round
    * training loop restated in DuckDB SQL, flipping `text_bpe_train` /
    * `text_bpe_encode` / `text_tokenizer_fertility` from no-oracle to
    * cross-engine-checked. The leftmost-greedy merge fold is expressed
    * through a delimiter-string encoding: a word's symbol sequence is
    * `'|a||b||c|'` (each symbol wrapped in `|…|`, symbols are [a-z0-9]+
    * so `|` never occurs inside one), and applying merge (l, r) → m is
    * `replace(s, '|l||r|', '|m|')` — SQL `replace` substitutes leftmost
    * non-overlapping occurrences scanning left to right, which is
    * EXACTLY the trainer's fold semantics including the `'aaa'`
    * overlap case (first pair merges, scan resumes after the
    * replacement). Each round is pair-count CTE → argmax CTE → apply
    * CTE; `MATERIALIZED` is load-bearing — the apply step reads its
    * argmax through three scalar subqueries, and inlined CTEs would
    * re-expand the whole upstream chain 4× per round (4⁸ scans). A round
    * with no trainable pair leaves `t$k` empty: its apply CTE then passes
    * `s` through unchanged (the CASE guard — a NULL replace pattern would
    * NULL-cascade every later state) and its UNION branch contributes
    * zero rows, matching the trainer's early-stop `done` flag. */
  private def bpeOracleCtes: String = {
    val rounds = 8
    val head =
      """wt AS MATERIALIZED (
        |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        |    FROM documents) u
        |  GROUP BY w),
        |s0 AS MATERIALIZED (
        |  SELECT w, cnt,
        |    '|' || array_to_string(list_transform(range(1, length(w) + 1),
        |            i -> substr(w, CAST(i AS INT), 1)), '||') || '|' AS s
        |  FROM wt)""".stripMargin
    val rounds8 = (1 to rounds).map { k =>
      s"""p$k AS (
         |  SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i + 1 AS INT)] AS r,
         |         sum(cnt) AS score
         |  FROM (SELECT cnt, syms, unnest(range(1, len(syms))) AS i
         |        FROM (SELECT cnt, string_split(substr(s, 2, length(s) - 2), '||') AS syms
         |              FROM s${k - 1}))
         |  GROUP BY 1, 2),
         |t$k AS MATERIALIZED (
         |  SELECT l, r, l || r AS m, CAST(score AS BIGINT) AS score
         |  FROM p$k ORDER BY score DESC, l, r LIMIT 1),
         |s$k AS MATERIALIZED (
         |  SELECT w, cnt,
         |    CASE WHEN (SELECT count(*) FROM t$k) = 0 THEN s
         |         ELSE replace(s,
         |           '|' || (SELECT l FROM t$k) || '||' || (SELECT r FROM t$k) || '|',
         |           '|' || (SELECT m FROM t$k) || '|') END AS s
         |  FROM s${k - 1})""".stripMargin
    }
    (head +: rounds8).mkString(",\n")
  }

  lazy val textBpeTrainSql: String = {
    val union = (1 to 8).map { k =>
      s"""SELECT CAST($k AS INT) AS step, l AS "left", r AS "right",
         |       m AS merged, score AS pair_score FROM t$k""".stripMargin
    }.mkString("\nUNION ALL ")
    s"WITH $bpeOracleCtes\nSELECT * FROM (\n$union) ORDER BY step"
  }

  lazy val textBpeEncodeSql: String =
    s"""WITH $bpeOracleCtes
       |SELECT token, CAST(sum(cnt) AS BIGINT) AS occurrences,
       |       CAST(count(DISTINCT w) AS BIGINT) AS n_word_types
       |FROM (SELECT w, cnt,
       |        unnest(string_split(substr(s, 2, length(s) - 2), '||')) AS token
       |      FROM s8)
       |GROUP BY token ORDER BY token""".stripMargin

  lazy val textTokenizerFertilitySql: String =
    s"""WITH $bpeOracleCtes,
       |wl AS (
       |  SELECT lang, w, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |    FROM documents) u
       |  GROUP BY lang, w),
       |tokn AS (
       |  SELECT w,
       |    CAST(len(string_split(substr(s, 2, length(s) - 2), '||')) AS BIGINT) AS n_tok
       |  FROM s8)
       |SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_words,
       |       CAST(count(DISTINCT w) AS BIGINT) AS n_word_types,
       |       CAST(sum(cnt * n_tok) AS BIGINT) AS n_tokens,
       |       (CAST(sum(cnt * n_tok) AS BIGINT) * 1000)
       |         // CAST(sum(cnt) AS BIGINT) AS fertility_x1000
       |FROM wl JOIN tokn USING (w)
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** The trained merge table, memoized per session/dir: the first
    * [[bpeEncodedTypes]] build pays for training. */
  private[graft] def bpeMerges(spark: SparkSession, dir: String): Seq[(Int, String, String, String, Long)] =
    Stages.memo(spark, s"bpemerges:$dir")(trainBpeMerges(spark, dir))

  /** Memoized, PERSISTED encoded word-type table `(w, cnt, syms)` shared
    * by [[textBpeEncode]] and [[textTokenizerFertility]] — the tokenizer
    * apply-side twin of [[DedupOps.sharedShingles]]. The 8 trained merges
    * are replayed as one chained leftmost-greedy fold over the
    * Zipf-bounded word-TYPE table and the RESULT is persisted, so the
    * 8-deep interpreted higher-order `aggregate` tower executes exactly
    * once per (session, dir) at materialization time; every consumer
    * (the token histogram's explode + distinct-agg Expand, fertility's
    * per-language join) reads fixed-width cached rows instead of
    * re-driving the tower. Before this stage existed the histogram
    * query's Expand(×2) distinct-aggregate rewrite re-evaluated the
    * collapsed 8-fold projection on both expanded copies of every
    * exploded token row — measured 14.0 s vs 0.66 s for the identical
    * tower consumed once (r10 verdict); now both queries share the one
    * ~0.7 s build. `cnt` is the corpus frequency of the word type, so
    * frequency-weighted consumers need no second corpus scan. */
  private[graft] def bpeEncodedTypes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Stages.memo(spark, s"bpetypes:$dir") {
      val merges = bpeMerges(spark, dir)
      require(merges.forall(m => m._2.matches("[a-z0-9]+") && m._3.matches("[a-z0-9]+")),
        "merge symbols must stay in [a-z0-9]+ — they are interpolated into expr strings")
      val wordTypes = Tables.documents(spark, dir)
        .select(explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
        .groupBy($"w").agg(count(lit(1)).as("cnt"))
        .select($"w", $"cnt", expr("split(w, '')").as("syms"))
      merges.foldLeft(wordTypes) { case (df, (_, l, r, m, _)) =>
        df.withColumn("syms", expr(
          s"""aggregate(syms, cast(array() as array<string>), (acc, s) ->
             |  if(size(acc) > 0 AND element_at(acc, -1) = '$l' AND s = '$r',
             |     concat(slice(acc, 1, size(acc) - 1), array('$m')),
             |     concat(acc, array(s))))""".stripMargin))
      }.persist()
    }
  }

  /** BPE encode (`text_bpe_encode`) — the APPLY side of
    * [[textBpeTrain]], closing the train→apply loop the same way
    * `text_quality_logreg` does for the quality model: the 8 trained
    * merges are replayed IN TRAINING ORDER over every word, each with
    * the identical leftmost-greedy fold the trainer used, and the
    * resulting token stream is reported as the corpus token histogram
    * (token, occurrences weighted by word frequency, distinct word
    * types containing it). With 8 merges the token alphabet is bounded
    * by 36 chars + 8 merged symbols, so the output is a ≤44-row table —
    * what a tokenizer deployment inspects to see where its merge budget
    * went.
    *
    * Scale shape: encoding runs at WORD-TYPE granularity — the classic
    * tokenizer-apply trick: the merge fold touches each distinct word
    * once, however often it occurs; corpus frequency rides along as a
    * count column. The fold itself lives in the memoized
    * [[bpeEncodedTypes]] stage shared with the fertility report, so
    * this query is explode + one bounded token agg over cached rows —
    * without the shared stage the distinct-aggregate Expand(×2) here
    * re-evaluated the collapsed 8-fold interpreted tower on both copies
    * of every exploded row (14.0 s vs 0.66 s, r10 verdict). No UDFs.
    * Oracle-checked since r12 ([[textBpeEncodeSql]] re-trains and
    * re-encodes in DuckDB); the spec additionally rebuilds the full
    * histogram from a driver-side re-encode. */
  def textBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeEncodedTypes(spark, dir)
      .select($"w", $"cnt", explode($"syms").as("token"))
      .groupBy($"token")
      .agg(sum($"cnt").as("occurrences"),
        countDistinct($"w").as("n_word_types"))
      .orderBy($"token")
  }

  /** Tokenizer fertility report (`text_tokenizer_fertility`,
    * oracle-checked since r12 via [[textTokenizerFertilitySql]]): per
    * language, words, word
    * types, emitted BPE tokens under the trained merge table, and the
    * exact per-mille fertility (tokens per word ×1000) — THE metric a
    * tokenizer rollout is judged on (fertility ≈ cost: a language at
    * 2× fertility pays 2× the sequence length for the same text, which
    * is how under-represented languages end up over-paying; the
    * lang-temperature mixture and this table are read together).
    *
    * Scale shape: the encode fold runs at word-TYPE granularity inside
    * the memoized [[bpeEncodedTypes]] stage shared with
    * `text_bpe_encode` (each type tokenized once, frequency rides
    * along); the per-(lang, word) counts join the ≤types-sized cached
    * encode result on the word key, and the final rollup is bounded by
    * #languages. Suite asserts the exact cross-query invariant: total
    * emitted tokens here ≡ Σ occurrences in `text_bpe_encode`'s
    * histogram. */
  def textTokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wordLang = Tables.documents(spark, dir)
      .select($"lang",
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
      .groupBy($"lang", $"w").agg(count(lit(1)).as("cnt"))
    wordLang
      .join(bpeEncodedTypes(spark, dir)
        .select($"w", size($"syms").cast("bigint").as("n_tok")), "w")
      .groupBy($"lang")
      .agg(sum($"cnt").as("n_words"),
        countDistinct($"w").as("n_word_types"),
        sum($"cnt" * $"n_tok").as("n_tokens"))
      .withColumn("fertility_x1000", expr("n_tokens * 1000 div n_words"))
      .orderBy($"lang")
  }

  /** Memoized, persisted 10-token rolling-window hash stream feeding the
    * two aggregations inside [[textDupNgramFraction]] (the dup-gram set
    * and the per-window join). Unlike the shingle stage this cache has a
    * single consumer QUERY — it exists so the explode (the dominant cost)
    * runs once per plan instead of once per aggregation branch, and so
    * the bench ledger can itemize the build (`dup_windows`) instead of
    * charging it to whichever run touches it first. To keep the pinned
    * footprint honest the grams are packed to 60-bit longs before the
    * persist (r14; was 16-byte binary) — the cached rows carry 8-byte
    * keys, and nothing downstream ever needs the text. App-end eviction
    * backstop as with every other cached stage. */
  private[graft] def dupWindows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.GramHashes.register(spark)
    Stages.memo(spark, s"dupwins:$dir") {
      Tables.documents(spark, dir)
        .select($"doc_id", split(lower($"text"), " ").as("ts"))
        .filter(size($"ts") >= 10)
        // one codegen'd kernel pass per doc (kernel == the interpreted
        // transform/slice/md5/conv tower, pinned in FunctionsSpec).
        // 60-bit longs, not 16-byte binaries (r14): this window stream is
        // one row per token position, so the count-distinct aggregate and
        // the gram-keyed joins downstream shuffle 8-byte keys; the oracle
        // derives the identical ints, keeping parity exact even under a
        // (astronomically-unlikely) collision.
        .select($"doc_id", explode(expr("graft_gram_hashes60(ts, 10)")).as("gram"))
        .persist()
    }
  }

  /** Duplicate-10-gram fraction (`text_dup_ngram_fraction`) — the
    * Gopher/MassiveText repetition filter at corpus granularity: for each
    * document, the fraction of its rolling 10-token windows whose content
    * also occurs in at least one OTHER document. High values mark
    * boilerplate and templated spam that exact- and chunk-dedup both miss
    * (the duplication is sub-document and unaligned).
    *
    * Plan shape: windows are generated by a narrow
    * `transform(sequence(...))` + explode and hashed to 60-bit md5 keys
    * immediately, so everything downstream shuffles 8-byte ints,
    * never window text (the same pre-hash trick the shingle stage uses).
    * Then one count-distinct-docs aggregation keyed by gram hash, an
    * equi-join of the window stream against the ≥2-doc gram set (both
    * sides hash-partitioned on the gram — co-located), and one doc_id
    * aggregation. The final fraction is an exact BIGINT ratio. Documents
    * with fewer than 10 tokens have no windows and report 0 — the
    * left join from `documents` keeps them in the output, and the
    * `size(ts) >= 10` filter (inside [[dupWindows]]) keeps
    * `sequence(1, size-9)` from generating a DESCENDING sequence (Spark
    * infers step -1 when start > stop). */
  /** Ingest-order novelty profile (`text_ngram_novelty`): per document,
    * how many of its 10-token windows first appeared in an EARLIER
    * document (by doc_id = ingest order) and the exact per-mille novelty
    * of the remainder — the curriculum/mixing signal data-selection
    * policies rank on (train on novel content first, down-weight feeds
    * that re-ship what the corpus already holds), and the per-document
    * complement of `text_dup_ngram_fraction`'s symmetric dup view
    * (a window is "repeated" here only against PREDECESSORS, so the
    * first copy stays novel and later copies pay).
    *
    * Plan shape: rides the memoized [[dupWindows]] stage; one min-per-
    * gram aggregation (partial+final on the 8-byte key) gives each
    * window content its first holder, one co-partitioned join back and
    * a per-doc count — the same shuffle budget as the dup-fraction
    * query. Windowless docs (< 10 tokens) report vacuous novelty 1000. */
  def textNgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wins = dupWindows(spark, dir)
    val firstSeen = wins.groupBy($"gram").agg(min($"doc_id").as("first_doc"))
    val perDoc = wins.join(firstSeen, "gram")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when($"first_doc" < $"doc_id", 1L).otherwise(0L)).as("n_repeated"))
    Tables.documents(spark, dir).select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_windows", lit(0L)).as("n_windows"),
        coalesce($"n_repeated", lit(0L)).as("n_repeated"),
        when(coalesce($"n_windows", lit(0L)) > 0,
          expr("(n_windows - n_repeated) * 1000 div n_windows"))
          .otherwise(lit(1000L)).as("novelty_permille"))
      .orderBy($"doc_id")
  }

  val textNgramNoveltySql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
      |wins AS (
      |  SELECT doc_id, CAST(concat('0x', substr(md5(
      |    array_to_string(ts[CAST(i AS INT):CAST(i + 9 AS INT)], ' ')), 1, 15))
      |    AS BIGINT) AS gram
      |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 8)) AS i
      |        FROM toks WHERE len(ts) >= 10)),
      |firstseen AS (
      |  SELECT gram, min(doc_id) AS first_doc FROM wins GROUP BY gram),
      |perdoc AS (
      |  SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
      |    CAST(sum(CASE WHEN f.first_doc < w.doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_repeated
      |  FROM wins w JOIN firstseen f USING (gram)
      |  GROUP BY w.doc_id)
      |SELECT d.doc_id,
      |  COALESCE(p.n_windows, 0) AS n_windows,
      |  COALESCE(p.n_repeated, 0) AS n_repeated,
      |  CASE WHEN COALESCE(p.n_windows, 0) > 0
      |       THEN (p.n_windows - p.n_repeated) * 1000 // p.n_windows
      |       ELSE 1000 END AS novelty_permille
      |FROM documents d LEFT JOIN perdoc p USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  def textDupNgramFraction(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wins = dupWindows(spark, dir)
    val dupGrams = wins.groupBy($"gram")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2)
      .select($"gram", lit(1L).as("is_dup"))
    val perDoc = wins.join(dupGrams, Seq("gram"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce($"is_dup", lit(0L))).as("n_dup"))
    Tables.documents(spark, dir).select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_windows", lit(0L)).as("n_windows"),
        coalesce($"n_dup", lit(0L)).as("n_dup_windows"),
        when(coalesce($"n_windows", lit(0L)) > 0,
          coalesce($"n_dup", lit(0L)).cast("double") / $"n_windows".cast("double"))
          .otherwise(lit(0.0)).as("dup_frac"))
      .orderBy($"doc_id")
  }

  val textDupNgramFractionSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
      |wins AS (
      |  SELECT doc_id, CAST(concat('0x', substr(md5(
      |    array_to_string(ts[CAST(i AS INT):CAST(i + 9 AS INT)], ' ')), 1, 15))
      |    AS BIGINT) AS gram
      |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 8)) AS i
      |        FROM toks WHERE len(ts) >= 10)),
      |dup AS (
      |  SELECT gram FROM wins GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
      |perdoc AS (
      |  SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
      |    CAST(sum(CASE WHEN d.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
      |  FROM wins w LEFT JOIN dup d USING (gram)
      |  GROUP BY w.doc_id)
      |SELECT doc_id,
      |  COALESCE(n_windows, 0) AS n_windows,
      |  COALESCE(n_dup, 0) AS n_dup_windows,
      |  CASE WHEN COALESCE(n_windows, 0) > 0
      |       THEN CAST(n_dup AS DOUBLE) / CAST(n_windows AS DOUBLE)
      |       ELSE 0.0 END AS dup_frac
      |FROM documents LEFT JOIN perdoc USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Unigram-LM document scoring (`text_lm_logprob`) — the CCNet-style
    * quality signal: train a unigram language model on the corpus itself
    * (token counts / total), then score each document by its mean token
    * log-probability. Low scores mark gibberish and OCR noise; anomalously
    * high scores mark boilerplate. At 100 TB the "model" is the vocab
    * count table — orders of magnitude smaller than the corpus — so the
    * scoring join broadcasts (left to AQE here; the vocab side is built
    * from the same token stream and ReuseExchange shares the scan).
    *
    * Determinism across engines: a per-doc float sum over tokens in
    * partition order would be order-dependent, so both engines fold the
    * per-(doc, token) terms in SORTED token order — Spark via
    * `sort_array(collect_list(struct(...)))` + the `aggregate` HOF,
    * DuckDB via `list(... ORDER BY token)` + `list_reduce` with a
    * prepended 0.0 init (a sequential left fold, same association as
    * Spark's). `ln` is only 1-ulp-accurate (not bit-stable across libm
    * builds), so the mean is rounded to 6 decimals — ~1e-14 accumulated
    * divergence vs a 5e-7 rounding quantum. The collect_list is per
    * (doc, DISTINCT token), bounded by document vocabulary, not corpus.
    *
    * The per-term `k·ln(c/n)` is computed in a CODEGEN projection
    * BEFORE the collect (r16: higher-order-function lambdas are
    * interpreted per element — evaluating the log inside the fold cost
    * the bigram sibling ~30 of its 84 task-CPU-s at the 10× rung,
    * probe-decomposed); the fold lambda is now a plain add over the
    * same doubles in the same token order, so the result is
    * bit-identical (suite-pinned on the sibling's shape) and DuckDB's
    * list_reduce-over-terms formulation is matched exactly. */
  def textLmLogprob(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tok = Tables.documents(spark, dir)
      .select($"doc_id", explode(split(lower($"text"), " ")).as("token"))
      .filter($"token" =!= "")
    val vocab = tok.groupBy($"token").agg(count(lit(1)).as("c"))
    val totals = vocab.agg(sum($"c").as("n_total"))
    val docTok = tok.groupBy($"doc_id", $"token").agg(count(lit(1)).as("k"))
    docTok.join(vocab, Seq("token"))
      .crossJoin(broadcast(totals))
      .select($"doc_id", $"token", $"k",
        ($"k".cast("double") *
          log($"c".cast("double") / $"n_total".cast("double"))).as("term"))
      .groupBy($"doc_id")
      .agg(sum($"k").as("n_tokens"),
        sort_array(collect_list(struct($"token", $"term"))).as("xs"))
      .select($"doc_id", $"n_tokens",
        round(
          aggregate($"xs", lit(0.0), (acc, x) =>
            acc + x.getField("term"))
            / $"n_tokens".cast("double"), 6).as("avg_logprob"))
      .orderBy($"doc_id")
  }

  val textLmLogprobSql: String =
    """WITH tok AS (
      |  SELECT doc_id, token FROM (
      |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      |    FROM documents) t
      |  WHERE token <> ''),
      |vocab AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY token),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM vocab),
      |perdoc AS (
      |  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
      |    list(CAST(k AS DOUBLE) *
      |           ln(CAST(c AS DOUBLE) / (SELECT CAST(n_total AS DOUBLE) FROM tot))
      |         ORDER BY token) AS terms
      |  FROM (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS k
      |        FROM tok GROUP BY doc_id, token) dt
      |  JOIN vocab USING (token)
      |  GROUP BY doc_id)
      |SELECT doc_id, n_tokens,
      |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), terms), (a, b) -> a + b)
      |        / CAST(n_tokens AS DOUBLE), 6) AS avg_logprob
      |FROM perdoc
      |ORDER BY doc_id""".stripMargin

  /** Bigram-LM quality score (`text_bigram_logprob`) — the next model up
    * from [[textLmLogprob]]'s unigram: per doc, the mean log of the
    * interpolated conditional P̂(y|x) = (c_xy + P_uni(y)) / (c_x + 1)
    * (add-1 smoothing with unigram backoff mass — the KenLM-class
    * fluency signal CCNet-style filters rank on; a doc of real phrases
    * scores near the corpus ceiling, shuffled bags of valid words drop).
    * Docs with < 2 tokens have no bigram evidence and are excluded by
    * definition.
    *
    * Scale shape: bigrams are formed INSIDE each row (zip_with of the
    * token array against its own tail — narrow, no positional
    * self-join), so corpus-sized work is the token/bigram count aggs and
    * the three vocab-keyed scoring joins. Both vocab tables are Zipf-
    * sublinear in the corpus, so at 100 TB the scoring joins broadcast
    * or bucket while the doc side streams; ReuseExchange shares the
    * tokenization across the count aggs. Determinism: per-doc fold over
    * the SORTED distinct-bigram terms in both engines, exact-integer
    * counts underneath, round-6 absorbing last-ulp `ln` drift (the
    * [[textLmLogprob]] contract). */
  def textBigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id",
        expr("filter(split(lower(text), ' '), x -> x <> '')").as("a"))
    val tok = toks.select($"doc_id", explode($"a").as("token"))
    val vocab = tok.groupBy($"token").agg(count(lit(1)).as("c"))
    val totals = vocab.agg(sum($"c").as("n_total"))
    val bg = toks.filter(size($"a") >= 2)
      .select($"doc_id", explode(expr(
        """zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1),
          |  (x, y) -> named_struct('x', x, 'y', y))""".stripMargin)).as("b"))
      .select($"doc_id", $"b.x".as("x"), $"b.y".as("y"),
        concat($"b.x", lit(" "), $"b.y").as("bigram"))
    val bgc = bg.groupBy($"bigram").agg(count(lit(1)).as("cxy"))
    val dbg = bg.groupBy($"doc_id", $"bigram", $"x", $"y")
      .agg(count(lit(1)).as("k"))
    // per-term smoothed log computed in a CODEGEN projection before the
    // collect (r16: the HOF lambda is interpreted per element — probe-
    // decomposed at the 10× rung, the in-lambda log cost ~30 of the
    // query's 84 task-CPU-s; projecting the term drops the query to
    // 58 CPU-s with bit-identical output, parity-checked over all 50k
    // docs). The fold is a plain add over the same doubles in the same
    // bigram order — the exact sequence DuckDB's list_reduce folds.
    dbg.join(bgc, "bigram")
      .join(vocab.select($"token".as("x"), $"c".as("cx")), Seq("x"))
      .join(vocab.select($"token".as("y"), $"c".as("cy")), Seq("y"))
      .crossJoin(broadcast(totals))
      .select($"doc_id", $"bigram", $"k",
        ($"k".cast("double") *
          log(($"cxy".cast("double") +
               $"cy".cast("double") / $"n_total".cast("double")) /
              ($"cx".cast("double") + lit(1.0)))).as("term"))
      .groupBy($"doc_id")
      .agg(sum($"k").as("n_bigrams"),
        sort_array(collect_list(struct($"bigram", $"term"))).as("xs"))
      .select($"doc_id", $"n_bigrams",
        round(
          aggregate($"xs", lit(0.0), (acc, t) =>
            acc + t.getField("term")) /
            $"n_bigrams".cast("double"), 6).as("avg_logprob2"))
      .orderBy($"doc_id")
  }

  val textBigramLogprobSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |         list_filter(string_split(lower(text), ' '), x -> x <> '') AS a
      |  FROM documents),
      |tok AS (SELECT doc_id, unnest(a) AS token FROM toks),
      |vocab AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY token),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM vocab),
      |bg AS (
      |  SELECT doc_id,
      |         unnest([{'x': a[i], 'y': a[i + 1]} for i in range(1, len(a))]) AS b
      |  FROM toks WHERE len(a) >= 2),
      |bgx AS (
      |  SELECT doc_id, b.x AS x, b.y AS y, b.x || ' ' || b.y AS bigram FROM bg),
      |bgc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS cxy FROM bgx GROUP BY bigram),
      |dbg AS (
      |  SELECT doc_id, bigram, x, y, CAST(count(*) AS BIGINT) AS k
      |  FROM bgx GROUP BY doc_id, bigram, x, y),
      |perdoc AS (
      |  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
      |    list(CAST(k AS DOUBLE) *
      |           ln((CAST(cxy AS DOUBLE)
      |               + CAST(cy AS DOUBLE)
      |                 / (SELECT CAST(n_total AS DOUBLE) FROM tot))
      |              / (CAST(cx AS DOUBLE) + 1.0))
      |         ORDER BY bigram) AS terms
      |  FROM dbg
      |  JOIN bgc USING (bigram)
      |  JOIN (SELECT token AS x, c AS cx FROM vocab) vx USING (x)
      |  JOIN (SELECT token AS y, c AS cy FROM vocab) vy USING (y)
      |  GROUP BY doc_id)
      |SELECT doc_id, n_bigrams,
      |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), terms), (a, b) -> a + b)
      |        / CAST(n_bigrams AS DOUBLE), 6) AS avg_logprob2
      |FROM perdoc
      |ORDER BY doc_id""".stripMargin

  /** Distributed logistic-regression TRAINING (`text_logreg_train`) — the
    * training-side counterpart of [[textQualityLogreg]] (which APPLIES
    * fixed shipped weights). Full-batch gradient descent where each
    * iteration is exactly ONE partial+final aggregation over the corpus:
    * the current weight vector is embedded as literals, executors compute
    * per-row sigmoid/gradient/loss contributions, and the driver receives
    * seven doubles (4+1 gradient sums, loss, accuracy) to take one step.
    * The model is 5 doubles — driver-resident by design, like the 1-row
    * convergence witness in the connected-components loop; the per-pass
    * data motion is a single scalar-aggregate row per partition.
    *
    * Labels are distilled from the shipped teacher weights (teacher z ≥ 0
    * ⇔ prob ≥ 0.5), so the trained model must recover the teacher's
    * decision boundary over the SAME features — asserted by the suite
    * (monotone loss, ≥0.9 final accuracy). Features are standardized
    * (one extra aggregation) so lr=1.0 is stable; log-loss uses the
    * softplus form `max(z,0) − z·y + log1p(exp(−|z|))`, which never
    * overflows. 20 passes over a persisted narrow projection; at 100 TB
    * the same shape runs on a sample or switches to mini-batches — the
    * per-iteration plan (scan cache → partial agg → 1-row final) is the
    * scale-safe part, and pass count is the dial.
    *
    * No oracle: sigmoid/ln are transcendental (engine ulp drift) and the
    * iterate depends on float summation order; invariants live in the
    * suite instead (like `anomaly_kmeans`). */
  def textLogregTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // teacher decision: shipped z ≥ 0 (same boundary the applier rounds),
    // computed from the SAME shared projection and weight constants
    val raw = qualityFeatures(spark, dir)
      .withColumn("y", when(teacherZ >= 0, 1.0).otherwise(0.0))
      .select($"doc_id", $"y",
        $"f_log_tokens".as("f1"), $"stop_ratio".as("f2"),
        $"ttr".as("f3"), $"avg_token_len".as("f4"))
    val st = raw.select(
      (1 to 4).flatMap(i => Seq(
        avg(col(s"f$i")).as(s"m$i"),
        coalesce(nullif(stddev_pop(col(s"f$i")), lit(0.0)), lit(1.0)).as(s"s$i"))): _*)
      .head()
    val feats = raw.select(($"doc_id" +: $"y" +: (1 to 4).map(i =>
        ((col(s"f$i") - st.getDouble(2 * i - 2)) / st.getDouble(2 * i - 1)).as(s"x$i"))): _*)
      .persist()
    try {
      feats.count()
      var w = Array.fill(5)(0.0) // bias, x1..x4
      val lr = 1.0
      val ledger = (1 to 20).map { it =>
        val z = lit(w(0)) + (1 to 4).map(i => lit(w(i)) * col(s"x$i")).reduce(_ + _)
        val p = lit(1.0) / (lit(1.0) + exp(-z))
        val r = feats.select(
          (avg(p - $"y") +: (1 to 4).map(i => avg((p - $"y") * col(s"x$i")))) ++ Seq(
            avg(greatest(z, lit(0.0)) - z * $"y" + log1p(exp(-abs(z)))),
            avg(when((z >= 0) === ($"y" === 1.0), 1.0).otherwise(0.0))): _*).head()
        val loss = r.getDouble(5)
        val acc = r.getDouble(6)
        for (i <- 0 to 4) w(i) -= lr * r.getDouble(i)
        (it, loss, acc, w(0), w(1), w(2), w(3), w(4))
      }
      spark.createDataFrame(ledger).toDF("iter", "log_loss", "accuracy",
        "w_bias", "w_log_tokens", "w_stop_ratio", "w_ttr", "w_avg_token_len")
        .orderBy($"iter")
    } finally feats.unpersist(blocking = false)
  }

  /** PII regex classes shared by [[textPiiScrub]] and its oracle string:
    * kept to syntax valid in BOTH Java regex (Spark) and RE2 (DuckDB) —
    * no lookaround, no backreferences — so the two engines scrub
    * identically. */
  private val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PiiPhoneRe = "555-[0-9]+"
  private val PiiIdRe = "[0-9]{6,}"

  /** Corpus PII scrub (`text_pii_scrub`): redact emails, phone numbers,
    * and long digit ids from `documents.text`, reporting per-class match
    * counts as the audit trail — the corpus-side counterpart of
    * [[CurationOps.eventsPiiScrub]] (training pipelines scrub the text
    * corpus, not just event payloads).
    *
    * The synthetic corpus carries no PII (word-soup text, no digits), so
    * the query PLANTS deterministic markers on the doc_id ≡ 0 (mod 97)
    * sample — built from the same expression on both engines — keeping
    * the replacement path oracle-EXERCISED rather than comparing no-ops;
    * the remaining 96/97 of the corpus proves the scrubber's no-false-
    * positive side. Classes are counted on the pre-scrub text and
    * replaced most-specific-first (email → phone → id) so the id class
    * cannot eat a phone's digits before the phone class sees them.
    *
    * Scale shape: one narrow fully-codegen projection (RegExpReplace /
    * RegExpCount chains), zero shuffles before the ordered output — the
    * 100 TB form is a map-only pass with the audit aggregated
    * downstream. */
  def textPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val planted = concat($"text",
      lit(" contact user"), $"doc_id".cast("string"),
      lit("@example.com phone 555-"), $"doc_id".cast("string"),
      lit(" id 1234567890"))
    val aug = when(pmod($"doc_id", lit(97)) === 0, planted).otherwise($"text")
    Tables.documents(spark, dir)
      .select($"doc_id", aug.as("aug"))
      .select($"doc_id",
        regexp_replace(
          regexp_replace(
            regexp_replace($"aug", PiiEmailRe, "[EMAIL]"),
            PiiPhoneRe, "[PHONE]"),
          PiiIdRe, "[ID]").as("scrubbed"),
        regexp_count($"aug", lit(PiiEmailRe)).cast("bigint").as("n_emails"),
        regexp_count($"aug", lit(PiiPhoneRe)).cast("bigint").as("n_phones"),
        regexp_count($"aug", lit(PiiIdRe)).cast("bigint").as("n_ids"))
      .transform(Presentation.ordered(_, $"doc_id"))
  }

  val textPiiScrubSql: String =
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 97 = 0
       |         THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
       |              || '@example.com phone 555-' || CAST(doc_id AS VARCHAR)
       |              || ' id 1234567890'
       |         ELSE text END AS aug
       |  FROM documents)
       |SELECT doc_id,
       |  regexp_replace(regexp_replace(regexp_replace(aug,
       |    '$PiiEmailRe', '[EMAIL]', 'g'),
       |    '$PiiPhoneRe', '[PHONE]', 'g'),
       |    '$PiiIdRe', '[ID]', 'g') AS scrubbed,
       |  CAST(len(regexp_extract_all(aug, '$PiiEmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(aug, '$PiiPhoneRe')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(aug, '$PiiIdRe')) AS BIGINT) AS n_ids
       |FROM aug
       |ORDER BY doc_id""".stripMargin

  /** Character-entropy quality signal (`text_char_entropy`): per-document
    * Shannon entropy of the character distribution, plus the counts it is
    * computed from — the cheap stand-in for the compression-ratio filter
    * CCNet-class pipelines run (low-entropy documents are boilerplate /
    * repeated-char junk; implausibly high entropy is binary-in-text).
    * Kept next to [[textQualityScore]] as another gate input.
    *
    * Determinism: counts are exact BIGINTs; entropy is a SORTED
    * sequential fold over (char, count) pairs — `acc − p·ln(p)/ln(2)` in
    * char order — so both engines add the same IEEE terms in the same
    * order (`x − y ≡ x + (−y)` bitwise), and round(…, 6) absorbs the
    * last-ulp libm `ln` variance, the [[textLmLogprob]] pattern.
    *
    * Scale shape: ONE codegen'd kernel call per document — the custom
    * [[graft.functions.CharCounts]] expression emits the sorted
    * (ch, c) array directly (state bounded by the doc's alphabet), so
    * there is no char explode and no (doc_id, ch) shuffle at all. The
    * r10 composable form (Generate fanning each doc into one row per
    * CHARACTER — ~100M rows and 14.4 s at the sf1 probe, its #1 line
    * once phash was fixed) is retired; the histogram it aggregated is
    * byte-identical, so the entropy fold below is unchanged. The fold's
    * per-doc state stays bounded by the alphabet, never the corpus. */
  def textCharEntropy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.CharCounts.register(spark)
    Tables.documents(spark, dir)
      .select($"doc_id", expr("graft_char_counts(text)").as("xs"))
      // a zero-length text yields no (ch, c) rows on either engine
      .filter(size($"xs") > 0)
      .select($"doc_id",
        expr("aggregate(xs, 0L, (a, x) -> a + x.c)").as("n_chars_counted"),
        size($"xs").cast("bigint").as("n_distinct_chars"),
        $"xs")
      .select($"doc_id", $"n_chars_counted", $"n_distinct_chars",
        round(
          aggregate($"xs", lit(0.0), (acc, x) => {
            val p = x.getField("c").cast("double") / $"n_chars_counted".cast("double")
            acc - p * log(p) / log(lit(2.0))
          }), 6).as("entropy"))
      .transform(Presentation.ordered(_, $"doc_id"))
  }

  val textCharEntropySql: String =
    """WITH chars AS (
      |  SELECT doc_id, substr(text, CAST(i AS INT), 1) AS ch FROM (
      |    SELECT doc_id, text, unnest(range(1, len(text) + 1)) AS i
      |    FROM documents)),
      |cnt AS (
      |  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
      |  FROM chars GROUP BY doc_id, ch),
      |agg AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars_counted,
      |    count(*) AS n_distinct_chars,
      |    list(c ORDER BY ch) AS cs
      |  FROM cnt GROUP BY doc_id)
      |SELECT doc_id, n_chars_counted, n_distinct_chars,
      |  round(list_reduce(
      |    list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(cs, c ->
      |        -((CAST(c AS DOUBLE) / CAST(n_chars_counted AS DOUBLE))
      |          * ln(CAST(c AS DOUBLE) / CAST(n_chars_counted AS DOUBLE))
      |          / ln(CAST(2.0 AS DOUBLE))))),
      |    (a, b) -> a + b), 6) AS entropy
      |FROM agg
      |ORDER BY doc_id""".stripMargin
}
