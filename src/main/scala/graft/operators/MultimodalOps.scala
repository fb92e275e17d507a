package graft.operators

import graft.{Tables, TempDirs}
import graft.stages.Stages
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Opaque-binary (multimodal) column plumbing: treat media payloads as
  * `binary` columns with typed metadata, decoded/feature-extracted by
  * imperative per-partition code.
  *
  * The container has no image/audio codecs, so the decode step is a
  * clearly-marked deterministic fake ([[FakeMediaCodec.decode]]) — but the
  * Spark-side plumbing is real: a `binary` payload column, a
  * `mapPartitions` pass with batched iteration (the Scala analog of a
  * pandas-batch UDF: one codec instance per partition, streamed rows), and
  * a typed output schema. Swapping [[FakeMediaCodec]] for a real codec is
  * the only change needed at production scale.
  *
  * Scale notes: decode is embarrassingly parallel and narrow — no shuffle;
  * partition sizing (`spark.sql.files.maxPartitionBytes`) is the only
  * knob. Metadata-only downstream queries never deserialize the payload
  * (column pruning drops the binary column at the scan).
  */
object MultimodalOps {

  /** Decoded-media metadata row. */
  final case class MediaMeta(
      doc_id: Long, n_bytes: Long, width: Long, height: Long, format: String)

  /** STUB codec: derives metadata deterministically from the payload bytes
    * in place of a real image decode. The arithmetic is mirrored by the
    * DuckDB oracle, which is exactly what makes the plumbing testable
    * without codecs. */
  object FakeMediaCodec {
    def decode(docId: Long, payload: Array[Byte]): MediaMeta = {
      val n = payload.length.toLong
      val fmt = (n % 3) match {
        case 0 => "png"
        case 1 => "jpeg"
        case _ => "webp"
      }
      MediaMeta(docId, n, n % 640, (n * 7) % 480, fmt)
    }
  }

  /** Binary payload column + per-partition decode → typed metadata.
    * The payload is the document text's UTF-8 bytes standing in for real
    * media bytes (same schema shape: `binary` + id). */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val payloads = Tables.documents(spark, dir)
      .select($"doc_id", $"text".cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
    payloads
      .mapPartitions { it =>
        // one codec per partition (mirrors per-batch codec reuse in a
        // pandas UDF); rows stream through without materializing
        it.map { case (id, bytes) => FakeMediaCodec.decode(id, bytes) }
      }
      .toDF()
      .orderBy($"doc_id")
  }

  val multimodalMetaSql: String =
    """SELECT doc_id,
      |  octet_length(encode(text)) AS n_bytes,
      |  octet_length(encode(text)) % 640 AS width,
      |  (octet_length(encode(text)) * 7) % 480 AS height,
      |  CASE octet_length(encode(text)) % 3
      |    WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Frame-sampling plumbing over the payload: deterministic byte-offset
    * "frames" (every 64th byte as an i8 sample) aggregated to a checksum —
    * the shape of audio/video frame extraction without a codec. */
  def multimodalFrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val payloads = Tables.documents(spark, dir)
      .select($"doc_id", $"text".cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
    payloads
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          var i = 0
          var n = 0L
          var sum = 0L
          while (i < bytes.length) { sum += (bytes(i) & 0xffL); n += 1; i += 64 }
          (id, n, sum)
        }
      }
      .toDF("doc_id", "n_frames", "frame_checksum")
      .orderBy($"doc_id")
  }

  /** Oracle strides the UTF-8 BYTES of the payload (hex-decode of
    * encode(text), 2 hex chars per byte, stride 128 = 64 bytes), exactly
    * like the Spark side's `bytes(i) & 0xff` — a char-striding oracle
    * would silently diverge on any multi-byte text. */
  val multimodalFrameSampleSql: String =
    """SELECT doc_id,
      |  CAST(len(samples) AS BIGINT) AS n_frames,
      |  CAST(coalesce(list_sum(samples), 0) AS BIGINT) AS frame_checksum
      |FROM (
      |  SELECT doc_id,
      |    [CAST(concat('0x', substr(h, i, 2)) AS INT)
      |     for i in range(1, 2 * nb, 128)] AS samples
      |  FROM (SELECT doc_id, hex(encode(text)) AS h,
      |               octet_length(encode(text)) AS nb
      |        FROM documents) t0) t
      |ORDER BY doc_id""".stripMargin

  /** "Resize" plumbing: downsample every payload to a fixed-size
    * 64-sample thumbnail (stride = ⌊n/64⌋ bytes, the byte-domain stand-in
    * for pixel-domain bilinear resize), emitting the thumbnail length,
    * plain sum, and an order-sensitive weighted checksum — so a permuted
    * or off-by-one-stride "resize" fails the compare. Same shape as a
    * production image-resize pass: narrow `mapPartitions`, one codec per
    * partition, output size constant per row regardless of input size
    * (what makes downstream batch tensors rectangular). */
  def multimodalResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", $"text".cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val n = bytes.length
          val stride = math.max(1, n / 64)
          val k = math.min(64, n)
          var i = 0
          var sum = 0L
          var weighted = 0L
          while (i < k) {
            val s = bytes(i * stride) & 0xff
            sum += s
            weighted += s.toLong * (i + 1)
            i += 1
          }
          (id, k.toLong, sum, weighted)
        }
      }
      .toDF("doc_id", "thumb_len", "thumb_sum", "thumb_weighted")
      .orderBy($"doc_id")
  }

  /** Oracle strides the hex-encoded UTF-8 bytes: sample i (1-based)
    * reads the byte at offset (i−1)·stride, i.e. hex position
    * 1 + 2·(i−1)·stride. */
  val multimodalResizeSql: String =
    """SELECT doc_id,
      |  CAST(len(samples) AS BIGINT) AS thumb_len,
      |  CAST(coalesce(list_sum(samples), 0) AS BIGINT) AS thumb_sum,
      |  CAST(coalesce(list_sum(
      |    [samples[i] * i for i in range(1, len(samples) + 1)]), 0) AS BIGINT)
      |    AS thumb_weighted
      |FROM (
      |  SELECT doc_id,
      |    [CAST(concat('0x', substr(h, 1 + 2 * (i - 1) * stride, 2)) AS INT)
      |     for i in range(1, least(64, nb) + 1)] AS samples
      |  FROM (SELECT doc_id, hex(encode(text)) AS h,
      |               octet_length(encode(text)) AS nb,
      |               greatest(1, octet_length(encode(text)) // 64) AS stride
      |        FROM documents) t0) t
      |ORDER BY doc_id""".stripMargin

  /** Batch collation (`multimodal_batch_tensor`) — the step after
    * [[multimodalResize]]: constant-size thumbnails are grouped into
    * rectangular training batches of 32 items × 64 samples, the shape a
    * data loader hands to the trainer. Emits one manifest row per batch:
    * fill count, pad count, a 32-bit slot bitmask (the attention/padding
    * mask as an exact integer — bit s set ⟺ slot s holds a real item),
    * and order-sensitive checksums that fail if any item lands in the
    * wrong slot.
    *
    * Batch assignment is `doc_id div 32` — dense ids (pinned by
    * TestdataContractSpec) make the slot a pure projection, so the plan
    * is codec → ONE bounded hash agg, no global row_number window (the
    * naive rank-then-chunk collate serializes the corpus through a
    * single partition — the same trap `curation_shard_manifest` avoids).
    * Sparse ids would first mint dense ones via zipWithIndex-style
    * per-partition offsets; the agg is unchanged. */
  def multimodalBatchTensor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", $"text".cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val n = bytes.length
          val stride = math.max(1, n / 64)
          val k = math.min(64, n)
          var i = 0
          var sum = 0L
          var weighted = 0L
          while (i < k) {
            val s = bytes(i * stride) & 0xff
            sum += s
            weighted += s.toLong * (i + 1)
            i += 1
          }
          (id, sum, weighted)
        }
      }
      .toDF("doc_id", "thumb_sum", "thumb_weighted")
      .select(expr("doc_id div 32").as("batch_id"),
        ($"doc_id" % 32).as("slot"), $"thumb_sum", $"thumb_weighted")
      .groupBy($"batch_id")
      .agg(count(lit(1)).as("n_items"),
        (lit(32) - count(lit(1))).as("n_pad"),
        sum(expr("shiftleft(1L, cast(slot as int))")).as("slot_mask"),
        sum($"thumb_sum").as("byte_mass"),
        sum(($"slot" + 1) * $"thumb_weighted").as("collate_checksum"))
      .orderBy($"batch_id")
  }

  val multimodalBatchTensorSql: String =
    """WITH thumbs AS (
      |  SELECT doc_id,
      |    CAST(coalesce(list_sum(samples), 0) AS BIGINT) AS thumb_sum,
      |    CAST(coalesce(list_sum(
      |      [samples[i] * i for i in range(1, len(samples) + 1)]), 0) AS BIGINT)
      |      AS thumb_weighted
      |  FROM (
      |    SELECT doc_id,
      |      [CAST(concat('0x', substr(h, 1 + 2 * (i - 1) * stride, 2)) AS INT)
      |       for i in range(1, least(64, nb) + 1)] AS samples
      |    FROM (SELECT doc_id, hex(encode(text)) AS h,
      |                 octet_length(encode(text)) AS nb,
      |                 greatest(1, octet_length(encode(text)) // 64) AS stride
      |          FROM documents) t0) t1)
      |SELECT CAST(doc_id // 32 AS BIGINT) AS batch_id,
      |  count(*) AS n_items,
      |  32 - count(*) AS n_pad,
      |  CAST(sum(CAST(1 AS BIGINT) << CAST(doc_id % 32 AS INT)) AS BIGINT)
      |    AS slot_mask,
      |  CAST(sum(thumb_sum) AS BIGINT) AS byte_mass,
      |  CAST(sum((doc_id % 32 + 1) * thumb_weighted) AS BIGINT)
      |    AS collate_checksum
      |FROM thumbs
      |GROUP BY 1
      |ORDER BY batch_id""".stripMargin

  /** Training-example assembly (`multimodal_example_build`) — the fusion
    * step a multimodal dataloader runs last: one record per document
    * joining all three modalities — text statistics, the quantized
    * embedding's exact norm, and the payload thumbnail's order-sensitive
    * checksum — stamped with a deterministic example hash (the
    * content-addressed id a training cache keys on).
    *
    * Plan shape: text stats and the payload codec run in the SAME
    * `mapPartitions` pass (ONE documents scan covers two modalities);
    * the embedding side reuses the memoized fixed-point stage and joins
    * 1:1 on id — at 100 TB that join is the one shuffle, co-located for
    * free when both tables are bucketed by id (`sink_bucketed_join` is
    * the demonstration). The example hash concatenates exact integers
    * only, so it is bit-stable across engines. */
  def multimodalExampleBuild(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docSide = Tables.documents(spark, dir)
      .select($"doc_id", $"text")
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val bytes = text.getBytes("UTF-8")
          val n = bytes.length
          val stride = math.max(1, n / 64)
          val k = math.min(64, n)
          var i = 0
          var weighted = 0L
          while (i < k) {
            weighted += (bytes(i * stride) & 0xff).toLong * (i + 1)
            i += 1
          }
          val nTok = text.split(" ").count(_.nonEmpty).toLong
          (id, nTok, text.length.toLong, weighted)
        }
      }
      .toDF("doc_id", "n_tok", "n_chars", "thumb_weighted")
    val emb = graft.operators.SimilarityOps.quantized(spark, dir)
      .select($"vec_id".as("doc_id"), $"n2".cast("bigint").as("emb_norm2"))
    docSide.join(emb, "doc_id")
      .select($"doc_id", $"n_tok", $"n_chars", $"emb_norm2", $"thumb_weighted",
        md5(concat_ws("|", $"doc_id", $"n_tok", $"n_chars", $"emb_norm2",
          $"thumb_weighted")).as("example_hash"))
      .orderBy($"doc_id")
  }

  val multimodalExampleBuildSql: String =
    s"""WITH ${graft.operators.SimilarityOps.quantizedCteForOracle},
       |thumbs AS (
       |  SELECT doc_id,
       |    CAST(coalesce(list_sum(
       |      [samples[i] * i for i in range(1, len(samples) + 1)]), 0) AS BIGINT)
       |      AS thumb_weighted
       |  FROM (
       |    SELECT doc_id,
       |      [CAST(concat('0x', substr(h, 1 + 2 * (i - 1) * stride, 2)) AS INT)
       |       for i in range(1, least(64, nb) + 1)] AS samples
       |    FROM (SELECT doc_id, hex(encode(text)) AS h,
       |                 octet_length(encode(text)) AS nb,
       |                 greatest(1, octet_length(encode(text)) // 64) AS stride
       |          FROM documents) t0) t1),
       |toks AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
       |      AS n_tok,
       |    CAST(length(text) AS BIGINT) AS n_chars
       |  FROM documents)
       |SELECT t.doc_id, t.n_tok, t.n_chars,
       |  CAST(n.n2 AS BIGINT) AS emb_norm2, th.thumb_weighted,
       |  md5(concat_ws('|', t.doc_id, t.n_tok, t.n_chars, CAST(n.n2 AS BIGINT),
       |      th.thumb_weighted)) AS example_hash
       |FROM toks t
       |JOIN n ON n.vec_id = t.doc_id
       |JOIN thumbs th ON th.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** Raw-media ingest through Spark's `binaryFile` source: stage a
    * sample of document payloads as standalone `<doc_id>.bin` files
    * (executor-side imperative IO — the write path a media pipeline's
    * upstream produces), then read them back as (path, length, content)
    * rows and extract id + size + checksum without ever interpreting the
    * bytes.
    *
    * This is the ingest shape for images/audio at 100 TB: one task per
    * file group, no schema inference, the binary column prunable for
    * metadata-only queries. Here executors write to the shared local
    * tmpfs; on a cluster the staging dir is object storage and the code
    * is unchanged. The `% 37` sample bounds file count — binaryFile is
    * for payloads measured in MB/file, not a row format. */
  def sourceBinaryfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = TempDirs.create("graft_binfiles").toString
    Tables.documents(spark, dir)
      .filter($"doc_id" % 37 === 0)
      .select($"doc_id", $"text".cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .foreachPartition { (it: Iterator[(Long, Array[Byte])]) =>
        it.foreach { case (id, bytes) =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(out, s"$id.bin"), bytes)
        }
      }
    spark.read.format("binaryFile").load(out + "/*.bin")
      .select(
        regexp_extract($"path", "([0-9]+)\\.bin$", 1).cast("long").as("doc_id"),
        $"length".as("n_bytes"),
        md5($"content").as("checksum"))
      .orderBy($"doc_id")
  }

  /** Oracle recomputes size + md5 from the source text the files were
    * staged from (both engines hash the same UTF-8 bytes). */
  val sourceBinaryfileSql: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS checksum
      |FROM documents
      |WHERE doc_id % 37 = 0
      |ORDER BY doc_id""".stripMargin

  /** Perceptual-hash near-dup pairs over media payloads
    * (`multimodal_phash_dedup`) — the pHash/PDQ image-dedup shape with
    * the codec stubbed: a real pipeline decodes pixels and thresholds
    * DCT coefficients against their median; here the "signal" is 256
    * evenly-spaced payload samples thresholded against their own mean
    * (deterministic, codec-free), packed into a 256-bit hash held as
    * eight 32-bit BIGINT quarters (32-bit packing keeps every value
    * positive — no sign-extension asymmetry between engines). Candidate
    * generation is banded exactly like SimHash: 8 bands of 32 bits —
    * one band per quarter, so the band key IS the quarter value — and
    * two hashes within Hamming distance [[PhashMaxHamming]] = 7 differ
    * in ≤ 7 bands, so some band matches exactly and the pair survives
    * the equi-join (pigeonhole guarantee, zero false negatives at the
    * threshold).
    *
    * WHY 256 bits (r16; 128 r11–r15, 64 at r10): multi-index hashing
    * (Norouzi et al. 2012) needs each band to carry ≥ log2(n) bits or
    * band buckets saturate and candidate generation degenerates to
    * all-pairs-within-bucket — and the Hamming ≤ 7 pigeonhole pins the
    * band COUNT at ≥ 8, so capacity can only come from hash width. The
    * r10 8×8-bit form measured QUADRATIC at the 10× probe (4.7 →
    * 237 s, ≈ n²·8/2⁸ candidates); the r11 8×16-bit form hit the same
    * wall at its predicted ~65k-distinct-hash crossover — the r15
    * isolated triangle (`BENCH_r15_iso_phash.json`) read 2.5 → 11.6 →
    * 131.5 CPU-s on 10×/30×/100× (×11.3 on ×3.33 data, ~500k distinct
    * hashes at the top rung). 8×32-bit bands move the crossover past
    * ~10⁹ distinct payloads (PDQ ships 256-bit for exactly this
    * reason) at the price of one extra kernel pass width — the hash is
    * still one codegen call per row.
    *
    * The synthetic corpus has no binary near-dups (500 distinct texts),
    * so the query PLANTS them — the [[TextOps.textPiiScrub]] planted-
    * marker pattern: documents with doc_id ≡ 41 (mod 83) carry their
    * predecessor's payload with the first byte flipped (a re-encode /
    * one-pixel-edit stand-in, built from the same expression on both
    * engines), keeping the hamming join exercised on pairs that differ
    * by a few bits while the remaining corpus proves the
    * no-false-positive side.
    *
    * Scale shape: hashing is ONE codegen'd kernel call per row — the
    * custom [[graft.functions.Phash256]] expression (the built-in HOF
    * tower it replaces ran interpreted at ~1 ms/doc and was the sf1
    * scale probe's #1 line at 53.6 s; no shuffle either way; the
    * planting join is a doc_id equi-join a real pipeline wouldn't
    * have). Candidate generation is canonicalize-then-band: the
    * (band, band_val) self-join runs on DISTINCT hashes, so its cost
    * tracks distinct content, and the duplicate mass reappears only in
    * output-sized expansion joins (see the in-body comment for the
    * measured doc-level-banding blowup this replaced). The exact
    * Hamming check runs only on band-collision survivors. All
    * arithmetic is exact integer (sampling positions, mean compare via
    * `128·c > Σc`, shifts, bit_count), so both engines derive identical
    * hashes. */
  private val PhashMaxHamming = 7

  private val qn = 0 to 7

  /** Per-document 256-bit hash as eight 32-bit quarter columns
    * `(doc_id, q0..q7)` — the shared front half of the pair/cluster
    * twins, memoized per (session, dir) and registered as its own bench
    * stage (`phash_members`). See [[multimodalPhashDedup]] for the
    * planted-marker and kernel rationale. Why a memoized stage (r16):
    * the cluster twin consumes members from FIVE plan branches (distinct
    * hashes, both rep joins, the label join, and reps itself) and the
    * pair twin from three — un-memoized, each branch re-ran the
    * scan + kernel + 8-column exchange (~30 CPU-s each at the 100×
    * rung), which the cluster twin's first triangle measured as a
    * phantom ×5.6 top step on a query whose real work is linear. Same
    * genus as [[DedupOps.shingleIndex]]. */
  private[graft] def phashMembers(spark: SparkSession, dir: String): DataFrame =
    Stages.memo(spark, s"phashmem:$dir") {
      phashMembersUncached(spark, dir).persist()
    }

  private def phashMembersUncached(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val pred = docs.select(($"doc_id" + 1).as("doc_id"), $"text".as("pred_text"))
    val payloads = docs.join(pred, Seq("doc_id"), "left")
      .select($"doc_id",
        when($"doc_id" % 83 === 41 && $"pred_text".isNotNull,
          concat(when(substring($"pred_text", 1, 1) === "a", "b").otherwise("a"),
            expr("substring(pred_text, 2)")))
          .otherwise($"text").as("payload"))
    graft.functions.Phash256.register(spark)
    payloads
      // one codegen'd kernel call per row replaces the interpreted
      // 256-substring + fold tower ([[graft.functions.Phash256]]): the
      // 128-bit tower already measured ~1 ms/doc and was the sf1 scale
      // probe's #1 line (53.6 s at 50k docs). coalesce(…, 0L) is NOT
      // null-handling — it marks the quarters non-nullable so the
      // joins' inferred `isnotnull(q0)` constraints constant-fold away
      // instead of being pushed below every projection (with the r10
      // interpreted tower, that pushdown re-expanded the whole hash
      // into the filter — measured 130+ s).
      .select($"doc_id", expr("graft_phash256(payload)").as("h"))
      .select($"doc_id" +: qn.map { q =>
        coalesce(element_at($"h", q + 1), lit(0L)).as(s"q$q")
      }: _*)
      // hash-partition by CONTENT hash: the distinct below, the intra
      // self-join, and both expansion joins all key on (q0..q7), so one
      // exchange serves every downstream stage (and it doubles as the
      // cost barrier that materializes the kernel output once per doc)
      .repartition(qn.map(q => col(s"q$q")): _*)
  }

  /** Near-dup pairs of DISTINCT hashes at Hamming ≤ [[PhashMaxHamming]]
    * `(a0..a7, b0..b7, hamming)`, canonicalized a < b — the shared band
    * join of the pair/cluster twins. */
  private def phashHashPairs(members: DataFrame): DataFrame = {
    import members.sparkSession.implicits._
    // Canonicalize-then-band: banding runs on DISTINCT hashes, not docs.
    // With the kernel in place the probe showed candidate generation was
    // the new #1 cost — the scaled corpus is dup-dense (each doc ~9 true
    // dups at sf1), so doc-level banding emitted every true pair from
    // all 8 bands: 15.3M candidate rows, 11.9 s of the 15.8 s total. At
    // content level the band join touches one row per distinct payload
    // (5k at sf1 vs 50k docs) and the dup mass reappears only in the
    // output-sized expansion joins below — the property that matters at
    // 100 TB, where duplicate clusters are huge but distinct content
    // grows far slower than the corpus.
    val hashes = members.select(qn.map(q => col(s"q$q")): _*).distinct()
    // one band per 32-bit quarter: the band key IS the quarter value
    val bands = hashes.select(qn.map(q => col(s"q$q")) :+
      posexplode(array(qn.map(q => col(s"q$q")): _*)).as(Seq("band", "band_val")): _*)
    val a = bands.select(qn.map(q => col(s"q$q").as(s"a$q")) :+
      $"band" :+ $"band_val": _*)
    val b = bands.select(qn.map(q => col(s"q$q").as(s"b$q")) :+
      $"band" :+ $"band_val": _*)
    // near-dup pairs of DISTINCT hashes, canonicalized (a < b lexic.) so
    // each unordered hash pair survives once; distinct() collapses the
    // ≤8 band matches per pair and is bounded by the hash-pair count
    val hamming = qn.map(q => expr(s"bit_count(a$q ^ b$q)"))
      .reduce(_ + _).cast("bigint")
    a.join(b, Seq("band", "band_val"))
      .filter(struct(qn.map(q => col(s"a$q")): _*) <
        struct(qn.map(q => col(s"b$q")): _*))
      .select(qn.map(q => col(s"a$q")) ++ qn.map(q => col(s"b$q")) :+
        hamming.as("hamming"): _*)
      .filter($"hamming" <= PhashMaxHamming)
      .distinct()
  }

  def multimodalPhashDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val members = phashMembers(spark, dir)
    val hashPairs = phashHashPairs(members)
    val mA = members.select($"doc_id".as("m_a") +:
      qn.map(q => col(s"q$q").as(s"a$q")): _*)
    val mB = members.select($"doc_id".as("m_b") +:
      qn.map(q => col(s"q$q").as(s"b$q")): _*)
    // expansion is output-sized: every emitted row IS a result pair.
    // A doc has exactly one hash, so no doc pair can arise from two
    // different hash pairs (inter) or from inter AND intra — no final
    // distinct needed.
    val inter = hashPairs.join(mA, qn.map(q => s"a$q"))
      .join(mB, qn.map(q => s"b$q"))
      .select(least($"m_a", $"m_b").as("doc_a"),
        greatest($"m_a", $"m_b").as("doc_b"), $"hamming")
    val intra = mA.join(mB,
      qn.map(q => col(s"a$q") === col(s"b$q")).reduce(_ && _) &&
        $"m_a" < $"m_b")
      .select($"m_a".as("doc_a"), $"m_b".as("doc_b"), lit(0L).as("hamming"))
    inter.unionByName(intra).orderBy($"doc_a", $"doc_b")
  }

  /** Shared oracle CTE chain producing `hashes(doc_id, qs)` — the same
    * planted payloads, 256 sampled codepoints, mean-threshold bits, and
    * eight 32-bit quarters [[phashMembers]] derives. NOTE: no line may
    * begin with '|' — consumers stripMargin the embedding template. */
  private val phashCtes: String =
    """aug AS (
      |  SELECT d.doc_id,
      |    CASE WHEN d.doc_id % 83 = 41 AND p.text IS NOT NULL
      |         THEN (CASE WHEN substr(p.text, 1, 1) = 'a' THEN 'b' ELSE 'a' END) ||
      |              substr(p.text, 2)
      |         ELSE d.text END AS payload
      |  FROM documents d LEFT JOIN documents p ON p.doc_id = d.doc_id - 1),
      |codes AS (
      |  SELECT doc_id,
      |    list_transform(range(0, 256),
      |      i -> ascii(substr(payload, CAST(1 + (i * (len(payload) - 1)) // 255 AS INT), 1))) AS cs
      |  FROM aug),
      |bits AS (
      |  SELECT doc_id,
      |    list_transform(cs, c -> CASE WHEN 256 * c > list_sum(cs)
      |                                 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS bs
      |  FROM codes),
      |hashes AS (
      |  SELECT doc_id,
      |    list_transform(range(0, 8), qq ->
      |      CAST(list_sum(list_transform(range(0, 32),
      |        i -> bs[CAST(32 * qq + i + 1 AS INT)] * (CAST(1 AS BIGINT) << CAST(i AS INT)))) AS BIGINT)) AS qs
      |  FROM bits)""".stripMargin

  val multimodalPhashDedupSql: String =
    s"""WITH $phashCtes,
       |bands AS (
       |  SELECT doc_id, qs, CAST(b AS INT) AS band,
       |    qs[CAST(1 + b AS INT)] AS band_val
       |  FROM hashes, range(0, 8) t(b))
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(list_sum(list_transform(range(0, 8),
       |    q -> bit_count(xor(a.qs[CAST(q + 1 AS INT)], b.qs[CAST(q + 1 AS INT)])))) AS BIGINT)
       |    AS hamming
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
       |WHERE list_sum(list_transform(range(0, 8),
       |    q -> bit_count(xor(a.qs[CAST(q + 1 AS INT)], b.qs[CAST(q + 1 AS INT)]))))
       |      <= $PhashMaxHamming
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Perceptual-hash near-dup CLUSTERS (`multimodal_phash_clusters`) —
    * the linear-output production twin of [[multimodalPhashDedup]]:
    * every document labeled with its cluster id (the smallest doc_id
    * reachable through Hamming ≤ [[PhashMaxHamming]] hash links,
    * identical hashes included), ONE row per document.
    *
    * WHY a twin (r16): the pairs form is an ENUMERATION — on a corpus
    * whose duplicate clusters grow with scale its OUTPUT is inherently
    * quadratic in cluster size (the r16 decomposition measured the
    * scaled 100× rung at 50.8k distinct hashes but 19.7M result pairs,
    * with per-output-row CPU FLAT at ~4-6 µs: the engine is linear in
    * its output, the contract isn't). A 100 TB dedup pass doesn't want
    * the pair list — it wants keep/drop labels, exactly like
    * [[PipelineOps.dedupConnectedComponents]] over the MinHash graph.
    * Everything here is bounded by DISTINCT content, never by the
    * duplicate mass: the CC fixpoint runs on hash-representative nodes
    * (one per distinct hash) over the banded near-dup edges, and the
    * only corpus-sized steps are the hash projection and the final
    * one-row-per-doc label join.
    *
    * Cluster id = min doc_id in the cluster: each distinct hash is
    * represented by its smallest member doc_id, and the smallest
    * reachable representative IS the smallest member overall (every
    * doc's id ≥ its hash's representative). Singleton hashes label
    * themselves via the left join's coalesce. */
  def multimodalPhashClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val members = phashMembers(spark, dir)
    // one representative doc per DISTINCT hash — CC nodes are content-
    // bounded; doc-level edges would re-inflate with the duplicate mass
    val reps = members.groupBy(qn.map(q => col(s"q$q")): _*)
      .agg(min($"doc_id").as("rep"))
    val repA = reps.select($"rep".as("doc_a") +:
      qn.map(q => col(s"q$q").as(s"a$q")): _*)
    val repB = reps.select($"rep".as("doc_b") +:
      qn.map(q => col(s"q$q").as(s"b$q")): _*)
    val edges = phashHashPairs(members)
      .join(repA, qn.map(q => s"a$q"))
      .join(repB, qn.map(q => s"b$q"))
      .select($"doc_a", $"doc_b")
    val labels = PipelineOps.connectedComponentLabels(spark, edges)
      .select($"doc_id".as("rep"), $"comp_id")
    members
      .join(reps, qn.map(q => s"q$q"))
      .join(labels, Seq("rep"), "left")
      .select($"doc_id", coalesce($"comp_id", $"rep").as("cluster_id"))
      .orderBy($"doc_id")
  }

  val multimodalPhashClustersSql: String =
    s"""WITH RECURSIVE $phashCtes,
       |reps AS (
       |  SELECT qs, min(doc_id) AS rep FROM hashes GROUP BY qs),
       |rbands AS (
       |  SELECT rep, qs, CAST(b AS INT) AS band, qs[CAST(1 + b AS INT)] AS band_val
       |  FROM reps, range(0, 8) t(b)),
       |edges0 AS (
       |  SELECT DISTINCT a.rep AS a, b.rep AS b
       |  FROM rbands a JOIN rbands b
       |    ON a.band = b.band AND a.band_val = b.band_val AND a.rep < b.rep
       |  WHERE list_sum(list_transform(range(0, 8),
       |      q -> bit_count(xor(a.qs[CAST(q + 1 AS INT)], b.qs[CAST(q + 1 AS INT)]))))
       |        <= $PhashMaxHamming),
       |edges AS (
       |  SELECT a, b FROM edges0
       |  UNION ALL
       |  SELECT b, a FROM edges0),
       |reach AS (
       |  SELECT a AS node, a AS r FROM edges
       |  UNION
       |  SELECT e.b AS node, reach.r AS r
       |  FROM reach JOIN edges e ON e.a = reach.node),
       |cc AS (
       |  SELECT node AS rep, min(r) AS comp_id
       |  FROM reach GROUP BY node)
       |SELECT h.doc_id, coalesce(cc.comp_id, rp.rep) AS cluster_id
       |FROM hashes h
       |JOIN reps rp ON rp.qs = h.qs
       |LEFT JOIN cc ON cc.rep = rp.rep
       |ORDER BY doc_id""".stripMargin
}
