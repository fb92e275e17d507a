package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Edge-case unit coverage for the custom Catalyst kernels, pinned
  * against the built-in expression towers they replaced — the operator
  * specs exercise them only through their consuming queries on ASCII
  * testdata, so multibyte inputs, empty strings, and buffer boundaries
  * are asserted here directly. */
class FunctionsSpec extends SparkTestBase {

  test("graft_phash256 equals the built-in HOF tower, incl. multibyte and edge lengths") {
    import spark.implicits._
    val texts = Seq(
      "", "a", "ab", "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",
      "héllo wörld ünïcode ÿ", // 2-byte UTF-8 sequences
      "日本語テキストのサンプル文字列です",  // 3-byte sequences
      ("mixed ascii and 中文 text " * 20).trim)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "payload")
    val both = df.select($"id",
      expr("graft_phash256(payload)").as("kernel"),
      expr("""transform(sequence(0, 7), qq -> aggregate(zip_with(
          slice(transform(transform(sequence(0, 255),
              i -> ascii(substring(payload, 1 + cast((i * (length(payload) - 1)) div 255 as int), 1))),
            c -> if(256 * c > aggregate(transform(sequence(0, 255),
              i -> ascii(substring(payload, 1 + cast((i * (length(payload) - 1)) div 255 as int), 1))),
              0L, (a, x) -> a + x), 1L, 0L)), 1 + 32 * qq, 32),
          sequence(0, 31), (b, i) -> b * shiftleft(1L, i)), 0L, (a, x) -> a + x))""")
        .as("tower"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"hash mismatch for id=${r.getLong(0)}")
    }
  }

  test("graft_char_counts equals the explode+sort_array tower, incl. multibyte") {
    import spark.implicits._
    val texts = Seq("a", "abca", "z y x z", "héllo ÿ héllo", "日本語の日本")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val kernel = df.select($"id", expr("graft_char_counts(text)").as("xs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Row](1).map(x =>
        (x.getString(0), x.getLong(1)))).toMap
    val tower = df
      .select($"id", explode(expr(
        "transform(sequence(1, length(text)), i -> substring(text, i, 1))")).as("ch"))
      .groupBy($"id", $"ch").agg(count(lit(1)).as("c"))
      .groupBy($"id")
      .agg(sort_array(collect_list(struct($"ch", $"c"))).as("xs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Row](1).map(x =>
        (x.getString(0), x.getLong(1)))).toMap
    assert(kernel == tower)
    // empty text: no characters, no rows on either engine's formulation
    val empty = Seq((0L, "")).toDF("id", "text")
      .select(expr("graft_char_counts(text)").as("xs")).head()
    assert(empty.getSeq[Row](0).isEmpty)
  }

  test("graft_topk buffer: boundary insertions keep the total order") {
    import spark.implicits._
    // ties on sort_val resolve ascending on tie_val; k larger than the
    // group exercises the partial-buffer path, k=1 the full-eviction path
    val rows = Seq((1L, 10L), (1L, 7L), (3L, 5L), (3L, 2L), (2L, 9L))
      .toDF("s", "t")
    val got3 = rows.agg(expr("graft_topk(s, t, 3)")).head().getSeq[Row](0)
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got3 == Seq((3L, 2L), (3L, 5L), (2L, 9L)))
    val got1 = rows.agg(expr("graft_topk(s, t, 1)")).head().getSeq[Row](0)
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got1 == Seq((3L, 2L)))
    val got10 = rows.agg(expr("graft_topk(s, t, 10)")).head().getSeq[Row](0)
    assert(got10.length == 5)
  }

  test("graft_gram_hashes equals the transform/slice/md5 tower, incl. short inputs") {
    import spark.implicits._
    val texts = Seq("a b c d e f g h i j", "one two three", "onlyone", "",
      "a  b c", // double space -> empty token, concat_ws keeps it
      "héllo wörld mixed 中文 tokens here okay")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .select($"id", split(lower($"text"), " ").as("ws"))
    Seq(1, 3, 10).foreach { k =>
      val rows = df.select($"id",
        expr(s"graft_gram_hashes(ws, $k)").as("kernel"),
        expr(s"""CASE WHEN size(ws) >= $k THEN transform(sequence(0, size(ws) - $k),
                 i -> unhex(md5(concat_ws(' ', slice(ws, i + 1, $k)))))
                 ELSE array() END""").as("tower")).collect()
      rows.foreach { r =>
        val a = r.getSeq[Array[Byte]](1).map(_.toSeq)
        val b = r.getSeq[Array[Byte]](2).map(_.toSeq)
        assert(a == b, s"k=$k mismatch for id=${r.getLong(0)}")
      }
    }
  }

  test("randomized parity: kernels == towers on 150 generated strings") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // mixed alphabet: ascii words, unicode (2- and 3-byte UTF-8), runs of
    // spaces (empty tokens), and boundary lengths — sampled with a FIXED
    // seed so the suite never flaps
    val token = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)),
      Gen.oneOf("héllo", "ÿ", "日本", "語", "中文mix", ""),
      Gen.const(" ")) // doubles a separator -> empty tokens
    val text = Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, token).map(_.mkString(" ")))
    val rows = Iterator.iterate(Seed(7L))(_.next)
      .flatMap(s => text.apply(Gen.Parameters.default, s))
      .take(150).toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = rows.toDF("id", "text").select($"id", $"text",
      split(lower($"text"), " ").as("ws"))
    val checked = df.select($"id",
      expr("graft_phash256(text)").as("ph_k"),
      expr("""transform(sequence(0, 7), qq -> aggregate(zip_with(
          slice(transform(transform(sequence(0, 255),
              i -> ascii(substring(text, 1 + cast((i * (length(text) - 1)) div 255 as int), 1))),
            c -> if(256 * c > aggregate(transform(sequence(0, 255),
              i -> ascii(substring(text, 1 + cast((i * (length(text) - 1)) div 255 as int), 1))),
              0L, (a, x) -> a + x), 1L, 0L)), 1 + 32 * qq, 32),
          sequence(0, 31), (b, i) -> b * shiftleft(1L, i)), 0L, (a, x) -> a + x))""")
        .as("ph_t"),
      expr("graft_gram_hashes(ws, 3)").as("gr_k"),
      expr("""CASE WHEN size(ws) >= 3 THEN transform(sequence(0, size(ws) - 3),
              i -> unhex(md5(concat_ws(' ', slice(ws, i + 1, 3)))))
              ELSE array() END""").as("gr_t")).collect()
    checked.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"phash id=${r.getLong(0)}")
      assert(r.getSeq[Array[Byte]](3).map(_.toSeq) == r.getSeq[Array[Byte]](4).map(_.toSeq),
        s"gram id=${r.getLong(0)}")
    }
    // char-count parity on the same corpus (empty texts excluded: the
    // explode formulation drops them, the kernel returns an empty array)
    val ck = df.filter(length($"text") > 0)
      .select($"id", expr("graft_char_counts(text)").as("xs")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Row](1).map(x => (x.getString(0), x.getLong(1)))).toMap
    val ct = df.filter(length($"text") > 0)
      .select($"id", explode(expr(
        "transform(sequence(1, length(text)), i -> substring(text, i, 1))")).as("ch"))
      .groupBy($"id", $"ch").agg(count(lit(1)).as("c"))
      .groupBy($"id").agg(sort_array(collect_list(struct($"ch", $"c"))).as("xs")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Row](1).map(x => (x.getString(0), x.getLong(1)))).toMap
    assert(ck == ct)
  }

  test("graft_normalize_text equals the lower+regex tower, incl. unicode and space edges") {
    import spark.implicits._
    val texts = Seq(
      "", " ", "   ", "a", "A", "  Hello,   World!  ",
      "tabs\tand\nnewlines stay stripped",
      "digits 007 and UPPER MiXeD",
      "punct!@#$%^&*()_+-=[]{};':\",./<>?",
      "héllo wörld ünïcode ÿ",          // 2-byte chars: stripped
      "İstanbul İ dotted",          // U+0130 lowercases to i + U+0307
      "日本語 mixed ascii 漢字 text",
      "a  b   c    d", " leading", "trailing ", "a!b", "a !b", "a! b",
      ("x y " * 200).trim)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val rows = df.select($"id",
      expr("graft_normalize_text(text)").as("k"),
      trim(regexp_replace(
        regexp_replace(lower($"text"), "[^a-z0-9 ]", ""), " +", " ")).as("t"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"id=${r.getLong(0)}: kernel '${r.getString(1)}' vs tower '${r.getString(2)}'")
    }
  }

  test("graft_srp_keys equals the per-bit graft_dot column tower it replaced") {
    import spark.implicits._
    // deterministic fixed-point vectors spanning signs and magnitudes,
    // incl. a short (truncated-dims) vector and an all-zero vector
    // (dot = 0 -> bit 0 on every projection, the > 0 boundary)
    val vecs: Seq[Seq[Long]] = (0 until 40).map { i =>
      (0 until 64).map { j =>
        ((i * 31 + j * 17) % 2001) - 1000L
      }
    } :+ Seq.fill(64)(0L) :+ (0 until 17).map(j => j - 8L)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "q")
    for (bits <- Seq(3, 8, 11)) {
      // the pre-r15 formulation, verbatim: one graft_dot per (table, bit)
      // against the literal projection array, '1'/'0' string concat
      def bit(i: Int): org.apache.spark.sql.Column = {
        val arr = graft.functions.SrpBucketKeys.projection(i)
          .mkString("array(", "L, ", "L)")
        when(expr(s"graft_dot(q, $arr)") > 0, lit("1")).otherwise(lit("0"))
      }
      val towerCols = (0 until 8).map { t =>
        concat((0 until bits).map(b => bit(t * bits + b)): _*).as(s"t$t")
      }
      val rows = df.select(
        ($"id" +: expr(s"graft_srp_keys(q, 8, $bits)").as("keys") +: towerCols): _*)
        .collect()
      rows.foreach { r =>
        val keys = r.getSeq[Long](1)
        (0 until 8).foreach { t =>
          // tower string: char b is bit b; kernel: bit b of the long key
          val expected = r.getString(2 + t).zipWithIndex.map {
            case ('1', b) => 1L << b
            case _ => 0L
          }.sum
          assert(keys(t) == expected,
            s"id=${r.getLong(0)} bits=$bits table=$t: " +
              s"kernel=${keys(t)} tower=${r.getString(2 + t)}")
        }
      }
    }
  }

  test("graft_winnow_positions equals the array_distinct tower on random hash arrays") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // small value alphabet FORCES ties inside windows, exercising the
    // rightmost-tie rule and the non-decreasing-selection dedup argument;
    // lengths straddle the n < w empty case. Fixed seed — never flaps.
    val arr = for {
      n <- Gen.choose(0, 60)
      vs <- Gen.listOfN(n, Gen.oneOf(Gen.choose(0L, 6L), Gen.choose(0L, 1L << 59)))
    } yield vs
    val rows = Iterator.iterate(Seed(21L))(_.next)
      .flatMap(s => arr.apply(Gen.Parameters.default, s))
      .take(200).toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val checked = rows.toDF("id", "hs").select($"id",
      expr("graft_winnow_positions(hs, 5)").as("k"),
      expr(
        """CASE WHEN size(hs) >= 5 THEN
          |  array_distinct(transform(sequence(1, size(hs) - 4),
          |    j -> array_max(filter(sequence(j, j + 4),
          |           p -> element_at(hs, p) = array_min(slice(hs, j, 5))))))
          |ELSE array() END""".stripMargin).as("t")).collect()
    checked.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2).map(identity),
        s"winnow id=${r.getLong(0)}: kernel ${r.getSeq[Int](1)} vs tower ${r.getSeq[Int](2)}")
    }
  }

  test("graft_moments equals the explode+sum tower on a small matrix") {
    import spark.implicits._
    val vecs = Seq(
      Array(1L, 2L, 3L), Array(-4L, 5L, 6L), Array(7L, -8L, 9L))
    val df = vecs.toDF("q")
    val m = df.agg(expr("graft_moments(q, 3)").as("m")).select(
      $"m.n", $"m.s", $"m.p").head()
    assert(m.getLong(0) == 3L)
    assert(m.getSeq[Long](1) == Seq(4L, -1L, 18L)) // per-dim sums
    // upper triangle row-major: (0,0)(0,1)(0,2)(1,1)(1,2)(2,2)
    val p = m.getSeq[Long](2)
    assert(p == Seq(
      1 + 16 + 49, 2 - 20 - 56, 3 - 24 + 63,
      4 + 25 + 64, 6 + 30 - 72, 9 + 36 + 81).map(_.toLong))
  }

  test("graft_moments rejects irregular vectors instead of silently truncating") {
    import spark.implicits._
    // wrong-length row: the documented bit-parity with the explode+sum
    // tower only holds for fixed-width vectors, so a short row must fail
    // loudly, not contribute a truncated partial product
    val short = Seq(Array(1L, 2L, 3L), Array(4L, 5L)).toDF("q")
    val e1 = intercept[Exception] {
      short.agg(expr("graft_moments(q, 3)")).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e1).exists(_.contains("graft_moments")))
    // null element: getLong on a null slot is undefined, must fail loudly
    val withNull = Seq(Seq[java.lang.Long](1L, null, 3L)).toDF("q")
    val e2 = intercept[Exception] {
      withNull.agg(expr("graft_moments(q, 3)")).collect()
    }
    assert(chain(e2).exists(_.contains("graft_moments")))
  }

  test("literal-k registry builders reject a foldable null with a usable error") {
    import spark.implicits._
    val doc = Seq((1L, Array("a", "b", "c"))).toDF("id", "ws")
    val vec = Seq(Array(1L, 2L)).toDF("q")
    val pair = Seq((1L, 2L)).toDF("s", "t")
    for ((name, frame) <- Seq(
      ("graft_moments(q, cast(null as int))", vec),
      ("graft_gram_hashes(ws, cast(null as int))", doc),
      ("graft_topk(s, t, cast(null as int))", pair),
      ("graft_winnow_positions(q, cast(null as int))", vec),
      ("graft_srp_keys(q, 2, cast(null as int))", vec))) {
      val e = intercept[Exception] { frame.selectExpr(name).collect() }
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
          .map(x => Option(x.getMessage).getOrElse("")).toSeq
      assert(chain(e).exists(_.contains("non-null integer literal")),
        s"$name: expected the usable literal error, got ${chain(e)}")
    }
  }

  test("graft_gram_hashes60 equals the conv(substr(hex...)) tower over graft_gram_hashes") {
    import spark.implicits._
    val docs = Seq(
      Array("a", "b", "c", "d", "e", "fgh", "ijkl"),
      Array("x", "y", "z", "w"),                        // exactly k
      Array("x", "y", "z"),                             // below k → empty
      Array("münch", "漢字", "", "tail", "more")         // multibyte + empty token
    ).toDF("ts")
    val rows = docs.selectExpr(
      "graft_gram_hashes60(ts, 4) AS kernel",
      "transform(graft_gram_hashes(ts, 4), " +
        "g -> cast(conv(substr(hex(substring(g, 1, 8)), 1, 15), 16, 10) as bigint)) AS tower"
    ).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"kernel=${r.getSeq[Long](0)} tower=${r.getSeq[Long](1)}")
    }
    // 60-bit range: always non-negative, below 2^60
    rows.flatMap(_.getSeq[Long](0)).foreach(v =>
      assert(v >= 0L && v < (1L << 60), s"out of 60-bit range: $v"))
  }

  test("graft_icount_sorted equals size(array_intersect) on sorted sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def sortedSet(n: Int, bound: Long): Array[Long] =
      Iterator.continually(rnd.nextLong(bound)).take(n * 2)
        .toSeq.distinct.take(n).sorted.toArray
    val cases = Seq(
      (Array(1L, 2L, 3L), Array(2L, 3L, 4L)),            // overlap
      (Array(1L, 2L), Array(3L, 4L)),                    // disjoint
      (Array.empty[Long], Array(1L)),                    // empty side
      (Array(5L), Array(5L))                             // identical
    ) ++ (1 to 40).map(i => (sortedSet(i * 3 % 50 + 1, 40), sortedSet(i * 7 % 50 + 1, 40)))
    val rows = cases.toDF("x", "y").selectExpr(
      "graft_icount_sorted(x, y) AS kernel",
      "cast(size(array_intersect(x, y)) as bigint) AS builtin").collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"kernel=${r.getLong(0)} builtin=${r.getLong(1)}"))
    // null semantics mirror array_intersect
    val nr = Seq((Some(Array(1L)), Option.empty[Array[Long]]))
      .toDF("x", "y").selectExpr("graft_icount_sorted(x, y)").collect()
    assert(nr(0).isNullAt(0), "null input must yield null")
  }

  test("null ARRAY ELEMENTS fail loudly instead of decoding as 0") {
    // the kernels read slots with getLong, which would silently turn a
    // null element into 0 — a contract-violating producer must fail
    // with a named error, not corrupt counts/keys (r15 ADVICE)
    def mustFail(sql: String, fn: String): Unit = {
      val e = intercept[Exception] {
        spark.sql(s"SELECT $sql").collect()
      }
      def names(t: Throwable): Seq[String] =
        if (t == null) Nil else t.getMessage +: names(t.getCause)
      assert(names(e).exists(m => m != null && m.contains(fn)),
        s"expected a $fn-named error, got: ${e.getMessage}")
    }
    mustFail("graft_icount_sorted(array(CAST(NULL AS BIGINT), 1L), array(1L))",
      "graft_icount_sorted")
    mustFail("graft_srp_keys(array(1L, CAST(NULL AS BIGINT)), 2, 3)",
      "graft_srp_keys")
    // non-null inputs through the same nullable-array type still work
    val ok = spark.sql(
      "SELECT graft_icount_sorted(array(1L, 2L), array(2L, 3L))").head().getLong(0)
    assert(ok == 1L)
  }

  test("graft_l2sq equals the zip_with fold, incl. null-on-dimension-mismatch") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 6.0, 3.5)),   // plain
      (Array.empty[Double], Array.empty[Double]),     // empty
      (Array(1.0, 2.0), Array(1.0, 2.0, 3.0)),        // dim mismatch → null
      (Array(0.1, -0.2, 1e30), Array(0.1, -0.2, 1e30)) // exact zero
    ).toDF("x", "y")
    val rows = df.selectExpr(
      "graft_l2sq(x, y) AS kernel",
      // the fold the kernel replaced: zip_with pads the shorter side with
      // nulls, so a length mismatch is NULL — the kernel must agree
      "aggregate(zip_with(x, y, (a, b) -> (a - b) * (a - b)), " +
        "cast(0.0 as double), (acc, v) -> acc + v) AS fold").collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1),
        s"null disagreement: kernel=${r.get(0)} fold=${r.get(1)}")
      if (!r.isNullAt(0))
        assert(r.getDouble(0) == r.getDouble(1), // bit-identical, not approx
          s"kernel=${r.getDouble(0)} fold=${r.getDouble(1)}")
    }
    assert(rows(2).isNullAt(0), "dimension mismatch must yield null")
  }
}
