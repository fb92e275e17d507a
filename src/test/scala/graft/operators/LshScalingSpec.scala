package graft.operators

import graft.SparkTestBase
import graft.functions.SrpBucketKeys

/** Unit pins for the occupancy-targeted LSH sizing law (the round-13 fix
  * for the fixed-3-bit scale trap: bucket size grew with the corpus, so
  * the probe join measured Θ(n²) at the 30× probe). The cross-engine
  * parity of the md5-derived projections and the dynamic-k oracle CTE is
  * covered by the DuckDB gate (`similarity_ann_lsh` hash-match at
  * sf0.01, where k = 6 ≠ the BaseBits floor); these tests pin the sizing
  * law itself and the projection determinism. */
class LshScalingSpec extends SparkTestBase {

  test("bitsForCount pins expected bucket occupancy to [64, 128)") {
    // boundary table: k = clamp(floor(log2 n) - 6, 3, 24)
    val expect = Seq(
      1L -> 3, 500L -> 3, 512L -> 3, 1023L -> 3,      // floor binds
      1024L -> 4, 5000L -> 6, 8191L -> 6, 8192L -> 7, // growth region
      50000L -> 9, 500000L -> 12, 5000000L -> 16,     // the probe SFs
      (1L << 30) -> 24, Long.MaxValue -> 24)          // ceiling binds
    expect.foreach { case (n, k) =>
      assert(SimilarityOps.bitsForCount(n) == k,
        s"bitsForCount($n) = ${SimilarityOps.bitsForCount(n)}, expected $k")
    }
    // the law itself: in the unclamped region every n sits in [64, 128)
    // expected vectors per bucket — candidates/query stays constant
    Seq(1024L, 5000L, 65536L, 1000000L, 123456789L).foreach { n =>
      val occ = n.toDouble / (1L << SimilarityOps.bitsForCount(n))
      assert(occ >= 64.0 && occ < 128.0,
        s"occupancy $occ for n=$n escapes the [64,128) design band")
    }
  }

  test("kForCount: trained-IVF cells follow the √n law, floor pins sf0.001") {
    // K(n) = clamp(ceil(sqrt(n/2)), 16, 256): the floor keeps the
    // committed goldens' exact K=16 model at the test SF; √n-sizing is
    // the textbook assignment-vs-probe balance; the 256 cap bounds the
    // n·K assignment expansion (past it the documented lever is a
    // hierarchical quantizer, not a bigger flat K)
    assert(SimilarityOps.kForCount(500L) == 16, "sf0.001 must keep K=16")
    assert(SimilarityOps.kForCount(1L) == 16)
    assert(SimilarityOps.kForCount(5000L) == 50)
    assert(SimilarityOps.kForCount(50000L) == 159)
    assert(SimilarityOps.kForCount(500000L) == 256)
    assert(SimilarityOps.kForCount(Long.MaxValue / 4) == 256)
    // scanned fraction nprobe·multi/K falls monotonically with n in the
    // growth region — the probe's cost share shrinks instead of staying
    // a constant half of the corpus
    val fracs = Seq(512L, 5000L, 50000L, 131072L)
      .map(n => 8.0 / SimilarityOps.kForCount(n))
    assert(fracs == fracs.sorted.reverse, s"scanned fraction not falling: $fracs")
  }

  test("sign projections are deterministic, ±1, and stable across calls") {
    val p0 = SrpBucketKeys.projection(0)
    assert(p0.length == SimilarityOps.Dims)
    assert(p0.forall(s => s == 1L || s == -1L))
    // repeatable (cache or not) and distinct across projection indices
    assert(SrpBucketKeys.projection(0).sameElements(p0))
    val distinctRows = (0 until 16).map(SrpBucketKeys.projection(_).toSeq).distinct
    assert(distinctRows.size == 16, "projection rows must differ")
    // pin the first row's prefix (parity of md5("0_j")'s first byte,
    // j = 0..7) so an accidental hash-rule change — the input string,
    // the parity convention — cannot slip through silently; the oracle
    // derives the SAME rule in DuckDB SQL, so a drift here is a
    // cross-engine hash mismatch waiting to happen
    assert(p0.take(8).toSeq == Seq(-1L, 1L, 1L, 1L, -1L, 1L, -1L, -1L),
      s"projection(0) prefix drifted: ${p0.take(8).toSeq}")
  }
}
