package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** Per-row cost of the custom kernels, each timed through its public
  * `compute` on rows of `documents` (text kernels) and `embeddings`
  * (`SrpBucketKeys`). Inputs are collected and prepared untimed; each
  * kernel then runs over all rows until at least `minNs` have passed, and
  * the best of three such rounds is kept. */
object Kernels {
  private val minNs = 20000000L

  private def time(rows: Int)(body: => Unit): Double = {
    def round(): Double = {
      var reps = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < minNs) { body; reps += 1 }
      (System.nanoTime() - t0).toDouble / (reps * rows)
    }
    body // warm the JIT before timing
    Seq.fill(3)(round()).min
  }

  def nsPerRow(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    val texts = spark.read.parquet(s"$dir/documents.parquet").select("text")
      .collect().map(r => UTF8String.fromString(r.getString(0)))
    val words: Array[ArrayData] = texts.map(t =>
      new GenericArrayData(t.toString.split(" ").map(w => UTF8String.fromString(w): Any)))
    val grams: Array[ArrayData] = words.map(w => GramHashes.compute60(w, 4))
    val sortedGrams: Array[ArrayData] = grams.map { g =>
      ArrayData.toArrayData(g.toLongArray().distinct.sorted)
    }
    val quantized: Array[ArrayData] = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("embedding").collect().map { r =>
        ArrayData.toArrayData(r.getSeq[Float](0).map(x => math.round(x * 1048576.0)).toArray)
      }
    var sink = 0L
    val n = texts.length
    val out = Seq(
      "GramHashes" -> time(n) { words.foreach(w => sink += GramHashes.compute(w, 5).numElements()) },
      "NormalizeText" -> time(n) { texts.foreach(t => sink += NormalizeText.compute(t).numBytes()) },
      "Phash256" -> time(n) { texts.foreach(t => sink += Phash256.compute(t).numElements()) },
      "CharCounts" -> time(n) { texts.foreach(t => sink += CharCounts.compute(t).numElements()) },
      "WinnowPositions" -> time(n) { grams.foreach(g => sink += WinnowPositions.compute(g, 4).numElements()) },
      "SortedIntersectCount" -> time(n) {
        var i = 1
        while (i < n) { sink += SortedIntersectCount.compute(sortedGrams(i - 1), sortedGrams(i)); i += 1 }
      },
      "SrpBucketKeys" -> time(quantized.length) {
        quantized.foreach(q => sink += SrpBucketKeys.compute(q, 8, 16).numElements())
      })
    require(sink != 42L) // keeps the kernel results observable
    out
  }
}
