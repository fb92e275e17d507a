package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd 256-bit perceptual-hash stand-in over a string payload:
  * `graft_phash256(payload)` returns `array<bigint>` of eight 32-bit
  * quarters (q0..q7), bit-for-bit identical to the built-in tower
  *
  * {{{
  * codes = transform(sequence(0,255),
  *           i -> ascii(substring(payload, 1 + (i*(length-1)) div 255, 1)))
  * bits  = transform(codes, c -> if(256*c > aggregate(codes,0L,+), 1L, 0L))
  * q_k   = aggregate(zip_with(slice(bits, 1+32k, 32), sequence(0,31),
  *           (b,i) -> b * shiftleft(1L, i)), 0L, +)
  * }}}
  *
  * WHY 256 BITS (r16, was 128): the banded candidate join slices the
  * hash into 8 bands — the Hamming ≤ 7 pigeonhole needs ≥ 8 of them —
  * so every extra band bit must come from hash WIDTH. The r15 isolated
  * triangle (`git show 8074e4b:BENCH_r15_iso_phash.json`) measured the
  * 8×16-bit form's CPU at 2.5 → 11.6 → 131.5 s on 10×/30×/100× (×11.3
  * on the ×3.33 top step): 65k buckets per band saturate once distinct
  * hashes pass ~65k and candidates degenerate toward n²·8/2¹⁶. 8×32-bit
  * bands push the same multi-index-hashing crossover past ~10⁹ distinct
  * payloads — PDQ ships 256-bit for exactly this reason.
  *
  * Why a custom Catalyst expression (SURVEY.md §4.2 escape hatch, the
  * same jump [[FixedPointDotProduct]] made for the cosine path): the
  * tower above runs on the interpreted higher-order-function path —
  * 256 `substring`+`ascii` evaluations plus eight 32-element fold
  * closures per row (the 128-bit form already measured ~1 ms/doc as
  * the sf1 scale probe's #1 line at 53.6 s; the candidate join it
  * feeds is milliseconds). This expression walks the payload's UTF-8
  * bytes ONCE (the 256 sample positions are monotone, so the codepoint
  * walk never restarts), thresholds against the exact integer sample
  * sum, and packs the eight quarters in a tight primitive loop — no
  * per-element closures, no array materialization, still inside
  * whole-stage codegen.
  *
  * Exact replication notes: Spark's `length` counts codepoints,
  * `substring` slices by codepoint, and `ascii` returns the CODEPOINT
  * of its argument's first character — so the sample value here is the
  * decoded codepoint at the sampled position, matching the built-in
  * tower on every input (FunctionsSpec pins kernel == tower on ASCII,
  * 2-byte, and 3-byte UTF-8). Empty payloads yield all-zero quarters
  * on both paths (`ascii('') = 0`, `256·0 > 0` false).
  */
case class Phash256(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_phash256 expects string, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_phash256"

  override def nullSafeEval(payload: Any): Any =
    Phash256.compute(payload.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Phash256.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Phash256 =
    copy(child = newChild)
}

object Phash256 {
  /** Sample count == hash width in bits; 8 bands of 32 each. */
  val Bits = 256

  /** One-pass hash kernel — static so generated code calls it directly. */
  def compute(payload: UTF8String): ArrayData = {
    val bytes = payload.getBytes
    val nChars = payload.numChars()
    val codes = new Array[Int](Bits)
    var sum = 0L
    if (nChars > 0) {
      val span = (nChars - 1).toLong
      var cp = 0 // codepoint index of byte offset `off`
      var off = 0
      var i = 0
      while (i < Bits) {
        val p = ((i * span) / (Bits - 1)).toInt
        while (cp < p) {
          off += UTF8String.numBytesForFirstByte(bytes(off))
          cp += 1
        }
        // Spark's ascii() yields the CODEPOINT of the first character
        // (FunctionsSpec pins kernel == tower on multibyte inputs)
        val c = CharCounts.codePointAt(bytes, off,
          UTF8String.numBytesForFirstByte(bytes(off)))
        codes(i) = c
        sum += c
        i += 1
      }
    }
    val qs = new Array[Long](Bits / 32)
    var i = 0
    while (i < Bits) {
      if (Bits.toLong * codes(i) > sum) qs(i >>> 5) |= 1L << (i & 31)
      i += 1
    }
    new GenericArrayData(qs)
  }
}
