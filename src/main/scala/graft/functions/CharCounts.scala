package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd per-document character histogram:
  * `graft_char_counts(text)` returns `array<struct<ch: string, c: bigint>>`
  * sorted by `ch` — one entry per distinct codepoint, exactly the frame
  * `sort_array(collect_list(struct(ch, c)))` produced from the
  * char-explode + (doc_id, ch) count-aggregate formulation.
  *
  * Why a custom Catalyst expression (SURVEY §4.2, same tier as
  * [[Phash256]]): the composable form runs
  * `transform(sequence(1, length), i -> substring(text, i, 1))` on the
  * interpreted HOF path and fans every document into one row PER
  * CHARACTER before partial aggregation — ~100M generated rows at the
  * sf1 probe, 14.4 s, its #1 line once phash was fixed. This kernel
  * walks the UTF-8 bytes once, counts codepoints into a small sorted
  * table (state bounded by the document's alphabet), and emits the
  * sorted array directly — no explode, no (doc, ch) shuffle at all.
  *
  * Ordering note: entries are sorted by codepoint, which equals the
  * UTF8String binary order `sort_array` used, because UTF-8 byte order
  * preserves codepoint order. */
case class CharCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_char_counts expects string, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(new StructType()
    .add("ch", StringType, nullable = false)
    .add("c", LongType, nullable = false), containsNull = false)
  override def prettyName: String = "graft_char_counts"

  override def nullSafeEval(text: Any): Any =
    CharCounts.compute(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharCounts.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): CharCounts =
    copy(child = newChild)
}

object CharCounts {
  /** One-pass histogram kernel — static so generated code calls it. */
  def compute(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    // sorted codepoint -> count table; documents' alphabets are tiny, so
    // a TreeMap's log-alphabet inserts beat sorting afterwards and keep
    // the emit loop allocation-free beyond the result itself
    val counts = new java.util.TreeMap[Integer, Array[Long]]()
    var off = 0
    while (off < bytes.length) {
      val len = UTF8String.numBytesForFirstByte(bytes(off))
      val cp = codePointAt(bytes, off, len)
      val slot = counts.get(cp)
      if (slot == null) counts.put(cp, Array(1L)) else slot(0) += 1L
      off += len
    }
    val rows = new Array[Any](counts.size())
    var i = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      rows(i) = InternalRow(
        UTF8String.fromString(new String(Character.toChars(e.getKey))),
        e.getValue()(0))
      i += 1
    }
    new GenericArrayData(rows)
  }

  /** Decode the codepoint of the UTF-8 sequence at `off` (length `len`).
    * Shared with [[Phash256]], whose `ascii()` semantics are also the
    * codepoint of the sampled character. A sequence truncated by the end
    * of the buffer (malformed UTF-8) decodes from the bytes that exist —
    * garbage-in-garbage-out like the built-in path, but never a crash. */
  private[functions] def codePointAt(bytes: Array[Byte], off: Int, len0: Int): Int =
    math.min(len0, bytes.length - off) match {
      case 1 => bytes(off) & 0x7f
      case 2 => ((bytes(off) & 0x1f) << 6) | (bytes(off + 1) & 0x3f)
      case 3 => ((bytes(off) & 0x0f) << 12) | ((bytes(off + 1) & 0x3f) << 6) |
        (bytes(off + 2) & 0x3f)
      case _ => ((bytes(off) & 0x07) << 18) | ((bytes(off + 1) & 0x3f) << 12) |
        ((bytes(off + 2) & 0x3f) << 6) | (bytes(off + 3) & 0x3f)
    }
}
