package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd text normalization: `graft_normalize_text(text)` ≡
  * `trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ''),
  * ' +', ' '))` — lowercase, keep only `[a-z0-9 ]`, collapse space
  * runs, trim.
  *
  * Equivalence argument: lowercase is the SAME `UTF8String.toLowerCase`
  * Spark's `Lower` calls; after it, the strip regex keeps exactly the
  * chars {a-z, 0-9, space}, all single-byte in UTF-8, while every byte
  * of a multi-byte char is ≥ 0x80 — so a byte scan over the lowercased
  * string that keeps bytes in the class is char-exact (e.g. 'İ'
  * lowercases to "i" + combining dot: the tower's regex keeps the 'i'
  * char and strips the mark; the byte scan keeps the 0x69 byte and
  * strips the ≥0x80 mark bytes — identical). Collapse-then-trim is
  * byte-exact on space (0x20), the only char `trim` touches.
  * Parity-pinned against the verbatim tower in FunctionsSpec.
  *
  * Why a kernel (the [[SrpBucketKeys]]/[[WinnowPositions]] tier): the
  * expression chain materializes ~6 transient copies per row
  * (UTF8String→String, lowercase copy, two regex result buffers, and
  * back), and the r15 ladder measured its per-char task-CPU scaling
  * with TASK CONCURRENCY — 155 ns/char at 2 concurrent tasks, ~460 at
  * 5, ~2,900 at 32 (allocation-bandwidth saturation; GC flat, data
  * identical) — which read as a super-linear corpus growth law
  * (5.9 → 44.3 → 482 CPU-s on 10×/30×/100×) purely because bigger
  * rungs run wider. This pass allocates one output array per row. */
case class NormalizeText(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_normalize_text expects string, got ${other.simpleString}")
  }

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_normalize_text"

  override def nullSafeEval(s: Any): Any =
    NormalizeText.compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NormalizeText.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): NormalizeText =
    copy(child = newChild)
}

object NormalizeText {

  /** Single byte pass over the lowercased string — static so generated
    * code calls it. One output allocation; no regex machinery. */
  def compute(s: UTF8String): UTF8String = {
    val b = s.toLowerCase.getBytes
    val out = new Array[Byte](b.length)
    var m = 0
    var pendingSpace = false
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSpace && m > 0) { out(m) = ' '; m += 1 }
        out(m) = c
        m += 1
        pendingSpace = false
      } else if (c == ' ') {
        pendingSpace = true
      }
      // every other byte (punctuation, control, any ≥0x80 byte of a
      // multi-byte char) is stripped, exactly like the char class
      i += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, m))
  }
}
