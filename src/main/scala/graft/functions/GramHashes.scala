package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType, StringType}

/** Codegen'd positional k-gram hasher: `graft_gram_hashes(ws, k)` maps a
  * token array to the 16-byte binary md5 of every k-token window joined
  * by a single space — element i is
  * `unhex(md5(concat_ws(' ', slice(ws, i + 1, k))))`, for all
  * `size - k + 1` windows in order (empty result below k tokens).
  *
  * Why a custom Catalyst expression (SURVEY §4.2, the [[Phash256]] /
  * [[CharCounts]] tier): the built-in formulation
  * `transform(sequence(...), i -> unhex(md5(concat_ws(' ', slice(...)))))`
  * runs interpreted and re-materializes a k-word slice array plus the
  * joined string per position — the dominant cost of the dup-span
  * lattice build (the `dup_spans` shared stage measured 14.7 s at the
  * sf1 probe) and of the `dup_windows` stage. This kernel extracts each
  * word's UTF-8 bytes ONCE and streams them through one reused digest
  * per window — no slice arrays, no joined strings, no per-position
  * closures.
  *
  * concat_ws parity: null tokens are skipped entirely (no separator),
  * matching the built-in on any input — `split` never produces nulls,
  * so the path is defensive. */
case class GramHashes(child: Expression, k: Int) extends UnaryExpression {

  require(k > 0 && k <= 1024, s"graft_gram_hashes: k must be in [1, 1024], got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_gram_hashes expects array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def prettyName: String = "graft_gram_hashes"

  override def nullSafeEval(ws: Any): Any =
    GramHashes.compute(ws.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramHashes.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): GramHashes =
    copy(child = newChild)
}

/** Long-output sibling of [[GramHashes]]: `graft_gram_hashes60(ws, k)`
  * yields each window's 60-bit md5 key directly — the value of the md5
  * hex string's first 15 characters, i.e. the digest's first 8 bytes
  * big-endian with the last nibble dropped (`>>> 4`). Identical ints to
  * `cast(conv(substr(hex(substring(g, 1, 8)), 1, 15), 16, 10) as bigint)`
  * over [[GramHashes]] output, WITHOUT materializing a 16-byte binary,
  * a 16-char hex string, and a substring per gram: the winnowing
  * fingerprint build is map-only and memory-bandwidth-bound (its
  * measured task-CPU triangle at the scale ladder is DRAM-stall
  * inflation, not algorithmic growth), so the win is precisely the
  * allocation traffic this removes. */
case class GramHashes60(child: Expression, k: Int) extends UnaryExpression {

  require(k > 0 && k <= 1024, s"graft_gram_hashes60: k must be in [1, 1024], got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_gram_hashes60 expects array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_gram_hashes60"

  override def nullSafeEval(ws: Any): Any =
    GramHashes.compute60(ws.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramHashes.compute60($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): GramHashes60 =
    copy(child = newChild)
}

object GramHashes {

  private val digests = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))
  private val Space = Array[Byte](' ')

  /** One-pass window hasher — static so generated code calls it. */
  def compute(ws: ArrayData, k: Int): ArrayData = {
    val n = ws.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val words = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      val w = ws.getUTF8String(i)
      words(i) = if (w == null) null else w.getBytes
      i += 1
    }
    val md = digests.get()
    val out = new Array[Any](n - k + 1)
    var s = 0
    while (s <= n - k) {
      md.reset()
      var first = true
      var j = 0
      while (j < k) {
        val w = words(s + j)
        if (w != null) { // concat_ws skips nulls, separator included
          if (!first) md.update(Space)
          md.update(w)
          first = false
        }
        j += 1
      }
      // unhex(md5(x)) IS md5's raw 16 bytes: Spark's md5 returns the
      // lowercase hex string and unhex undoes it exactly
      out(s) = md.digest()
      s += 1
    }
    new GenericArrayData(out)
  }

  /** [[GramHashes60]]'s evaluator: same reused-digest window loop, but
    * packs each digest's first 60 bits straight into a primitive long
    * array (no binary rows, no hex strings). Static so generated code
    * calls it. */
  def compute60(ws: ArrayData, k: Int): ArrayData = {
    val n = ws.numElements()
    if (n < k)
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(Array.empty[Long])
    val words = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      val w = ws.getUTF8String(i)
      words(i) = if (w == null) null else w.getBytes
      i += 1
    }
    val md = digests.get()
    val out = new Array[Long](n - k + 1)
    var s = 0
    while (s <= n - k) {
      md.reset()
      var first = true
      var j = 0
      while (j < k) {
        val w = words(s + j)
        if (w != null) {
          if (!first) md.update(Space)
          md.update(w)
          first = false
        }
        j += 1
      }
      val d = md.digest()
      // first 15 hex chars == first 8 bytes big-endian >>> 4 (last
      // nibble dropped) — the exact integer conv(substr(hex, 1, 15))
      // derives, always non-negative (60 bits)
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      out(s) = v >>> 4
      s += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}
