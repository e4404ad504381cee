package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The text normalization every shingling and tokenizing operator shares:
  * lower-case, then the maximal `[a-z0-9]` runs joined by single spaces.
  * That is exactly what the Catalyst chain
  * `trim(regexp_replace(regexp_replace(lower(t), "[^a-z0-9\\s]", " "), "\\s+", " "))`
  * produces (every character outside `[a-z0-9]` ends a run, and a run of
  * separators becomes one space or, at either end, nothing), computed
  * without a regex in two byte scans: one measures the output, one writes
  * it.
  *
  * ASCII input is lower-cased in the scan (`A-Z` → `a-z`). Input holding
  * any byte ≥ 0x80 is first lower-cased by Spark's own
  * `CollationSupport.Lower` (UTF8_BINARY, ICU or JVM case mapping as the
  * caller says), because a non-ASCII character can lower-case to an ASCII
  * one (`İ` → `i̇`, the Kelvin sign → `k`). In the lower-cased UTF-8 every
  * byte ≥ 0x80 belongs to a non-ASCII character — or to an invalid
  * sequence, which the regex chain saw as U+FFFD — so it is a separator,
  * and the same scan finishes the job. */
object TextNorm {

  private val Utf8Binary = CollationFactory.UTF8_BINARY_COLLATION_ID

  /** Normalized UTF-8 bytes of `s` (the array is exactly the output). */
  def normalize(s: UTF8String, useICU: Boolean): Array[Byte] = {
    val m = measure(s)
    if (m >= 0) fill(s, m)
    else {
      val low = CollationSupport.Lower.exec(s, Utf8Binary, useICU)
      fill(low, measure(low) & Int.MaxValue)
    }
  }

  @inline private def alnum(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') || (b >= 'A' && b <= 'Z')

  /** Output length of [[fill]]; bit 31 set when `s` has a non-ASCII byte. */
  private def measure(s: UTF8String): Int = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes
    var out = 0
    var inRun = false
    var high = 0
    var i = 0
    while (i < len) {
      val b = Platform.getByte(base, off + i)
      high |= b & 0x80
      if (alnum(b)) {
        if (!inRun && out > 0) out += 1
        out += 1
        inRun = true
      } else inRun = false
      i += 1
    }
    if (high != 0) out | Int.MinValue else out
  }

  private def fill(s: UTF8String, outLen: Int): Array[Byte] = {
    if (outLen == 0) return Array.emptyByteArray
    val out = new Array[Byte](outLen)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes
    var w = 0
    var inRun = false
    var i = 0
    while (i < len) {
      val b = Platform.getByte(base, off + i)
      if (alnum(b)) {
        if (!inRun && w > 0) { out(w) = ' '; w += 1 }
        out(w) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
        w += 1
        inRun = true
      } else inRun = false
      i += 1
    }
    out
  }

  /** `split(t, " ", -1)` of single-space-separated text as views into
    * `bytes`: the empty text is one empty token, like `split`. */
  def tokens(bytes: Array[Byte]): ArrayData = {
    val len = bytes.length
    var m = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' ') m += 1; i += 1 }
    val out = new Array[Any](m)
    var from = 0
    var t = 0
    i = 0
    while (i <= len) {
      if (i == len || bytes(i) == ' ') {
        out(t) = UTF8String.fromBytes(bytes, from, i - from)
        t += 1
        from = i + 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `TextFunctions.normText` as a codegen'd expression (see [[TextNorm]]).
  * Case mapping follows `spark.sql.icu.caseMappings.enabled`, read the way
  * Spark's `Lower` reads it, so the result equals the `lower`-based chain
  * under either setting. */
case class NormText(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftTypeCheck.expect(prettyName, child -> StringType)
  override def dataType: DataType = StringType
  private lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override protected def nullSafeEval(v: Any): Any =
    UTF8String.fromBytes(TextNorm.normalize(v.asInstanceOf[UTF8String], useICU))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => "org.apache.spark.unsafe.types.UTF8String.fromBytes(" +
      s"graft.functions.TextNorm.normalize($c, $useICU))")
  override protected def withNewChildInternal(c: Expression): NormText = copy(child = c)
  override def prettyName: String = "norm_text"
}

/** A kernel over single-space-separated normalized text (shingle hashes,
  * positional hashes, winnowing, tokens), run on the string's UTF-8 bytes.
  * Over a [[NormText]] child those bytes are the array [[TextNorm]] wrote:
  * `UTF8String.getBytes` returns a string's backing array without a copy
  * when the string spans all of it, as `fromBytes` makes it. */
trait NormTextKernel extends UnaryExpression {
  /** The kernel over normalized UTF-8 bytes. */
  protected def kernel(norm: Array[Byte]): Any
  /** Java source of [[kernel]] applied to the `byte[]` expression `bytes`. */
  protected def kernelCode(bytes: String): String

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftTypeCheck.expect(prettyName, child -> StringType)
  override protected def nullSafeEval(v: Any): Any =
    kernel(v.asInstanceOf[UTF8String].getBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => kernelCode(s"$c.getBytes()"))
}

/** Whitespace tokens of normalized text: `split(t, " ")` straight from the
  * normalized bytes (see [[NormTextKernel]]). */
case class TextTokens(child: Expression) extends NormTextKernel {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def kernel(norm: Array[Byte]): Any = TextNorm.tokens(norm)
  override protected def kernelCode(bytes: String): String =
    s"graft.functions.TextNorm.tokens($bytes)"
  override protected def withNewChildInternal(c: Expression): TextTokens = copy(child = c)
  override def prettyName: String = "text_tokens"
}
