package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}

/** Distinct 64-bit hashes of the word n-gram shingles of a *normalized*
  * text (single-space separated — the output of `TextFunctions.normText`).
  *
  * One pass over the UTF-8 bytes: because tokens are single-space
  * separated, shingle i is exactly the byte range [start(i), end(i+n-1)) of
  * the input, so each shingle is hashed in place (xxhash64, seed 42 — the
  * same function as Spark's `xxhash64()`) with no per-shingle string
  * allocation. Result order is ascending (sort-based dedup). The kernels
  * take the normalized bytes (see [[NormTextKernel]]).
  *
  * Exists as a native expression because the equivalent higher-order-
  * function composition re-evaluates the tokenization per shingle (HOF
  * arguments re-run per enclosing-lambda element) — measured ~30× slower
  * on the dedup corpus.
  */
object ShingleHashUtil {
  val Seed = 42L

  def shingleHashes(bytes: Array[Byte], n: Int): ArrayData = {
    val len = bytes.length
    // token start offsets (single-space separated input)
    var m = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' ') m += 1; i += 1 }
    val starts = new Array[Int](m + 1)
    var ti = 1
    i = 0
    while (i < len) { if (bytes(i) == ' ') { starts(ti) = i + 1; ti += 1 }; i += 1 }
    starts(m) = len + 1 // sentinel: start of virtual token m

    val out =
      if (m < n) Array(XXH64.hashUnsafeBytes(bytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, Seed))
      else {
        val k = m - n + 1
        val hs = new Array[Long](k)
        var j = 0
        while (j < k) {
          val from = starts(j)
          val until = starts(j + n) - 1 // strip trailing space
          hs(j) = XXH64.hashUnsafeBytes(bytes,
            org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from,
            until - from, Seed)
          j += 1
        }
        java.util.Arrays.sort(hs)
        // in-place dedup
        var w = 0
        var r = 0
        while (r < k) {
          if (r == 0 || hs(r) != hs(r - 1)) { hs(w) = hs(r); w += 1 }
          r += 1
        }
        if (w == k) hs else java.util.Arrays.copyOf(hs, w)
      }
    ArrayData.toArrayData(out)
  }

  /** Shared kernel: the positional n-gram hash array (empty when the text
    * has fewer than n tokens — a partial window is not a span). */
  private def positionalArray(bytes: Array[Byte], n: Int): Array[Long] = {
    val len = bytes.length
    var m = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' ') m += 1; i += 1 }
    if (m < n) Array.emptyLongArray
    else {
      val starts = new Array[Int](m + 1)
      var ti = 1
      i = 0
      while (i < len) { if (bytes(i) == ' ') { starts(ti) = i + 1; ti += 1 }; i += 1 }
      starts(m) = len + 1
      val k = m - n + 1
      val hs = new Array[Long](k)
      var j = 0
      while (j < k) {
        val from = starts(j)
        val until = starts(j + n) - 1
        hs(j) = XXH64.hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from,
          until - from, Seed)
        j += 1
      }
      hs
    }
  }

  /** POSITIONAL window hashes: element i = hash of the n-token window at
    * token index i — no sort, no dedup, EMPTY when the text has fewer than
    * n tokens. Same in-place byte-range hashing as `shingleHashes`; feeds
    * `Dedup.duplicateSpans`, where the position is the payload (the first
    * HOF-composed version re-ran the tokenizer per window — measured 22 s
    * for the sf0.1 span query vs ~1 s native). */
  def positionalShingleHashes(bytes: Array[Byte], n: Int): ArrayData =
    ArrayData.toArrayData(positionalArray(bytes, n))

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the MOSS
    * algorithm): in every window of `w` consecutive positional n-gram
    * hashes, select the minimum, rightmost on ties; consecutive windows
    * re-selecting the same position record it once. Guarantees: at least
    * one fingerprint per window (any match of length ≥ w+n-1 tokens shares
    * a fingerprint — the local-algorithm detection contract) and expected
    * density 2/(w+1). A document with fewer than n tokens has no grams and
    * no fingerprints; with fewer than w grams the single window covers all
    * of them. Selections are strictly increasing in position (a new window
    * can only re-select the same position or one further right), so the
    * output is position-sorted without a sort.
    *
    * Signed-long min comparisons — the DuckDB oracle converts its unsigned
    * XXH64 replica back to signed before comparing. O(k·w) per document
    * with w a small constant; a native expression for the same reason as
    * [[positionalShingleHashes]] (per-position HOF slices re-evaluate the
    * tokenization per element). */
  def winnowFingerprints(bytes: Array[Byte], n: Int, w: Int): ArrayData = {
    val hs = positionalArray(bytes, n)
    val k = hs.length
    if (k == 0) new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    else {
      val ww = math.min(w, k)
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var last = -1
      var t = 0
      while (t <= k - ww) {
        var best = t
        var i = t + 1
        while (i < t + ww) { if (hs(i) <= hs(best)) best = i; i += 1 }
        if (best != last) {
          out += org.apache.spark.sql.catalyst.InternalRow(best, hs(best))
          last = best
        }
        t += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
    }
  }
}

/** `positionalShingleHashes` as a codegen'd expression (see [[ShingleHashes]]
  * for why a native expression and not a HOF composition). */
case class PositionalShingleHashes(child: Expression, n: Int)
    extends NormTextKernel {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def kernel(norm: Array[Byte]): Any =
    ShingleHashUtil.positionalShingleHashes(norm, n)
  override protected def kernelCode(bytes: String): String =
    s"graft.functions.ShingleHashUtil.positionalShingleHashes($bytes, $n)"
  override protected def withNewChildInternal(c: Expression): PositionalShingleHashes =
    copy(child = c)
  override def prettyName: String = "positional_shingle_hashes"
}

/** `winnowFingerprints` as a codegen'd expression: ARRAY<STRUCT<pos INT,
  * hash BIGINT>> of the selected (position, hash) fingerprints of the
  * *normalized* text's positional n-gram hashes under a w-window
  * rightmost-min winnow. */
case class WinnowFingerprints(child: Expression, n: Int, w: Int)
    extends NormTextKernel {
  // constructor guards cover every path (DataFrame API, SQL builder, direct
  // construction) at analysis time — w = 0 would otherwise index past the
  // hash array mid-job, n <= 0 a negative byte range
  require(n >= 1, s"winnow_fingerprints: n (gram width) must be >= 1, got $n")
  require(w >= 1, s"winnow_fingerprints: w (window) must be >= 1, got $w")
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("hash", LongType, nullable = false))),
    containsNull = false)
  override protected def kernel(norm: Array[Byte]): Any =
    ShingleHashUtil.winnowFingerprints(norm, n, w)
  override protected def kernelCode(bytes: String): String =
    s"graft.functions.ShingleHashUtil.winnowFingerprints($bytes, $n, $w)"
  override protected def withNewChildInternal(c: Expression): WinnowFingerprints =
    copy(child = c)
  override def prettyName: String = "winnow_fingerprints"
}

case class ShingleHashes(child: Expression, n: Int) extends NormTextKernel {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def kernel(norm: Array[Byte]): Any =
    ShingleHashUtil.shingleHashes(norm, n)
  override protected def kernelCode(bytes: String): String =
    s"graft.functions.ShingleHashUtil.shingleHashes($bytes, $n)"
  override protected def withNewChildInternal(c: Expression): ShingleHashes =
    copy(child = c)
  override def prettyName: String = "shingle_hashes"
}
