package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Text-analysis building blocks for the training-data pipeline operators
  * (SURVEY.md §7 phase 5): tokenization, normalization, shingling, MinHash
  * signatures, SimHash, language-ID and quality scoring. The per-row
  * kernels are native codegen'd expressions (UDF-free): normalization and
  * everything that reads its output ([[NormText]], [[TextTokens]],
  * [[ShingleHashes]]), the sketches ([[MinHashSig]], [[SimHash64]]) and
  * the single-pass scoring profile ([[TextProfile]]); the rest are
  * Catalyst `Column` compositions over them.
  */
object TextFunctions {

  /** Lowercase, strip non [a-z0-9 ] chars, collapse whitespace, trim — one
    * native byte pass (see [[TextNorm]]). */
  def normText(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(NormText(expression(c)))
  }

  /** Whitespace tokens of the normalized text, split straight from the
    * normalized bytes. */
  def tokens(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(TextTokens(NormText(expression(c))))
  }

  /** BPE-ish subword count: alnum runs + individual punctuation marks each
    * count as one token (an approximation of byte-pair tokenizer output used
    * for corpus token accounting — no tokenizer model needed). */
  def bpeishTokenCount(c: Column): Column = size(bpeishTokens(c))

  /** The BPE-ish token STRINGS themselves (same regex as the count) — the
    * materialization half used when windows carry actual tokens. */
  def bpeishTokens(c: Column): Column =
    regexp_extract_all(c, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  /** Word n-gram shingles (default n=3) over the normalized tokens. */
  def shingles(c: Column, n: Int = 3): Column = {
    val toks = tokens(c)
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Distinct 64-bit shingle hashes — the set representation used by
    * MinHash and Jaccard near-dup. Native single-pass expression hashing
    * the normalized bytes of the text (see [[ShingleHashes]] for why not a
    * HOF composition).
    */
  def shingleHashes(c: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(ShingleHashes(NormText(expression(c)), n))
  }

  // MinHash: k independent permutations h_i(x) = (a_i * x + b_i) mod p over
  // a 61-bit Mersenne prime; constants from a fixed split-mix sequence so
  // signatures are deterministic across runs/executors.
  val MinhashPrime: Long = (1L << 61) - 1
  def minhashCoefficients(k: Int, seed: Long = 42L): (Array[Long], Array[Long]) = {
    val next = graft.util.SplitMix64.generator(seed)
    // coefficients bounded to 31 bits so a*h + b (h folded to 31 bits) stays
    // under 2^62 — no Long overflow under ANSI mode, no 128-bit mulmod needed
    val a = Array.fill(k)(math.floorMod(next(), 2147483646L) + 1)
    val b = Array.fill(k)(math.floorMod(next(), 2147483647L))
    (a, b)
  }

  /** Per-permutation 64-bit XOR salts for [[MinHashSig]] — the piece that
    * makes the k permutations actually independent. The original scheme
    * folded each element ONCE to 31 bits and applied k affine maps
    * `(a_j·f + b_j) mod P` on the SAME fold: with a_j, b_j, f < 2^31 and
    * P = 2^61−1 the product never wraps the modulus, so every map is
    * MONOTONE in f and all k "permutations" share one element ordering —
    * the document's globally-smallest folded shingle wins almost every
    * slot, agreement collapses to [shared min] instead of E = jaccard
    * (round-16 finding: a true j = 13/14 subset pair measured 11/128
    * agreement and was missed by all 64 bands; theory says P ≈ 10⁻⁵⁵).
    * Folding AFTER a per-j XOR of the full 64-bit element hash gives each
    * permutation its own element ordering; the affine layer on top is
    * kept (harmless, preserves the coefficient machinery). Drawn from a
    * distinct SplitMix64 stream so a/b stay byte-identical to r15. */
  def minhashSalts(k: Int, seed: Long = 42L): Array[Long] = {
    val next = graft.util.SplitMix64.generator(seed ^ 0x9E3779B97F4A7C15L)
    Array.fill(k)(next())
  }

  /** k-element MinHash signature of an ARRAY<BIGINT> of element hashes.
    * Pure column composition: `transform(0..k-1, i -> min(map(hashes)))` —
    * stays in codegen, no UDF, no shuffle. */
  /** Native expression (see [[MinHashSig]]): one tight primitive loop per
    * row, whole-stage codegen'd. An earlier higher-order-function
    * composition was 30×+ slower — HOF arguments re-evaluate per enclosing
    * lambda element, and the interpreted lambda path allocates per element.
    */
  def minhashSignature(hashes: Column, k: Int = 128, seed: Long = 42L): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(MinHashSig(expression(hashes), k, seed))
  }

  /** LSH band keys from a MinHash signature: split into `bands` bands of
    * `rows` rows, hash each band; docs sharing any band key are candidates. */
  def lshBandKeys(signature: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      xxhash64(b, concat_ws(",", transform(slice(signature, b * lit(rows) + 1, lit(rows)),
                                           v => v.cast("string")))))

  /** 64-bit SimHash of an array of 64-bit element hashes (native expression,
    * see `SimHash64`). */
  def simhash64(hashes: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(SimHash64(expression(hashes)))
  }

  /** Number of 1-bits in (a XOR b) — Hamming distance between simhashes. */
  def hammingDist64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ---- language ID ------------------------------------------------------
  /** Tiny per-language stopword inventories (public common function words).
    * An n-gram/stopword-membership heuristic: score = |tokens ∩ stopwords|,
    * prediction = argmax with deterministic lexicographic tie-break. */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "was", "for", "with", "on", "as", "at"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una", "los", "las", "por", "con", "para", "es", "al"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "des", "dem", "ein", "eine", "zu", "im", "auf"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "est", "en", "un", "une", "du", "pour", "que", "dans", "sur"),
    "zh" -> Seq("de", "shi", "bu", "le", "zai", "ren", "you", "wo", "ta", "zhe", "men", "zhong", "dao", "he", "ni"))

  /** All text-scoring inputs in ONE normalization pass (see [[TextProfile]]):
    * the Column compositions below re-derived each score from `tokens(c)`,
    * whose two regexes re-ran for EVERY consumer — and because the repeats
    * sat inside higher-order-function lambdas, codegen's subexpression
    * elimination could not fold them (measured ~10-16 normalization passes
    * per row on the quality-filter path). A plain deterministic native
    * expression repeated across output columns IS eliminated to a single
    * per-row evaluation. */
  def textProfile(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(TextProfile(expression(c)))
  }

  def langScore(c: Column, lang: String): Column =
    textProfile(c).getField(s"s_$lang")

  /** Predicted language code; `und` when no stopword hits at all. */
  def langId(c: Column): Column = {
    val langs = Stopwords.keys.toSeq.sorted
    // array of (score, lang) structs → array_max picks max score then max
    // lang lexicographically; we want deterministic ties → use max lang.
    val scored = array(langs.map(l => struct(langScore(c, l).as("s"), lit(l).as("l"))): _*)
    val best = array_max(scored)
    when(best.getField("s") > 0, best.getField("l")).otherwise(lit("und"))
  }

  // ---- quality scoring --------------------------------------------------
  /** Heuristic quality components (all integer-scaled for cross-engine
    * determinism): doc length, word count, mean word length ‰, punctuation
    * ratio ‰, stopword ratio ‰. Derived from the single-pass profile. */
  def qualityComponents(c: Column): Seq[(String, Column)] = {
    val p = textProfile(c)
    val nTok = p.getField("n_tokens")
    val nChar = p.getField("n_chars")
    val nPunct = p.getField("n_punct")
    Seq(
      "n_chars_m"      -> nChar.cast(LongType),
      "n_tokens"       -> nTok.cast(LongType),
      "mean_word_len_pm" -> when(nTok > 0,
          (p.getField("sum_tok_len") * 1000L) / nTok).otherwise(lit(0L)).cast(LongType),
      "punct_pm"       -> when(nChar > 0, (nPunct * 1000L) / nChar).otherwise(lit(0L)).cast(LongType),
      "stop_hits"      -> p.getField("s_en").cast(LongType))
  }

  /** Composite 0-1000 quality score (integer arithmetic only). */
  def qualityScore(c: Column): Column = {
    val comps = qualityComponents(c).toMap
    val lenScore  = least(comps("n_tokens"), lit(200L)) * 2L        // 0..400
    val punctOk   = when(comps("punct_pm") <= 80L, lit(300L)).otherwise(lit(100L))
    val stopScore = least(comps("stop_hits") * 30L, lit(300L))      // 0..300
    (lenScore + punctOk + stopScore).cast(LongType)
  }

  /** Content-defined fingerprint: md5 of the normalized text (stable,
    * cross-engine). A rolling Karp-Rabin variant is `RollingHash64`. */
  def fingerprint(c: Column): Column = md5(to_binary(normText(c), lit("utf-8")))

  def rollingHash(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(RollingHash64(expression(c)))
  }

  // ---- division-free Mersenne reductions (the MinHash hot loop) --------
  //
  // Both MinHash moduli are Mersenne primes (2^31−1 for the per-permutation
  // fold, 2^61−1 for the affine map), so `x mod M` reduces with shift-add
  // folds (2^p ≡ 1 mod 2^p−1) instead of a 64-bit division. The signature
  // loop runs k=128 of each per array element — two hardware divisions per
  // (element, permutation) — and the weighted variants multiply the element
  // count by the IDF weight expansion, so the division latency is the
  // dominant per-task cost of every minhash-family query (guide §1.2 step
  // 2: per-task work). These fold identities are EXACT: results are
  // bit-identical to floorMod / %, verified by spec over the full edge
  // space, so no query output changes.

  /** `floorMod(x, 2^31−1)` without division. The unsigned 64-bit fold uses
    * 2^31 ≡ 1 (two rounds bring the value under 2^31+8, one conditional
    * subtract lands in [0, M31)); a negative SIGNED x is the unsigned
    * value minus 2^64, and 2^64 ≡ 4 (mod 2^31−1), so the signed result
    * subtracts 4 with one wrap-around correction. */
  @inline final def mersenneMod31(x: Long): Long = {
    val M = 2147483647L
    var t = (x >>> 31) + (x & M)   // < 2^33 + 2^31
    t = (t >>> 31) + (t & M)       // < 2^31 + 8
    if (t >= M) t -= M
    if (x < 0) { t -= 4L; if (t < 0) t += M }
    t
  }

  /** `x % (2^61−1)` without division, for 0 ≤ x < 2^62: one fold via
    * 2^61 ≡ 1 plus one conditional subtract. */
  @inline final def mersenneMod61(x: Long): Long = {
    val P = MinhashPrime
    var t = (x >>> 61) + (x & P)
    if (t >= P) t -= P
    t
  }
}

/** k-permutation MinHash signature of an ARRAY<BIGINT> of element hashes:
  * sig[j] = min over h of (a_j · fold(h) + b_j) mod (2^61−1), with
  * fold(h) = h mod (2^31−1) ≥ 0 and a_j, b_j < 2^31 (so the product stays
  * under 2^62 — no overflow under ANSI mode, no 128-bit reduction).
  * Coefficients come from [[TextFunctions.minhashCoefficients]] (fixed
  * splitmix64 seed → signatures deterministic across executors/runs).
  */
case class MinHashSig(child: Expression, k: Int, seed: Long)
    extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftTypeCheck.expect(prettyName, child -> ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private val P = TextFunctions.MinhashPrime
  @transient private lazy val coeffs = TextFunctions.minhashCoefficients(k, seed)
  @transient private lazy val salts = TextFunctions.minhashSalts(k, seed)

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val (a, b) = coeffs
    val r = salts
    val acc = Array.fill(k)(P)
    var i = 0
    while (i < arr.numElements()) {
      val h = arr.getLong(i)
      var j = 0
      while (j < k) {
        // per-j XOR salt BEFORE the 31-bit fold: each permutation gets its
        // own element ordering (see minhashSalts — the unsalted fold made
        // all k affine maps monotone in one shared fold, collapsing the
        // estimator to [shared min element]). Both reductions are
        // division-free Mersenne folds, bit-identical to floorMod / % P
        // (see TextFunctions.mersenneMod31/61) — the loop runs k per
        // element, so the two divisions they replace dominated the pass.
        val hh = TextFunctions.mersenneMod31(h ^ r(j))
        val v2 = TextFunctions.mersenneMod61(a(j) * hh + b(j))
        if (v2 < acc(j)) acc(j) = v2
        j += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mhA", coeffs._1, "long[]")
    val bRef = ctx.addReferenceObj("mhB", coeffs._2, "long[]")
    val rRef = ctx.addReferenceObj("mhR", salts, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val acc = ctx.freshName("acc"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val hh = ctx.freshName("hh")
      val h = ctx.freshName("h"); val v2 = ctx.freshName("v2")
      val s = ctx.freshName("s")
      // division-free Mersenne reductions, inlined — bit-identical to the
      // floorMod / % P they replace (TextFunctions.mersenneMod31/61; the
      // interpreted eval above uses the shared helpers, spec-pinned equal)
      s"""
         |long[] $acc = new long[$k];
         |java.util.Arrays.fill($acc, ${P}L);
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  long $h = $c.getLong($i);
         |  for (int $j = 0; $j < $k; $j++) {
         |    long $s = $h ^ $rRef[$j];
         |    long $hh = ($s >>> 31) + ($s & 2147483647L);
         |    $hh = ($hh >>> 31) + ($hh & 2147483647L);
         |    if ($hh >= 2147483647L) $hh -= 2147483647L;
         |    if ($s < 0) { $hh -= 4L; if ($hh < 0) $hh += 2147483647L; }
         |    long $v2 = $aRef[$j] * $hh + $bRef[$j];
         |    $v2 = ($v2 >>> 61) + ($v2 & ${P}L);
         |    if ($v2 >= ${P}L) $v2 -= ${P}L;
         |    if ($v2 < $acc[$j]) $acc[$j] = $v2;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($acc);
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
  override def prettyName: String = "minhash_sig"
}

/** 64-bit SimHash: for each of 64 bit positions, majority vote of the
  * element hashes' bits (+1 if set, −1 if clear); result bit = vote > 0.
  * Native expression: one pass over the array, primitive `long` ops,
  * whole-stage codegen via `doGenCode`.
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftTypeCheck.expect(prettyName, child -> ArrayType(LongType))
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L; var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val votes = ctx.freshName("votes"); val i = ctx.freshName("i")
      val b = ctx.freshName("b"); val h = ctx.freshName("h"); val out = ctx.freshName("out")
      s"""
         |int[] $votes = new int[64];
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $b = 0; $b < 64; $b++) {
         |    if ((($h >>> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
         |  }
         |}
         |long $out = 0L;
         |for (int $b = 0; $b < 64; $b++) if ($votes[$b] > 0) $out |= (1L << $b);
         |${ev.value} = $out;
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
  override def prettyName: String = "simhash64"
}

/** Single-pass text-scoring profile (see `TextFunctions.textProfile`):
  * normalizes ONCE with the shared kernel ([[TextNorm]], JVM case mapping —
  * `UTF8String.toLowerCase`, the lower-casing this profile has always
  * used) and splits with `split(" ", -1)`, then derives every downstream
  * quantity from that one token array: char count, token count, summed
  * token length, punctuation count over the RAW text, and the
  * distinct-token stopword hits per language (matching
  * `array_intersect`'s dedup semantics). */
object TextProfileUtil {
  val LangsSorted: Seq[String] = TextFunctions.Stopwords.keys.toSeq.sorted
  private val stopSets: Array[java.util.HashSet[String]] =
    LangsSorted.map { l =>
      val s = new java.util.HashSet[String]()
      TextFunctions.Stopwords(l).foreach(s.add)
      s
    }.toArray

  def profile(u: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val nChars = u.numChars().toLong
    val raw = u.toString
    var punct = 0L
    var i = 0
    while (i < raw.length) {
      val ch = raw.charAt(i)
      if (ch == '.' || ch == ',' || ch == ';' || ch == ':' || ch == '!' || ch == '?')
        punct += 1
      i += 1
    }
    val norm = new String(TextNorm.normalize(u, useICU = false),
      java.nio.charset.StandardCharsets.US_ASCII)
    val toks = norm.split(" ", -1)
    var sumLen = 0L
    var j = 0
    while (j < toks.length) { sumLen += toks(j).length; j += 1 }
    val distinct = new java.util.HashSet[String]()
    j = 0
    while (j < toks.length) { distinct.add(toks(j)); j += 1 }
    val scores = new Array[Int](stopSets.length)
    val it = distinct.iterator()
    while (it.hasNext) {
      val t = it.next()
      var k = 0
      while (k < stopSets.length) {
        if (stopSets(k).contains(t)) scores(k) += 1
        k += 1
      }
    }
    // arity derived from the scores array so adding a language to
    // Stopwords cannot desynchronize the row from TextProfile.dataType
    org.apache.spark.sql.catalyst.InternalRow.fromSeq(
      Seq[Any](nChars, toks.length.toLong, sumLen, punct) ++ scores)
  }

  /** One-pass evaluation of `qualityScore >= minScore && langId ∈ langs`
    * (null langSet = no language restriction). Mirrors the Column-composed
    * arithmetic exactly; see [[graft.functions.QualityLangKeep]]. */
  def keep(u: org.apache.spark.unsafe.types.UTF8String, minScore: Long,
           langSet: java.util.HashSet[String]): Boolean = {
    val row = profile(u)
    val nChars = row.getLong(0)
    val nTok = row.getLong(1)
    val punct = row.getLong(3)
    val punctPm = if (nChars > 0) punct * 1000L / nChars else 0L
    val sEn = row.getInt(4 + LangsSorted.indexOf("en"))
    val score = math.min(nTok, 200L) * 2L +
      (if (punctPm <= 80L) 300L else 100L) +
      math.min(sEn.toLong * 30L, 300L)
    if (score < minScore) return false
    if (langSet == null) return true
    // argmax over (score, lang) with max-lang tie-break, like
    // array_max over struct(s, l); `und` when every score is 0
    var bestS = -1
    var bestL = "und"
    var k = 0
    while (k < LangsSorted.length) {
      val s = row.getInt(4 + k)
      val l = LangsSorted(k)
      if (s > bestS || (s == bestS && l.compareTo(bestL) > 0)) {
        bestS = s; bestL = l
      }
      k += 1
    }
    val pred = if (bestS > 0) bestL else "und"
    langSet.contains(pred)
  }
}

/** One-evaluation quality/language keep-predicate for filter hot paths:
  * `ProjectExec` folds repeated deterministic subexpressions but
  * `FilterExec` codegen does NOT — a Column-composed predicate re-evaluates
  * the profile once per field reference (~10 normalizations/row measured).
  * Semantics are exactly `qualityScore(c) >= minScore [&& langId(c) ∈
  * langs]` (same integer arithmetic, same max-(score,lang) tie-break,
  * `und` when no stopword hits). */
case class QualityLangKeep(child: Expression, minScore: Long, langs: Seq[String])
    extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftTypeCheck.expect(prettyName, child -> StringType)
  import org.apache.spark.sql.types.BooleanType
  override def dataType: DataType = BooleanType
  @transient private lazy val langSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    langs.foreach(s.add)
    s
  }
  override protected def nullSafeEval(v: Any): Any =
    TextProfileUtil.keep(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      minScore, if (langs.isEmpty) null else langSet)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef =
      if (langs.isEmpty) "null"
      // raw type: Janino's generics support is partial — a <String> cast can
      // silently fail codegen and drop the whole stage to interpreted mode
      else ctx.addReferenceObj("qlkLangs", langSet, "java.util.HashSet")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextProfileUtil.keep($c, ${minScore}L, $setRef)")
  }
  override protected def withNewChildInternal(c: Expression): QualityLangKeep =
    copy(child = c)
  override def prettyName: String = "quality_lang_keep"
}

case class TextProfile(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftTypeCheck.expect(prettyName, child -> StringType)
  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
  override def dataType: DataType = StructType(
    Seq(StructField("n_chars", LongType, nullable = false),
        StructField("n_tokens", LongType, nullable = false),
        StructField("sum_tok_len", LongType, nullable = false),
        StructField("n_punct", LongType, nullable = false)) ++
    TextProfileUtil.LangsSorted.map(l =>
      StructField(s"s_$l", IntegerType, nullable = false)))
  override protected def nullSafeEval(v: Any): Any =
    TextProfileUtil.profile(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextProfileUtil.profile($c)")
  override protected def withNewChildInternal(c: Expression): TextProfile = copy(c)
  override def prettyName: String = "text_profile"
}

/** Karp-Rabin polynomial rolling hash of a UTF8 string:
  * h = Σ byte_i * B^(n-1-i) mod 2^61-1, B = 257. Deterministic document
  * fingerprint usable for content-defined chunking. */
case class RollingHash64(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftTypeCheck.expect(prettyName, child -> StringType)
  override def dataType: DataType = LongType
  private val P = (1L << 61) - 1
  private val B = 257L
  override protected def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    var h = 0L; var i = 0
    while (i < bytes.length) {
      // h = (h * B + byte) mod P; h*B < 2^61 * 2^9 = 2^70 → use Math.multiplyHigh-free
      // reduction: split h = hi*2^32 + lo.
      h = mulmodP(h, B)
      h += (bytes(i) & 0xFF)
      if (h >= P) h -= P
      i += 1
    }
    h
  }
  private def mulmodP(a: Long, b: Long): Long = {
    // a < 2^61, b small (257): a*b fits in 2^70 → reduce via 128-bit split.
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    // x mod 2^61-1: (x & P) + (x >>> 61) folded, with hi contributing 2^64 ≡ 2^3
    var r = (lo & P) + ((lo >>> 61) | (hi << 3))
    if (r >= P) r -= P
    if (r >= P) r -= P
    r
  }
  override protected def withNewChildInternal(c: Expression): RollingHash64 = copy(c)
  override def prettyName: String = "rolling_hash64"
}

/** Token → vocabulary-id encoding over an ARRAY<STRING> input: each token
  * maps to its dense vocab id, out-of-vocabulary tokens to `unkId`. The
  * vocabulary rides to executors as a codegen reference object inside the
  * task binary (the same broadcast-style mechanism as the IVF centroids) —
  * encoding is one narrow scan-bound pass, no per-token join/shuffle and
  * no re-assembly aggregation. */
case class VocabEncode(child: Expression, vocab: Array[String], unkId: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    GraftTypeCheck.expect(prettyName, child -> ArrayType(StringType))
  import org.apache.spark.sql.types.IntegerType
  import org.apache.spark.unsafe.types.UTF8String
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  @transient private lazy val map: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](vocab.length * 2)
    var i = 0
    while (i < vocab.length) { m.put(UTF8String.fromString(vocab(i)), i); i += 1 }
    m
  }
  override protected def nullSafeEval(v: Any): Any =
    VocabEncodeUtil.encode(v.asInstanceOf[ArrayData], map, unkId)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // raw type: Janino's generics support is partial (see QualityLangKeep)
    val mapRef = ctx.addReferenceObj("vocabMap", map, "java.util.HashMap")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VocabEncodeUtil.encode($c, $mapRef, $unkId)")
  }
  override protected def withNewChildInternal(c: Expression): VocabEncode =
    copy(child = c)
  override def prettyName: String = "vocab_encode"
}

object VocabEncodeUtil {
  def encode(arr: ArrayData,
             vocab: java.util.HashMap[_, _], unkId: Int): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val id = vocab.get(arr.getUTF8String(i))
      out(i) = if (id == null) unkId else id.asInstanceOf[Integer].intValue()
      i += 1
    }
    ArrayData.toArrayData(out)
  }
}
