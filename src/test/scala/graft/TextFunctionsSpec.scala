package graft

import graft.functions.{TextFunctions => TF}
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSpec {
  import org.apache.spark.sql.Row

  private lazy val docs = spark.read.parquet(sf("documents"))

  /** Reference (slow, obviously-correct) shingle set builder. */
  private def refShingles(text: String, n: Int): Set[String] = {
    val norm = text.toLowerCase.replaceAll("[^a-z0-9\\s]", " ")
      .replaceAll("\\s+", " ").trim
    val toks = norm.split(" ", -1).toSeq
    if (toks.size < n) Set(toks.mkString(" "))
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  test("htmlText: scripts/styles dropped with content, tags separate words, entities single-pass") {
    import graft.functions.MarkupFunctions.htmlText
    import spark.implicits._
    val cases = Seq(
      // block boundaries must separate words
      ("<p>a</p><p>b</p>", "a b"),
      // script content (including '<' comparisons and entity strings) is
      // dropped whole; style likewise
      ("x<script type=\"t\">if (1 < 2) { emit(\"&amp;\"); }</script>y", "x y"),
      ("x<style>p { color: red }</style>y", "x y"),
      ("x<SCRIPT>a</SCRIPT>y", "x y"), // case-insensitive element match
      // attributes with quoted values strip with the tag
      ("<body onload=\"go()\"><b>hi</b></body>", "hi"),
      // entity decode, amp LAST: double-escaped text stays literal
      ("&lt;tag&gt; &quot;q&quot; &#39;a&#39; x&nbsp;y &amp; z", "<tag> \"q\" 'a' x y & z"),
      ("&amp;lt;", "&lt;"),
      // whitespace (tabs, newlines, CRs) collapses and trims
      ("  a\t\tb\n\nc\r\nd  ", "a b c d"),
      // multiline content inside a dropped block
      ("x<script>\nline1\nline2\n</script>y", "x y"),
      ("", ""),
      ("plain text, no markup", "plain text, no markup"))
    val got = cases.map(_._1).toDF("html")
      .select(htmlText(col("html")).as("t")).as[String].collect()
    cases.zip(got).foreach { case ((in, want), t) =>
      assert(t == want, s"htmlText($in) = '$t', wanted '$want'")
    }
  }

  test("sentenceManifest: hand-traced boundaries, punct runs, empty-segment drop, counts") {
    import spark.implicits._
    val rows = Seq(
      (1L, "First one. Second two!! Third three? tail"),
      (2L, "no terminators at all"),
      (3L, "Trailing period."),          // no trailing space: one sentence
      (4L, "Multi  spaces. ok"),
      (5L, ""),                           // empty doc: zero rows
      (6L, "a. . b")                      // middle "." segment survives trim
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .sentenceManifest(rows, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getInt(3), r.getInt(4))).toMap
    val want = Map(
      (1L, 0L) -> ("First one.", 10, 2),
      (1L, 1L) -> ("Second two!!", 12, 2),
      (1L, 2L) -> ("Third three?", 12, 2),
      (1L, 3L) -> ("tail", 4, 1),
      (2L, 0L) -> ("no terminators at all", 21, 4),
      (3L, 0L) -> ("Trailing period.", 16, 2),
      (4L, 0L) -> ("Multi  spaces.", 14, 2),
      (4L, 1L) -> ("ok", 2, 1),
      (6L, 0L) -> ("a.", 2, 1),
      (6L, 1L) -> (".", 1, 1),
      (6L, 2L) -> ("b", 1, 1))
    assert(got == want, s"got $got")
  }

  test("shingleHashes: native expression count matches reference set builder") {
    val got = docs.select(col("doc_id"), col("text"),
        size(TF.shingleHashes(col("text"), 3)).as("n")).collect()
    got.foreach { case Row(id: Long, text: String, n: Int) =>
      assert(n == refShingles(text, 3).size, s"doc $id")
    }
  }

  /** The regex normalization chain the native kernel replaced, as Spark SQL. */
  private val regexNormSql =
    "trim(regexp_replace(regexp_replace(lower(t), '[^a-z0-9\\\\s]', ' '), '\\\\s+', ' '))"

  /** `body` under each ICU case-mapping setting, codegen'd and interpreted. */
  private def underEveryMode(body: String => Unit): Unit =
    for (icu <- Seq("true", "false"); factory <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.icu.caseMappings.enabled", icu)
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      spark.conf.set("spark.sql.codegen.wholeStage", (factory == "CODEGEN_ONLY").toString)
      try body(s"icu=$icu $factory")
      finally Seq("spark.sql.icu.caseMappings.enabled", "spark.sql.codegen.factoryMode",
        "spark.sql.codegen.wholeStage").foreach(spark.conf.unset)
    }

  /** Texts as raw UTF-8 bytes (cast to STRING unchecked, so invalid
    * sequences reach the kernels as they are). */
  private def textFrame(texts: Seq[Array[Byte]]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    texts.map(Option(_)).toDF("b").select(col("b").cast("string").as("t"))
  }

  private def utf8(s: String): Array[Byte] =
    if (s == null) null else s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  test("normText: native kernel equals the lower/regexp_replace/trim chain, both ICU settings") {
    val texts = Seq(
      "Hello, World! It's 2024...", "a\tb\t\tc", "a\u000Bb", "a\u001Cb\u001Fc",
      "x\r\n\r\ny\n", "  leading", "trailing \t ", "--x--y--", "\t\n x \r",
      "007 Agent 4d5 0x1F", "", "   ", "\t\u000B\f\r\n", null,
      "İstanbul İI", "Kelvin 5K", "Straße STRASSE",
      "ΟΔΟΣ ΣΟΦΟΣ σς",
      "emoji 😀 here👍x", "a😀b", "😀",
      "ÁB café CAFÉ", "ÀÉÎÕÜ MiXeD",
      " nbsp  em　ideo", "fullＡＢwidth",
      "ıIi dotless", "ﬁligature ǅ")
    val invalid = Seq(Array(0x41, 0xC3, 0x42), Array(0xE2, 0x82, 0x41, 0x62),
      Array(0xFF, 0x61, 0xFE), Array(0xF0, 0x9F, 0x98), Array(0x80, 0x5A, 0xBF),
      Array(0xC0, 0xAF, 0x31), Array(0xED, 0xA0, 0x80, 0x78))
      .map(_.map(_.toByte))
    val df = textFrame(texts.map(utf8) ++ invalid)
    underEveryMode { mode =>
      val rows = df.select(col("t"), TF.normText(col("t")).as("n"),
        expr(regexNormSql).as("r")).collect()
      assert(rows.length == texts.length + invalid.length)
      rows.foreach { r =>
        assert(r.getString(1) == r.getString(2),
          s"[$mode] input ${Option(r.getString(0)).map(_.map(_.toInt.toHexString))}")
      }
    }
  }

  test("normText kernels: shingles, tokens, positional and winnow outputs unchanged over a generated corpus") {
    import graft.functions.{NormText, PositionalShingleHashes, ShingleHashes, WinnowFingerprints}
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    // word soup over ASCII words, every separator class, case pairs and
    // non-ASCII letters that lower-case to ASCII ones
    val rnd = new scala.util.Random(20261018L)
    val pieces = Seq("the", "Dog", "RUN", "a1", "42", "x", "İs", "K9",
      "straße", "Σσ", "😀", "café", " ", "  ", "\t",
      "\n", "\r\n", "\u000B", "\u001C", ",", "'s", "--", " ", ".")
    val corpus = Seq.fill(600)(Seq.fill(rnd.nextInt(40))(
      pieces(rnd.nextInt(pieces.size))).mkString) ++ Seq("", " ", null)
    val df = textFrame(corpus.map(utf8)).union(
      docs.select(col("text").as("t")).limit(200))
    val raw = expression(col("t"))
    val old = expression(expr(regexNormSql))
    def pair(f: Expression => Expression, name: String) =
      Seq(column(f(NormText(raw))).as(s"${name}_new"), column(f(old)).as(s"${name}_old"))
    underEveryMode { mode =>
      val out = df.select(Seq(TF.tokens(col("t")).as("tok_new"),
          split(expr(regexNormSql), " ").as("tok_old")) ++
        pair(ShingleHashes(_, 3), "sh3") ++ pair(ShingleHashes(_, 1), "sh1") ++
        pair(PositionalShingleHashes(_, 4), "pos") ++
        pair(WinnowFingerprints(_, 4, 5), "win"): _*).collect()
      assert(out.length == corpus.length + 200)
      Seq("tok", "sh3", "sh1", "pos", "win").foreach { k =>
        out.foreach { r =>
          assert(r.getAs[Any](s"${k}_new") == r.getAs[Any](s"${k}_old"), s"[$mode] $k")
        }
      }
    }
  }

  test("shingleHashes: identical texts get identical sets; distinct order sorted") {
    val df = spark.range(2).select(lit("a b c d e").as("t"))
    val hs = df.select(TF.shingleHashes(col("t"), 3)).collect()
      .map(_.getSeq[Long](0))
    assert(hs(0) == hs(1))
    assert(hs(0).size == 3) // "a b c","b c d","c d e"
    assert(hs(0) == hs(0).sorted)
  }

  test("minhash signature: deterministic, k-length, permutation-invariant bound") {
    val one = spark.range(1)
    val sig = one.select(TF.minhashSignature(
      TF.shingleHashes(lit("the quick brown fox jumps over the lazy dog"), 3), 128))
      .collect()(0).getSeq[Long](0)
    assert(sig.length == 128)
    assert(sig.forall(v => v >= 0 && v < TF.MinhashPrime))
    // identical text ⇒ identical signature (cross-run determinism)
    val sig2 = one.select(TF.minhashSignature(
      TF.shingleHashes(lit("the quick brown fox jumps over the lazy dog"), 3), 128))
      .collect()(0).getSeq[Long](0)
    assert(sig == sig2)
  }

  test("mersenne folds: bit-identical to floorMod / % over the edge space") {
    // the division-free folds must agree with the reference reductions on
    // every sign/magnitude corner, or signatures silently change values
    val edges = Seq(0L, 1L, 3L, 4L, 5L, 2147483646L, 2147483647L,
      2147483648L, -1L, -2L, -4L, -5L, Long.MaxValue, Long.MinValue,
      Long.MinValue + 4L, TF.MinhashPrime, TF.MinhashPrime - 1,
      TF.MinhashPrime + 1)
    val rnd = new java.util.Random(7)
    val xs = edges ++ Seq.fill(200000)(rnd.nextLong())
    xs.foreach { x =>
      assert(TF.mersenneMod31(x) == java.lang.Math.floorMod(x, 2147483647L),
        s"mod31 mismatch at $x")
    }
    // mod61 domain is [0, 2^62): a*hh+b with a,b < 2^31, hh < 2^31
    val ys = Seq(0L, 1L, TF.MinhashPrime - 1, TF.MinhashPrime,
      TF.MinhashPrime + 1, (1L << 62) - 1) ++
      Seq.fill(200000)(rnd.nextLong() & ((1L << 62) - 1))
    ys.foreach { y =>
      assert(TF.mersenneMod61(y) == y % TF.MinhashPrime,
        s"mod61 mismatch at $y")
    }
  }

  test("minhash signature: codegen path matches the reference fold formula") {
    // reference = the pre-fold formula (floorMod + % P) over the same
    // coefficients and salts; the optimized expression must be bit-equal
    val k = 128
    val (a, b) = TF.minhashCoefficients(k)
    val salts = TF.minhashSalts(k)
    def refSig(hs: Seq[Long]): Seq[Long] =
      (0 until k).map { j =>
        val vals = hs.map { h =>
          val hh = java.lang.Math.floorMod(h ^ salts(j), 2147483647L)
          (a(j) * hh + b(j)) % TF.MinhashPrime
        }
        if (vals.isEmpty) TF.MinhashPrime else vals.min
      }
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "a b c d e f g", "one two three", "x")
    texts.foreach { t =>
      val hs = spark.range(1).select(TF.shingleHashes(lit(t), 3))
        .collect()(0).getSeq[Long](0)
      val got = spark.range(1)
        .select(TF.minhashSignature(TF.shingleHashes(lit(t), 3), k))
        .collect()(0).getSeq[Long](0)
      assert(got == refSig(hs), s"signature mismatch for '$t'")
    }
  }

  test("minhash estimates correlate with true jaccard") {
    val a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val b = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 xx yy"  // high overlap
    val c = "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12" // no overlap
    def sig(t: String) = spark.range(1)
      .select(TF.minhashSignature(TF.shingleHashes(lit(t), 3), 128))
      .collect()(0).getSeq[Long](0)
    val (sa, sb, sc) = (sig(a), sig(b), sig(c))
    def agree(x: Seq[Long], y: Seq[Long]) = x.zip(y).count { case (p, q) => p == q }
    assert(agree(sa, sb) > 40)  // true jaccard ≈ 7/13
    assert(agree(sa, sc) == 0)  // disjoint shingles
  }

  test("simhash: equal texts distance 0; near texts closer than far texts") {
    def sh(t: String) = spark.range(1)
      .select(TF.simhash64(transform(TF.tokens(lit(t)), x => xxhash64(x))))
      .collect()(0).getLong(0)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    assert(ham(sh(base), sh(base)) == 0)
    val near = ham(sh(base), sh("alpha beta gamma delta epsilon zeta eta iota"))
    val far = ham(sh(base), sh("one two three four five six seven eight"))
    assert(near < far)
  }

  test("langId picks the language with most stopword hits; und when none") {
    val rows = spark.createDataFrame(Seq(
      (1, "the cat and the dog was in the house"),
      (2, "el perro y la casa de los gatos"),
      (3, "der hund und die katze ist von dem haus"),
      (4, "qqq www zzz"))).toDF("id", "t")
      .select(col("id"), TF.langId(col("t")).as("lang"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(rows(1) == "en")
    assert(rows(2) == "es")
    assert(rows(3) == "de")
    assert(rows(4) == "und")
  }

  test("quality score: integer-scaled, 0..1000, empty text safe") {
    val out = spark.createDataFrame(Seq((1, ""), (2, "the cat and the dog was here")))
      .toDF("id", "t")
      .select(col("id"), TF.qualityScore(col("t")).as("q")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out.values.forall(q => q >= 0 && q <= 1000))
    assert(out(2) > out(1))
  }

  test("rolling hash: deterministic, differs on permuted content") {
    val out = spark.createDataFrame(Seq((1, "abc def"), (2, "abc def"), (3, "def abc")))
      .toDF("id", "t").select(TF.rollingHash(col("t"))).collect().map(_.getLong(0))
    assert(out(0) == out(1))
    assert(out(0) != out(2))
  }

  test("packingOffsets: two-pass distributed prefix sum equals sequential layout") {
    import graft.operators.TextAnalysis
    val out = TextAnalysis.packingOffsets(docs, "doc_id", "text", seqLen = 512L)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("offset"),
         r.getAs[Long]("chunk_start"), r.getAs[Long]("chunk_end"))).toMap
    val bpe = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]".r
    val local = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> bpe.findAllIn(r.getString(1)).length.toLong)
      .sortBy(_._1)
    var off = 0L
    local.foreach { case (id, n) =>
      val (gn, goff, cs, ce) = out(id)
      assert(gn == n, s"doc $id token count")
      assert(goff == off, s"doc $id offset")
      assert(cs == off / 512 && ce == (if (n > 0) (off + n - 1) / 512 else off / 512))
      off += n
    }
  }

  test("packShards: running-byte shard boundaries; docs never split") {
    import graft.operators.TextAnalysis
    val df = spark.createDataFrame(Seq(
      (1L, "a" * 10), (2L, "b" * 10), (3L, "c" * 10),
      (4L, "d" * 30), (5L, "e")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.packShards(df, "doc_id",
        octet_length(col("text")).cast("long"), shardBytes = 25L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // offsets 0,10,20,30,60: doc 3 overshoots shard 0 (size-targeted, not
    // hard-capped); the 30-byte doc 4 owns shard 1; doc 5 starts shard 2
    assert(out == Seq((1L, 10L, 0L, 0L), (2L, 10L, 10L, 0L),
      (3L, 10L, 20L, 0L), (4L, 30L, 30L, 1L), (5L, 1L, 60L, 2L)), out.toString)
  }

  test("perceptronEpochs: batch updates converge on a separable fixture; zero-error epochs freeze weights") {
    import graft.operators.TextAnalysis
    // 1-D separable: epoch 1 (zero weights, margin 0 = error) sums both
    // rows: d_bias = 1-1 = 0, d_x = 1*2 + (-1)*(-3) = 5 -> w = (0, 5);
    // epoch 2 classifies both correctly -> n_err 0, weights frozen
    val df = spark.createDataFrame(Seq((1L, 2L), (-1L, -3L))).toDF("y", "x")
    val out = TextAnalysis.perceptronEpochs(df, col("y"), Seq(col("x")),
        epochs = 2).orderBy("epoch").collect()
      .map(r => (r.getAs[Long]("epoch"), r.getAs[Long]("n_err"),
        r.getAs[Long]("w0"), r.getAs[Long]("w1"))).toSeq
    assert(out == Seq((1L, 2L, 0L, 5L), (2L, 0L, 0L, 5L)), s"got ${out.toList}")
  }

  test("windowLangid + codeSwitchReport: a bilingual document flags its minority-language windows") {
    import org.apache.spark.sql.Row
    // 75 English tokens then 75 German tokens, stopword-dense: the first
    // windows must read en, the last de, and the report must count the
    // German windows as minority against the doc-level en prediction
    val en = Seq.fill(15)("the cat and the dog sat on the mat at it").mkString(" ")
    val de = Seq.fill(15)("der hund und die katze ist auf dem dach im").mkString(" ")
    val bilingual = spark.createDataFrame(Seq((1L, s"$en $de"), (2L, en)))
      .toDF("doc_id", "text")
    val wl = TextAnalysis.windowLangid(bilingual, "doc_id", "text",
      windowTokens = 50, hopTokens = 25).collect()
    val doc1 = wl.filter(_.getAs[Long]("doc_id") == 1L)
      .sortBy(_.getAs[Long]("win_start"))
      .map(r => r.getAs[Long]("win_start") -> r.getAs[String]("lang_win"))
    assert(doc1.head._2 == "en", s"opening window not en: ${doc1.toSeq}")
    assert(doc1.last._2 == "de", s"closing window not de: ${doc1.toSeq}")
    assert(doc1.exists(_._2 == "de") && doc1.exists(_._2 == "en"))
    val rep = TextAnalysis.codeSwitchReport(bilingual, "doc_id", "text",
        windowTokens = 50, hopTokens = 25)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("doc_lang_pred"), r.getAs[Long]("n_minority"),
         r.getAs[Long]("minority_ppm"))).toMap
    assert(rep(2L)._2 == 0L && rep(2L)._3 == 0L, s"monolingual doc flagged: $rep")
    assert(rep(1L)._2 >= 2L, s"bilingual doc not flagged: $rep")
    assert(rep(1L)._3 > 0L && rep(1L)._3 < 1000000L)
    // window starts are the hop grid
    assert(doc1.map(_._1).toSeq == doc1.indices.map(_ * 25L).toSeq)
  }

  test("mlmMaskPlan: deterministic hash plan — 80/10/10 actions, seed independence, loud position guard") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet(sf("documents"))
    val plan1 = TextAnalysis.mlmMaskPlan(docs, "doc_id", "text")
      .orderBy("doc_id", "pos").collect().toSeq
    // pure function of (corpus, seed): bit-identical on rerun and under
    // a different input partitioning
    val plan2 = TextAnalysis.mlmMaskPlan(docs.repartition(7), "doc_id", "text")
      .orderBy("doc_id", "pos").collect().toSeq
    assert(plan1 == plan2, "mask plan depends on partitioning")
    assert(plan1.nonEmpty)
    // selection rate tracks maskPpm (15% +/- generous hash slack)
    val total = docs.select(explode(graft.functions.TextFunctions.tokens(col("text")))
      .as("t")).where(col("t") =!= "").count()
    val frac = plan1.size.toDouble / total
    assert(frac > 0.10 && frac < 0.20, s"selection fraction $frac")
    // action split is ~80/10/10 and rand_bucket is populated exactly for
    // 'random' rows, in [0, 1000)
    val byAct = plan1.groupBy(_.getAs[String]("action")).view.mapValues(_.size).toMap
    assert(byAct.keySet == Set("mask", "random", "keep"), byAct.toString)
    assert(byAct("mask") > 5 * byAct("random") && byAct("mask") > 5 * byAct("keep"),
      byAct.toString)
    assert(plan1.forall { r =>
      val rb = Option(r.getAs[java.lang.Long]("rand_bucket"))
      if (r.getAs[String]("action") == "random")
        rb.exists(b => b >= 0L && b < 1000L)
      else rb.isEmpty
    })
    // an independent seed re-masks: plans must differ
    val other = TextAnalysis.mlmMaskPlan(docs, "doc_id", "text", seed = 14L)
      .orderBy("doc_id", "pos").collect().toSeq
    assert(other != plan1, "different seeds must give independent plans")
    // a document longer than maxPositions fails loudly, never aliases
    import spark.implicits._
    val long = Seq((1L, (1 to 40).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val ex = intercept[Exception] {
      TextAnalysis.mlmMaskPlan(long, "doc_id", "text",
        maxPositions = 10L).collect()
    }
    assert(ex.getMessage.contains("maxPositions"), ex.getMessage)
  }

  test("featureHashing: signed buckets — duplicate docs identical, tf conservation, |weight| parity") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha beta gamma alpha"), // byte-identical twin
      (3L, "alpha alpha alpha"))      // one token tripled
      .toDF("doc_id", "text")
    val f = TextAnalysis.featureHashing(docs, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bucket")) ->
        (r.getAs[Long]("tf"), r.getAs[Long]("weight"))).toMap
    // identical text -> identical feature rows
    val d1 = f.collect { case ((1L, b), v) => b -> v }
    val d2 = f.collect { case ((2L, b), v) => b -> v }
    assert(d1 == d2 && d1.nonEmpty)
    // per-doc tf conserves the token count; weight parity matches tf and
    // |weight| <= tf (signs are ±1 per token)
    assert(d1.values.map(_._1).sum == 4L)
    f.foreach { case (_, (tf, w)) =>
      assert(math.abs(w) <= tf && ((tf - w) % 2 == 0), s"tf=$tf w=$w")
    }
    // a tripled token lands in one bucket with tf 3 and |weight| 3
    val d3 = f.collect { case ((3L, b), v) => b -> v }
    assert(d3.size == 1 && d3.values.head._1 == 3L &&
      math.abs(d3.values.head._2) == 3L, d3.toString)
  }

  test("spanCorruptionPlan: disjoint in-bounds spans, dense sentinels, ~5% starts, partition-invariant") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet(sf("documents"))
    val plan = TextAnalysis.spanCorruptionPlan(docs, "doc_id", "text")
      .orderBy("doc_id", "span_start").collect().toSeq
    assert(plan.nonEmpty)
    val nToks = docs.select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // within-bounds, non-empty, and per-doc: strictly separated spans
    // (merge guarantees a gap >= 1) with dense 0-based sentinel ordinals
    plan.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("span_start"))
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getAs[Long]("sentinel") == i.toLong, s"doc $id: $r")
        assert(r.getAs[Long]("span_start") < r.getAs[Long]("span_end"))
        assert(r.getAs[Long]("span_end") <= nToks(id), s"doc $id: $r")
        assert(r.getAs[Long]("span_len") ==
          r.getAs[Long]("span_end") - r.getAs[Long]("span_start"))
        assert(r.getAs[Long]("n_starts") >= 1L)
      }
      sorted.sliding(2).foreach {
        case Seq(a, b) =>
          assert(b.getAs[Long]("span_start") > a.getAs[Long]("span_end"),
            s"doc $id: spans touch or overlap: $a | $b")
        case _ =>
      }
    }
    // ~5% of token positions are selected starts
    val startFrac = plan.map(_.getAs[Long]("n_starts")).sum.toDouble /
      nToks.values.sum
    assert(startFrac > 0.03 && startFrac < 0.07, s"start fraction $startFrac")
    // pure function of (corpus, seed): partitioning cannot change the plan
    val again = TextAnalysis.spanCorruptionPlan(docs.repartition(7),
        "doc_id", "text")
      .orderBy("doc_id", "span_start").collect().toSeq
    assert(again == plan, "span plan depends on partitioning")
  }

  test("spanCorruptionApply: splicing targets back into sentinel slots reconstructs every document") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet(sf("documents"))
    val out = TextAnalysis.spanCorruptionApply(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("input_text"), r.getAs[String]("target_text"))).toMap
    val norm = docs.select(col("doc_id"),
        array_join(graft.functions.TextFunctions.tokens(col("text")), " ")
          .as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == norm.keySet)
    val sentinel = "<extra_id_(\\d+)>".r
    def spans(target: String): Map[Int, Seq[String]] = {
      var cur = -1
      val m = scala.collection.mutable.Map.empty[Int, Vector[String]]
      target.split(" ").foreach {
        case sentinel(k) => cur = k.toInt; m(cur) = Vector.empty
        case tok if cur >= 0 => m(cur) = m(cur) :+ tok
        case tok => fail(s"target starts without a sentinel: $tok")
      }
      m.toMap
    }
    var corrupted = 0
    out.foreach { case (id, (input, target)) =>
      val rebuilt =
        if (target.isEmpty) input
        else {
          corrupted += 1
          val sp = spans(target)
          input.split(" ").toSeq.flatMap {
            case sentinel(k) => sp(k.toInt)
            case tok => Seq(tok)
          }.mkString(" ")
        }
      assert(rebuilt == norm(id), s"doc $id does not round-trip")
    }
    // the plan corrupts a substantial share of documents at 5% starts
    assert(corrupted > out.size / 2, s"only $corrupted corrupted docs")
  }

  test("fimTransform: PSM reassembles to the original tokens; lengths partition n; rate and format hold") {
    val docs = spark.read.parquet(sf("documents")).select("doc_id", "text")
    val out = TextAnalysis.fimTransform(docs, "doc_id", "text",
      fimPpm = 500000L, seed = 47L).collect()
    assert(out.nonEmpty)
    val norm = docs.select(col("doc_id"), array_join(
        filter(graft.functions.TextFunctions.tokens(col("text")), t => t =!= ""),
        " ").as("nt"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    var nFim = 0
    out.foreach { r =>
      val (id, fim, n) = (r.getLong(0), r.getBoolean(1), r.getLong(2))
      val txt = r.getString(6)
      if (fim) {
        nFim += 1
        val (pre, mid, suf) = (r.getLong(3), r.getLong(4), r.getLong(5))
        assert(pre + mid + suf == n, s"doc $id: lengths do not partition n")
        // format: exactly the three sentinels, in PSM order
        val m = "^<fim_pre>( .*)? <fim_suf>( .*)? <fim_mid>( .*)?$".r
        assert(m.findFirstIn(txt).isDefined, s"doc $id: bad PSM format: $txt")
        // reconstruct: prefix ++ middle ++ suffix == normalized original
        val body = txt.split(" ").toSeq
        val iSuf = body.indexOf("<fim_suf>")
        val iMid = body.indexOf("<fim_mid>")
        val preT = body.slice(1, iSuf)
        val sufT = body.slice(iSuf + 1, iMid)
        val midT = body.drop(iMid + 1)
        assert(preT.size == pre && midT.size == mid && sufT.size == suf,
          s"doc $id: segment sizes diverge from the emitted lengths")
        assert((preT ++ midT ++ sufT).mkString(" ") == norm(id),
          s"doc $id: PSM does not reassemble to the original")
      } else {
        assert(txt == norm(id), s"doc $id: pass-through text diverged")
        assert(r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5))
      }
    }
    // selection is ~half the corpus at 500k ppm (binomial 3-sigma slack)
    val frac = nFim.toDouble / out.length
    assert(frac > 0.35 && frac < 0.65, s"fim fraction $frac out of band")
    // determinism: a repartitioned rerun emits the identical artifact
    val again = TextAnalysis.fimTransform(docs.repartition(7), "doc_id",
      "text", fimPpm = 500000L, seed = 47L).collect()
    assert(out.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("mlmMaskApply: positions mutate exactly per plan; random picks come from the vocabulary") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet(sf("documents"))
    val plan = TextAnalysis.mlmMaskPlan(docs, "doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos")) ->
        (r.getAs[String]("action"),
         Option(r.getAs[java.lang.Long]("rand_bucket")).map(_.toLong)))
      .toMap
    val applied = TextAnalysis.mlmMaskApply(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("mlm_text"), r.getAs[Long]("n_masked"),
         r.getAs[Long]("n_random"), r.getAs[Long]("n_kept"))).toMap
    val norm = docs.select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("tk"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[String](1).filter(_.nonEmpty)).toMap
    val vocab = TextAnalysis.buildVocab(docs, "text", 1000)
    applied.foreach { case (id, (text, nm, nr, nk)) =>
      val toks = norm(id)
      val out = text.split(" ").toSeq
      assert(out.length == toks.length, s"doc $id length drift")
      var (cm, cr, ck) = (0L, 0L, 0L)
      out.indices.foreach { i =>
        plan.get((id, i.toLong)) match {
          case Some(("mask", _)) =>
            assert(out(i) == "[MASK]", s"doc $id pos $i"); cm += 1
          case Some(("random", Some(rb))) =>
            assert(out(i) == vocab((rb % vocab.length).toInt),
              s"doc $id pos $i: wrong vocab pick"); cr += 1
          case Some(("keep", _)) =>
            assert(out(i) == toks(i), s"doc $id pos $i"); ck += 1
          case None =>
            assert(out(i) == toks(i), s"doc $id pos $i mutated off-plan")
          case other => fail(s"unexpected plan row $other")
        }
      }
      assert((cm, cr, ck) == ((nm, nr, nk)), s"doc $id counts")
    }
  }

  test("packApply: windows tile exactly; concatenation reproduces every doc's token+eos stream") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet(sf("documents"))
    val seqLen = 16L
    val rows = TextAnalysis.packApply(docs, "doc_id", "text", seqLen)
      .orderBy("window_id", "win_pos").collect()
      .map(r => (r.getAs[Long]("window_id"), r.getAs[Long]("win_pos"),
        r.getAs[Long]("doc_id"), r.getAs[String]("token")))
    // per window: slots are exactly 0..len-1; all but the last are full
    val byWin = rows.groupBy(_._1)
    val lastWin = byWin.keys.max
    byWin.foreach { case (w, rs) =>
      val slots = rs.map(_._2).sorted.toSeq
      assert(slots == (0L until rs.length.toLong), s"window $w slots: $slots")
      if (w != lastWin)
        assert(rs.length.toLong == seqLen, s"window $w not full: ${rs.length}")
    }
    // reading windows in (window, slot) order and grouping by doc gives
    // each doc's BPE-ish tokens followed by its <eos>
    val streams = rows.groupBy(_._3).view
      .mapValues(_.sortBy(r => (r._1, r._2)).map(_._4).toSeq).toMap
    val expected = docs.select(col("doc_id"),
        graft.functions.TextFunctions.bpeishTokens(coalesce(col("text"),
          lit(""))).as("bt"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[String](1) :+ "<eos>"))
      .toMap
    assert(streams.keySet == expected.keySet)
    streams.foreach { case (id, s) =>
      assert(s == expected(id), s"doc $id stream mismatch")
    }
  }

  test("tokenBudgetCut: quality-first admission, straddler included, id tie-break") {
    import graft.operators.TextAnalysis
    // rank order (q DESC, id ASC): 2(q900,n4) 3(q900,n3) 4(q500,n10) 1(q100,n5)
    // offsets 0, 4, 7, 17; budget 8 admits 2, 3 and the straddling 4
    val df = spark.createDataFrame(Seq(
      (1L, 100L, 5L), (2L, 900L, 4L), (3L, 900L, 3L), (4L, 500L, 10L)))
      .toDF("doc_id", "q", "n")
    val out = TextAnalysis.tokenBudgetCut(df, "doc_id", col("q"), col("n"),
        budget = 8L).orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("quality"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("offset")))).toMap
    assert(out == Map(2L -> ((900L, 4L, 0L)), 3L -> ((900L, 3L, 4L)),
      4L -> ((500L, 10L, 7L))), s"got $out")
    // partitioning-invariant (the prefix sum is keyed, not task-ordered)
    val again = TextAnalysis.tokenBudgetCut(df.repartition(7), "doc_id",
        col("q"), col("n"), budget = 8L)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val first = TextAnalysis.tokenBudgetCut(df.repartition(2), "doc_id",
        col("q"), col("n"), budget = 8L)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(again == first)
  }

  test("gopherFilter drops repetitive docs independent of the quality gate") {
    import graft.operators.TextAnalysis
    val df = spark.createDataFrame(Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today", "en", "web"),
      (2L, "spam spam spam spam spam spam spam spam", "en", "web")))
      .toDF("doc_id", "text", "lang", "source")
    // quality gate wide open (minScore 0, no lang set) — only the 2-gram
    // repetition caps decide: doc 2 is one gram repeated (dup_ppm = 1e6)
    val out = TextAnalysis.gopherFilter(df, "doc_id", "text",
        minScore = 0L, langs = Seq.empty,
        maxDupPpm = 500000L, maxTopPpm = 300000L, ns = Seq(2))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L), s"expected only the non-repetitive doc: $out")
  }

  test("tokenIds: frequency-ranked vocab, OOV to unk, frozen-vocab reuse") {
    import graft.operators.TextAnalysis
    val df = spark.createDataFrame(Seq(
      (1L, "the cat sat"), (2L, "the cat ran"), (3L, "the dog sat")))
      .toDF("doc_id", "text")
    // counts: the=3, cat=2, sat=2, dog=1, ran=1 → vocab (V=4, count desc,
    // token asc): the=0, cat=1, sat=2, dog=3; ran is OOV → 4
    val out = TextAnalysis.tokenIds(df, "doc_id", "text", vocabSize = 4)
      .orderBy("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(out == Seq(
      (1L, 0, 0), (1L, 1, 1), (1L, 2, 2),
      (2L, 0, 0), (2L, 1, 1), (2L, 2, 4),
      (3L, 0, 0), (3L, 1, 3), (3L, 2, 2)), out.toString)
    // a frozen vocab must be honored verbatim (incremental-batch contract)
    val frozen = TextAnalysis.tokenIds(df.where(col("doc_id") === 2),
        "doc_id", "text", vocabSize = 4, vocab = Some(Array("ran", "cat")))
      .orderBy("pos").collect().map(_.getInt(2)).toSeq
    assert(frozen == Seq(4, 1, 0), frozen.toString)
  }

  test("contamination: duplicated benchmark doc = 1.0, unrelated = 0.0") {
    import graft.operators.TextAnalysis
    val corpus = spark.createDataFrame(Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "one two three four five six seven"))).toDF("doc_id", "text")
    val bench = spark.createDataFrame(Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // fully contained
      (2L, "totally unrelated benchmark content here"),
      (3L, "five six seven and then novel tail words"))).toDF("doc_id", "text")
    val out = TextAnalysis.contamination(corpus, "text", bench, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("bench_id") ->
        (r.getAs[Long]("n_hits"), r.getAs[Double]("contamination"))).toMap
    assert(out(1L)._2 == 1.0)
    assert(out(2L) == (0L, 0.0))
    assert(out(3L)._1 >= 1 && out(3L)._2 < 1.0) // shares the "five six seven" shingle
  }

  test("tfidfTopK: corpus-wide terms rank below document-specific terms") {
    import graft.operators.TextAnalysis
    // "common" appears in every doc (idf = 1); each doc has a distinctive
    // term repeated twice (tf=2, df=1 → score 2*N) and a unique singleton
    val docs = spark.createDataFrame(Seq(
      (1L, "common apple apple pear"),
      (2L, "common banana banana kiwi"),
      (3L, "common cherry cherry plum"))).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopK(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rank")) ->
        (r.getAs[String]("term"), r.getAs[Long]("tf"), r.getAs[Long]("df_docs")))
      .toMap
    // rank 1 everywhere: the doubled distinctive term, tf=2 df=1 score=6.0
    assert(out((1L, 1L)) == ("apple", 2L, 1L))
    assert(out((2L, 1L)) == ("banana", 2L, 1L))
    assert(out((3L, 1L)) == ("cherry", 2L, 1L))
    // rank 2: the unique singleton (score 3.0) beats "common" (score 1.0)
    assert(out((1L, 2L))._1 == "pear")
    assert(out((2L, 2L))._1 == "kiwi")
    assert(out((3L, 2L))._1 == "plum")
  }

  test("lengthDistributionApprox: sketch median sits within its rank bound") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextAnalysis.lengthDistributionApprox(docs, "text", 100, "lang")
      .collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getAs[Boolean]("approx_ok"),
      s"sketch violated its n/accuracy rank bound for ${r.getAs[String]("lang")}"))
    intercept[IllegalArgumentException](
      TextAnalysis.lengthDistributionApprox(docs, "text", 0, "lang"))
  }

  test("lengthDistributionApprox: heavily tied lengths don't fake a bound violation") {
    import graft.operators.TextAnalysis
    // 999 of 1000 docs share one length — count(<= median) is ~n, far past
    // any n/accuracy band; the RANK-INTERVAL check (the element's ranks
    // (count(<), count(<=)] must touch n/2 ± n/accuracy) stays true
    val rows = (1 to 999).map(i => (i.toLong, "x" * 50, "en")) :+
               (1000L, "x" * 500, "en")
    val docs = spark.createDataFrame(rows).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.lengthDistributionApprox(docs, "text", 100, "lang")
      .collect()
    assert(out.length == 1)
    assert(out.head.getAs[Boolean]("approx_ok"),
      "a correct sketch must not fail the bound just because the median value is tied")
    assert(out.head.getAs[Double]("chars_p50_exact") == 50.0)
  }

  test("commonnessReport: hand-computed corpus frequencies and hapax counts") {
    import graft.operators.TextAnalysis
    // corpus counts: the=3, cat=2, sat=1, dog=1, ran=1
    val docs = spark.createDataFrame(Seq(
      (1L, "the cat sat"),
      (2L, "the the cat"),
      (3L, "dog ran"))).toDF("doc_id", "text")
    val out = TextAnalysis.commonnessReport(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("sum_freq"),
         r.getAs[Long]("n_hapax"), r.getAs[Double]("mean_freq"))).toMap
    assert(out(1L) == (3L, 6L, 1L, 2.0))        // the(3)+cat(2)+sat(1)
    assert(out(2L) == (3L, 8L, 0L, 8.0 / 3.0))  // the(3)+the(3)+cat(2)
    assert(out(3L) == (2L, 2L, 2L, 1.0))        // dog(1)+ran(1), both hapax
  }

  test("redact replaces emails, IPs, phone numbers with typed placeholders") {
    import graft.operators.TextAnalysis
    val df = spark.createDataFrame(Seq(
      (1L, "mail me at john.doe+x@example.co.uk or call +1 555 123 4567"),
      (2L, "server 10.0.42.7 responded"),
      (3L, "clean text stays identical"))).toDF("id", "text")
    val out = TextAnalysis.redact(df, "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L).contains("<EMAIL>") && !out(1L).contains("example"))
    assert(out(1L).contains("<PHONE>"))
    assert(out(2L) == "server <IP> responded")
    assert(out(3L) == "clean text stays identical")
  }

  test("vocabularyReport: exact distinct matches driver-side; HLL inside error bound") {
    import graft.operators.TextAnalysis
    val out = TextAnalysis.vocabularyReport(docs, "text", 0.05, "lang")
      .collect().map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_distinct_tokens"), r.getAs[Long]("n_distinct_approx"),
         r.getAs[Long]("n_token_occurrences"))).toMap
    // driver-side exact reference
    val local = docs.select("lang", "text").collect()
      .map(r => r.getString(0) -> r.getString(1).toLowerCase
        .replaceAll("[^a-z0-9\\s]", " ").replaceAll("\\s+", " ").trim
        .split(" ", -1).toSeq.filter(_.nonEmpty))
      .groupBy(_._1)
    local.foreach { case (lang, rows) =>
      val toks = rows.flatMap(_._2)
      val (exact, approx, occ) = out(lang)
      assert(exact == toks.distinct.size.toLong, s"$lang exact")
      assert(occ == toks.size.toLong, s"$lang occurrences")
      assert(math.abs(approx - exact).toDouble / exact <= 0.15,
        s"$lang sketch error |$approx - $exact|")
    }
  }

  test("repetitionReport: hand-computed dup/top fractions; short docs zero-fill") {
    import org.apache.spark.sql.functions.col
    // doc 1 "a b a b a": bigrams (a b, b a, a b, b a) → total 4, all
    // duplicated, top count 2; trigrams (a b a, b a b, a b a) → total 3,
    // dup occurrences 2, top 2. doc 2 has one token → zero rows for both n.
    val docs = spark.createDataFrame(Seq(
      (1L, "a b a b a"), (2L, "solo"))).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionReport(docs, "doc_id", "text", ns = Seq(2, 3))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("n")) ->
        (r.getAs[Long]("total_ngrams"), r.getAs[Long]("dup_ppm"),
         r.getAs[Long]("top_ppm"))).toMap
    assert(out((1L, 2)) == ((4L, 1000000L, 500000L)))
    assert(out((1L, 3)) == ((3L, 666666L, 666666L)))
    assert(out((2L, 2)) == ((0L, 0L, 0L)))
    assert(out((2L, 3)) == ((0L, 0L, 0L)))
    assert(out.size == 4, "one row per (doc, n)")
  }

  test("winnowFingerprints: independent replay, window coverage, SQL parity") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet(sf("documents")).limit(50)
    val out = TextAnalysis.winnowFingerprints(docs, "doc_id", "text",
        n = 4, window = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // independent replay in plain Scala: normalize, 4-gram hash, winnow
    def xxh(s: String): Long = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    }
    val expected = docs.select("doc_id", "text").collect().flatMap { r =>
      val id = r.getLong(0)
      val tk = r.getString(1).toLowerCase
        .replaceAll("[^a-z0-9\\s]", " ").replaceAll("\\s+", " ").trim.split(" ")
      if (tk.length < 4) Seq.empty
      else {
        val hs = (0 to tk.length - 4).map(i => xxh(tk.slice(i, i + 4).mkString(" "))).toArray
        val k = hs.length
        val ww = math.min(8, k)
        var last = -1
        (0 to k - ww).flatMap { t0 =>
          var best = t0
          ((t0 + 1) until (t0 + ww)).foreach(i => if (hs(i) <= hs(best)) best = i)
          if (best != last) { last = best; Some((id, best.toLong, hs(best))) }
          else None
        }
      }
    }
    assert(out.sorted.toSeq == expected.sorted.toSeq)
    assert(out.nonEmpty)
    // coverage guarantee: every w-window of every doc contains a selection
    val byDoc = out.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    docs.select("doc_id", "text").collect().foreach { r =>
      val tk = r.getString(1).toLowerCase
        .replaceAll("[^a-z0-9\\s]", " ").replaceAll("\\s+", " ").trim.split(" ")
      val k = math.max(0, tk.length - 3)
      if (k > 0) {
        val ww = math.min(8, k)
        val sel = byDoc(r.getLong(0))
        (0 to k - ww).foreach(t0 => assert(
          sel.exists(p => p >= t0 && p < t0 + ww),
          s"doc ${r.getLong(0)} window $t0 has no fingerprint"))
      }
    }
    // SQL surface parity: graft_winnow through spark.sql ≡ the DataFrame op
    graft.functions.GraftFunctionRegistry.ensureRegistered(spark)
    docs.createOrReplaceTempView("winnow_docs")
    val viaSql = spark.sql("""
      SELECT doc_id, CAST(fp.pos AS BIGINT) AS pos, fp.hash AS hash FROM (
        SELECT doc_id, explode(graft_winnow(
          trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' '), '\\s+', ' ')),
          4, 8)) AS fp
        FROM winnow_docs)""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(viaSql.sorted.toSeq == out.sorted.toSeq)
  }

  test("classifierScore: hand-replayed hash buckets; empty text scores the bias") {
    import graft.operators.TextAnalysis
    val w = TextAnalysis.fixedClassifierWeights(64)
    assert(w.length == 64 && w.forall(x => x >= -99 && x <= 99))
    assert(w.sameElements(TextAnalysis.fixedClassifierWeights(64)),
      "weights must be deterministic in (dim, seed)")
    val docs = spark.createDataFrame(Seq(
      (1L, "alpha beta alpha"), (2L, ""), (3L, "!!!"),
      (4L, null.asInstanceOf[String]))).toDF("doc_id", "text")
    val out = TextAnalysis.classifierScore(docs, "doc_id", "text", w, bias = 5L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("score"),
         r.getAs[String]("label"))).toMap
    // replay the bucketing independently with the catalyst XXH64 kernel
    def bucket(tok: String): Int = {
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        tok.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, tok.length, 42L)
      java.lang.Math.floorMod(h, 64L).toInt
    }
    val exp1 = 5L + w(bucket("alpha")) * 2 + w(bucket("beta"))
    assert(out(1L) == ((3L, exp1, if (exp1 >= 0) "keep" else "drop")))
    // empty, punctuation-only, and NULL text all score exactly the bias
    // (NULL must match the oracle's LEFT-JOIN zero-fill, not null out)
    assert(out(2L) == ((0L, 5L, "keep")))
    assert(out(3L) == ((0L, 5L, "keep")))
    assert(out(4L) == ((0L, 5L, "keep")))
    intercept[IllegalArgumentException](
      TextAnalysis.classifierScore(docs, "doc_id", "text", Array.empty[Long]))
  }

  test("lmScore: hand-computed MLE ppm rates; short docs zero-fill") {
    import graft.operators.TextAnalysis
    // corpus bigrams: "a b" ×2 (docs 1, 2), "b a" ×1, "a c" ×1 →
    // c(a·)=3, c(b·)=1: ppm(a b)=666666, ppm(b a)=1000000, ppm(a c)=333333
    val docs = spark.createDataFrame(Seq(
      (1L, "a b a c"), (2L, "a b"), (3L, "solo"))).toDF("doc_id", "text")
    val out = TextAnalysis.lmScore(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("sum_ppm"),
         r.getAs[Long]("avg_ppm"), r.getAs[Long]("min_ppm"))).toMap
    // doc 1: bigrams (a b, b a, a c) → 666666 + 1000000 + 333333
    assert(out(1L) == ((3L, 1999999L, 666666L, 333333L)))
    assert(out(2L) == ((1L, 666666L, 666666L, 666666L)))
    assert(out(3L) == ((0L, 0L, 0L, 0L)), "single-token doc must zero-fill")
    assert(out.size == 3)
  }

  test("kneserNeyScore: hand-computed discount + continuation ppm; seen mass sums to 1M with the unseen backoff") {
    import graft.operators.TextAnalysis
    // same corpus as the lmScore test: c(a,b)=2, c(b,a)=1, c(a,c)=1, Nbi=3
    // context a: c1=3, N1+(a·)=2; context b: c1=1, N1+(b·)=1
    // continuation: N1+(·b)=N1+(·a)=N1+(·c)=1
    // ppm(a,b) = 1e6·((4·2−3)·3 + 3·2·1)/(4·3·3) = 1e6·21/36 = 583333
    // ppm(b,a) = 1e6·(3+3)/12 = 500000;  ppm(a,c) = 1e6·(3+6)/36 = 250000
    // sanity: p(b|a)+p(c|a)+λ(a)p_cont(a) = 21/36 + 9/36 + (3/4·2/3)(1/3) = 1
    val docs = spark.createDataFrame(Seq(
      (1L, "a b a c"), (2L, "a b"), (3L, "solo"))).toDF("doc_id", "text")
    val out = TextAnalysis.kneserNeyScore(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("sum_ppm"),
         r.getAs[Long]("avg_ppm"), r.getAs[Long]("min_ppm"))).toMap
    assert(out(1L) == ((3L, 1333333L, 444444L, 250000L)), s"got ${out(1L)}")
    assert(out(2L) == ((1L, 583333L, 583333L, 583333L)), s"got ${out(2L)}")
    assert(out(3L) == ((0L, 0L, 0L, 0L)), "single-token doc must zero-fill")
  }

  test("perplexityBuckets: equal tiles per group, rank-consistent labels") {
    import graft.operators.TextAnalysis
    val out = TextAnalysis.perplexityBuckets(docs, "doc_id", "text", "lang",
        buckets = 3)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("avg_ppm"), r.getAs[Long]("bucket"),
        r.getAs[String]("bucket_label")))
    assert(out.length == docs.count(), "every document must be bucketed")
    out.groupBy(_._2).foreach { case (lang, rows) =>
      // ntile contract: tile sizes differ by <= 1 and the first (n mod k)
      // tiles carry the extra row
      val sizes = rows.groupBy(_._4).view.mapValues(_.length).toMap
      val n = rows.length
      (1L to 3L).foreach { b =>
        val expected = n / 3 + (if (b <= n % 3) 1 else 0)
        assert(sizes.getOrElse(b, 0) == expected,
          s"$lang bucket $b: ${sizes.getOrElse(b, 0)} != $expected")
      }
      // buckets are contiguous ranges of the (avg_ppm DESC, id ASC) order:
      // a better-fit bucket's worst score never drops below the next one's best
      (1L to 2L).foreach { b =>
        val cur = rows.filter(_._4 == b).map(_._3)
        val next = rows.filter(_._4 == b + 1).map(_._3)
        if (cur.nonEmpty && next.nonEmpty)
          assert(cur.min >= next.max, s"$lang bucket $b not rank-contiguous")
      }
      rows.foreach { case (_, _, _, b, label) =>
        val want = if (b == 1L) "head" else if (b == 3L) "tail" else "middle"
        assert(label == want, s"bucket $b labeled $label")
      }
    }
  }

  test("packManifest: segments tile windows and documents exactly") {
    import graft.operators.TextAnalysis
    // hand case first: seqLen 3, EOS-inclusive sizes 4, 3, and 1 (a NULL
    // text packs like empty text — exactly one EOS slot, never dropped)
    val small = spark.createDataFrame(Seq(
        (1L, "a b c"), (2L, "d e"), (3L, null.asInstanceOf[String])))
      .toDF("doc_id", "text")
    val got = TextAnalysis.packManifest(small, "doc_id", "text", seqLen = 3L)
      .orderBy("doc_id", "window_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == Seq(
      (1L, 0L, 0L, 0L, 3L), (1L, 1L, 0L, 3L, 1L),
      (2L, 1L, 1L, 0L, 2L), (2L, 2L, 0L, 2L, 1L),
      (3L, 2L, 1L, 0L, 1L)), got.toString)

    // corpus-level tiling invariants at seqLen 512
    val segs = TextAnalysis.packManifest(docs, "doc_id", "text", seqLen = 512L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("window_id"),
        r.getAs[Long]("win_tok_start"), r.getAs[Long]("doc_tok_start"),
        r.getAs[Long]("seg_len")))
    segs.foreach { case (_, _, ws, ds, len) =>
      assert(len >= 1 && ws >= 0 && ds >= 0)
    }
    // per document: segments tile [0, n_tokens_with_eos) contiguously
    val bpe = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]".r
    val localN = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> (bpe.findAllIn(r.getString(1)).length + 1L)).toMap
    segs.groupBy(_._1).foreach { case (id, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._5).sum == localN(id), s"doc $id segment sum")
      sorted.foldLeft(0L) { case (expect, (_, _, _, ds, len)) =>
        assert(ds == expect, s"doc $id segment gap at $ds"); ds + len
      }
    }
    // per window: segments tile [0, seqLen) exactly (last window may be short)
    val lastWindow = segs.map(_._2).max
    segs.groupBy(_._2).foreach { case (w, rows) =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.head._3 == 0L, s"window $w doesn't start at slot 0")
      sorted.foldLeft(0L) { case (expect, (_, _, ws, _, len)) =>
        assert(ws == expect, s"window $w slot gap at $ws"); ws + len
      }
      if (w != lastWindow)
        assert(sorted.map(_._5).sum == 512L, s"window $w not full")
    }
    // global conservation: every EOS-terminated token placed exactly once
    assert(segs.map(_._5).sum == localN.values.sum)
  }

  test("chunkManifest: coverage, overlap, no suffix-subset tail") {
    import graft.operators.TextAnalysis
    // hand case: 5 tokens, chunk 3 / stride 2 → [0,3) and [2,5); the
    // would-be start 4 is suppressed (start 2 already reached the end)
    val small = spark.createDataFrame(Seq(
        (1L, "a b c d e"), (2L, "a b c"), (3L, null.asInstanceOf[String])))
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunkManifest(small, "doc_id", "text", 3, 2)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).toSeq
    assert(got == Seq(
      (1L, 0L, 0L, 3L, 3L, "a b c"), (1L, 1L, 2L, 5L, 3L, "c d e"),
      (2L, 0L, 0L, 3L, 3L, "a b c"),
      (3L, 0L, 0L, 1L, 1L, "")), got.toString)

    // corpus invariants at chunk 16 / stride 8
    val toks = docs.select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("tk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val chunks = TextAnalysis.chunkManifest(docs, "doc_id", "text", 16, 8)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
        r.getAs[Long]("tok_start"), r.getAs[Long]("tok_end"),
        r.getAs[Long]("n_toks"), r.getAs[String]("chunk_text")))
    chunks.groupBy(_._1).foreach { case (id, rows) =>
      val sorted = rows.sortBy(_._2)
      val n = toks(id).size.toLong
      // dense chunk ids, stride-spaced starts, bounded widths
      assert(sorted.map(_._2).toSeq == sorted.indices.map(_.toLong))
      sorted.foreach { case (_, ci, s, e, len, text) =>
        assert(s == ci * 8, s"doc $id chunk $ci start $s")
        assert(e == math.min(s + 16, n) && len == e - s && len >= 1)
        assert(text == toks(id).slice(s.toInt, e.toInt).mkString(" "))
      }
      // coverage: the last chunk reaches the end, and no chunk is emitted
      // once the end was reached
      assert(sorted.last._4 == n, s"doc $id last chunk ends ${sorted.last._4}")
      sorted.dropRight(1).foreach { case (_, _, _, e, _, _) =>
        assert(e < n, s"doc $id has a redundant chunk ending at $e")
      }
    }
    assert(chunks.map(_._1).toSet == toks.keySet)
  }

  test("curation pipeline composition: filter ⊆, dedup distinct, cap bound") {
    import graft.operators.TextAnalysis
    // the pipeline under test is a black box; the kept set it must stay
    // inside is recomputed by an INDEPENDENT gopherFilter execution
    val keptIds = TextAnalysis.gopherFilter(docs, "doc_id", "text",
        minScore = 450L, langs = Seq("en", "fr"),
        maxDupPpm = 120000L, maxTopPpm = 60000L, ns = Seq(2))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val out = TextAnalysis.curationPipeline(docs, "doc_id", "text",
        groupCol = "source", sizeCol = "n_chars",
        minScore = 450L, langs = Seq("en", "fr"),
        maxDupPpm = 120000L, maxTopPpm = 60000L, maxPerGroup = 25)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.nonEmpty, "pipeline must keep something on the spec corpus")
    assert(out.forall(r => keptIds.contains(r._1)),
      "cap/dedup must never resurrect a filtered doc")
    out.groupBy(_._2).foreach { case (src, rows) =>
      assert(rows.length <= 25, s"source $src over cap: ${rows.length}")
    }
    // survivors carry pairwise-distinct normalized text
    val outIds = out.map(_._1).toSet
    val norms = docs.where(col("doc_id").isin(outIds.toSeq: _*))
      .select(graft.functions.TextFunctions.normText(col("text")))
      .collect().map(_.getString(0))
    assert(norms.distinct.length == norms.length,
      "two pipeline survivors share normalized text")
  }

  test("curationReport: stage counts monotone per source and consistent with the pipeline") {
    import graft.operators.TextAnalysis
    val rep = TextAnalysis.curationReport(docs, "doc_id", "text",
        groupCol = "source", sizeCol = "n_chars",
        minScore = 450L, langs = Seq("en", "fr"),
        maxDupPpm = 120000L, maxTopPpm = 60000L, maxPerGroup = 25)
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("stage"),
                 r.getAs[Long]("docs"), r.getAs[Double]("retained_frac")))
    assert(rep.nonEmpty)
    rep.groupBy(_._1).foreach { case (src, rows) =>
      val byStage = rows.map(r => r._2 -> r._3).toMap
      // counts can only shrink down the pipeline; missing stage = zero
      val seq = (1 to 4).map(byStage.getOrElse(_, 0L))
      assert(seq.zip(seq.tail).forall { case (a, b) => a >= b },
        s"$src stage counts not monotone: $seq")
      assert(seq(3) <= 25, s"$src cap stage over maxPerGroup: ${seq(3)}")
    }
    // the cap stage must agree with the pipeline's own survivor count
    val pipeTotal = TextAnalysis.curationPipeline(docs, "doc_id", "text",
        groupCol = "source", sizeCol = "n_chars",
        minScore = 450L, langs = Seq("en", "fr"),
        maxDupPpm = 120000L, maxTopPpm = 60000L, maxPerGroup = 25).count()
    assert(rep.filter(_._2 == 4).map(_._3).sum == pipeTotal,
      "report cap stage disagrees with the pipeline output")
    // retained_frac is docs / raw
    rep.groupBy(_._1).foreach { case (_, rows) =>
      val raw = rows.find(_._2 == 1).get._3.toDouble
      rows.foreach(r => assert(r._4 == r._3 / raw))
    }
  }

  test("decontaminateReport: bloom prefilter exact vs driver reference; prunes clean shingles") {
    import graft.operators.TextAnalysis
    import graft.functions.{TextFunctions => TF}
    val bench = docs.where(col("doc_id") < 20)
    // plant one guaranteed-contaminated doc: a verbatim copy of a bench doc
    val planted = bench.limit(1)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val corpus = docs.where(col("doc_id") >= 20)
      .select("doc_id", "text").union(planted)
    val out = TextAnalysis.decontaminateReport(corpus, "doc_id", "text",
        bench, "text", shingleN = 3,
        estimatedBenchShingles = 20000L, numBits = 160000L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_shingles"), r.getAs[Long]("n_hits"),
          r.getAs[Boolean]("contaminated")))).toMap
    // independent exact reference: shingle sets intersected driver-side
    val bset = bench.select(explode(TF.shingleHashes(col("text"), 3)).as("h"))
      .collect().map(_.getLong(0)).toSet
    val chs = corpus.select(col("doc_id"),
        TF.shingleHashes(col("text"), 3).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    assert(out.size == chs.length, "one report row per corpus doc")
    chs.foreach { case (id, hs) =>
      val hits = hs.count(bset.contains).toLong
      assert(out(id) == ((hs.length.toLong, hits, hits > 0L)), s"doc $id")
    }
    val plantedId = planted.head.getLong(0)
    assert(out(plantedId)._3 && out(plantedId)._2 == out(plantedId)._1,
      "the planted bench copy must report full contamination")
    // the sketch's perf contract: no false negatives (bench shingles all
    // pass) and clean shingles mostly pruned (fpp-bounded, 8 bits/element)
    val bloom = TextAnalysis.shingleBloom(
      bench.select(explode(TF.shingleHashes(col("text"), 3)).as("h")).distinct(),
      "h", 20000L, 160000L).get
    val cleanHashes = chs.flatMap(_._2).distinct.filterNot(bset.contains)
    val probe = spark.createDataFrame(
        cleanHashes.map(Tuple1(_)).toSeq :+ Tuple1(bset.head)).toDF("h")
    val passed = probe
      .where(TextAnalysis.bloomMightContain(bloom, col("h")))
      .collect().map(_.getLong(0)).toSet
    assert(passed.contains(bset.head), "bloom must never reject a member")
    val fpRate = cleanHashes.count(passed.contains).toDouble / cleanHashes.length
    assert(fpRate < 0.10, f"bloom should prune clean shingles, fp rate $fpRate%.3f")
  }

  test("incrementalSurvivors: existing always wins; keep-first within batch") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"alt$i").mkString(" ")
    val third = (1 to 40).map(i => s"new$i").mkString(" ")
    val existing = spark.createDataFrame(Seq((100L, base))).toDF("doc_id", "text")
    val incoming = spark.createDataFrame(Seq(
      (10L, base + " tail1 tail2"),   // near-dup of EXISTING 100 (larger id!) → dropped
      (11L, other),                   // novel → kept
      (12L, other + " x y"),          // near-dup of incoming 11 (smaller id) → dropped
      (13L, third)                    // novel → kept
    )).toDF("doc_id", "text")
    val kept = Dedup.incrementalSurvivors(incoming, existing, "doc_id", "text",
        shingleN = 3, threshold = 0.5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(11L, 13L),
      s"expected existing-wins + keep-first semantics, got $kept")
  }

  test("bpe merges: hand-traced Sennrich-style corpus, ties break on pair order") {
    // words: low×3, lower×2, newest×4, widest×1. Traced: (w,e) wins at 6;
    // then (l,o) ties (s,t) at 5 and wins on left ASC; then (s,t) at 5.
    val docs = spark.createDataFrame(Seq(
      (1L, "low low low lower lower"),
      (2L, "newest newest newest newest widest"))).toDF("doc_id", "text")
    val m = TextAnalysis.bpeMerges(docs, "text", numMerges = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.toSeq == Seq((1, "w", "e", 6L), (2, "l", "o", 5L), (3, "s", "t", 5L)))
  }

  test("bpe merges: (a,a) runs merge greedily left-to-right; trainer stops when exhausted") {
    // 'aaaa'×3: 3 overlapping (a,a) pairs per word → weight 9; greedy takes
    // positions 1 and 3 → [aa, aa]; next iteration merges (aa, aa) at 3;
    // then no pairs remain — 5 requested merges must yield exactly 2
    val runs = spark.createDataFrame(Seq((1L, "aaaa aaaa aaaa"))).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(runs, "text", numMerges = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq((1, "a", "a", 9L), (2, "aa", "aa", 3L)))
  }

  test("bpe merges: driver-local and distributed paths are bit-identical") {
    // the default path collects the word-frequency table and trains
    // driver-local; maxDriverWords = 0 forces the distributed
    // per-iteration loop — both must produce the SAME merge table
    // (rank, left, right, weight), including the tie-breaks
    val docs = spark.read.parquet(sf("documents"))
    val local = TextAnalysis.bpeMerges(docs, "text", numMerges = 12)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    val dist = TextAnalysis.bpeMerges(docs, "text", numMerges = 12,
        maxDriverWords = 0L)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(local.toSeq == dist.toSeq,
      s"local/distributed merge tables diverge:\n${local.toSeq}\nvs\n${dist.toSeq}")
  }

  test("bpe at production vocab: >=512 merges train and encode in bounded time; one projection") {
    // a corpus with enough pair diversity to sustain 512 distinct merges:
    // 320 distinct 12-char pseudo-random words (deterministic LCG), each
    // appearing a distinct number of times so argmax ties stay rare
    val rnd = new java.util.Random(42)
    val words = (0 until 320).map { i =>
      val sb = new StringBuilder
      (0 until 12).foreach(_ => sb.append(('a' + rnd.nextInt(26)).toChar))
      sb.toString
    }
    // parquet round-trip: a LocalRelation corpus would constant-fold the
    // whole encode into a LocalTableScan and there'd be no plan to pin
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe-512").toString
    spark.createDataFrame(
      words.zipWithIndex.map { case (w, i) =>
        (i.toLong, (w + " ") * (1 + i % 7)) }).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val t0 = System.nanoTime()
    val merges = TextAnalysis.bpeMerges(docs, "text", numMerges = 512)
    val n = merges.count()
    assert(n >= 512L, s"corpus exhausted at $n merges — widen the fixture")
    val enc = TextAnalysis.bpeEncode(docs, "doc_id", "text", numMerges = 512)
    val rows = enc.collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(rows.length == 320)
    // at 512 merges over a 320-word vocabulary most words fully merge
    assert(rows.forall(_.getAs[Long]("n_tokens_bpe") >= 1L))
    assert(secs < 120.0, s"512-merge train+encode took ${secs}s — scale shape broken")
    // the production-vocab plan pin: encoding is ONE native projection —
    // no per-merge replace chain, no exchange, no join
    val plan = enc.queryExecution.executedPlan.toString
    assert(plan.contains("bpe_apply"), s"native encoder missing from plan:\n${plan.take(800)}")
    // (?<!regexp_) — normText's regexp_replace is fine; a bare replace(
    // would mean the per-merge chain is back
    assert(!java.util.regex.Pattern.compile("(?<!regexp_)replace\\(")
      .matcher(plan).find(),
      "encode plan still contains a per-merge replace chain")
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"encode must be a pure scan-bound projection:\n${plan.take(800)}")
  }

  test("bpe encode: hand-traced encoding; token count bounded below by words") {
    // same Sennrich corpus as the merges test: merges (w,e), (l,o), (s,t).
    // 'lowest' -> chars l o w e s t -> (w,e): l o we s t -> (l,o): lo we s t
    // -> (s,t): lo we st => 3 tokens
    val docs = spark.createDataFrame(Seq(
      (1L, "low low low lower lower"),
      (2L, "newest newest newest newest widest"),
      (3L, "lowest"))).toDF("doc_id", "text")
    val enc = TextAnalysis.bpeEncode(docs, "doc_id", "text", numMerges = 3)
      .orderBy("doc_id").collect()
    val d3 = enc.find(_.getLong(0) == 3L).get
    assert(d3.getAs[Long]("n_tokens_bpe") == 3L, s"lowest mis-encoded: $d3")
    // bounded on the real corpus: merges only ever REDUCE a word's symbol
    // count toward 1, so the doc token count can never drop below the word
    // count (losslessness itself is pinned cross-engine by the enc_md5
    // oracle column)
    val real = spark.read.parquet(sf("documents"))
    val r = TextAnalysis.bpeEncode(real, "doc_id", "text", numMerges = 8)
    val stats = r.agg(
      sum(when(col("n_tokens_bpe") < col("n_words"), 1).otherwise(0)).as("under"))
      .collect()(0)
    assert(stats.getAs[Long]("under") == 0L, "a document encoded to fewer tokens than words")
  }

  test("langMixtureReport: chunked langid separates mixed from pure docs; ppm arithmetic exact") {
    import spark.implicits._
    val en12 = "the and of to a in is it that was for with"
    val fr12 = "le la les des et est un une du pour que dans"
    val df = Seq(
      (1L, s"$en12 $fr12"),       // 2 segments, en + fr
      (2L, s"$en12 $en12"),       // 2 segments, both en
      (3L, "the and of")          // 1 short segment
    ).toDF("doc_id", "text")
    val r = graft.operators.TextAnalysis
      .langMixtureReport(df, "doc_id", "text", window = 12)
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    val d1 = r(1L)
    assert(d1.getAs[Long]("n_seg") == 2L && d1.getAs[Long]("n_langs") == 2L)
    assert(d1.getAs[Boolean]("mixed"))
    // count tie between en and fr broken by max language code
    assert(d1.getAs[String]("dom_lang") == "fr")
    assert(d1.getAs[Long]("dom_ppm") == 500000L)
    val d2 = r(2L)
    assert(d2.getAs[String]("dom_lang") == "en" && !d2.getAs[Boolean]("mixed"))
    assert(d2.getAs[Long]("dom_ppm") == 1000000L && d2.getAs[Long]("n_seg") == 2L)
    val d3 = r(3L)
    assert(d3.getAs[Long]("n_seg") == 1L && d3.getAs[String]("dom_lang") == "en")
  }

  test("langMixtureReport: segmentation boundaries — 13 tokens = 2 segments, window partial tail") {
    import spark.implicits._
    val df = Seq((1L, "the and of to a in is it that was for with le"))
      .toDF("doc_id", "text") // 12 en + 1 fr token in the tail segment
    val r = graft.operators.TextAnalysis
      .langMixtureReport(df, "doc_id", "text", window = 12).collect()(0)
    assert(r.getAs[Long]("n_seg") == 2L, "13 tokens at window 12 must yield 2 segments")
    assert(r.getAs[Long]("n_langs") == 2L) // tail "le" classifies fr
  }

  test("calibratedQualityFilter: per-group percentile cut keeps the same fraction of every group") {
    import spark.implicits._
    // group "hi" scores strictly above group "lo": a GLOBAL median cut
    // would keep all of hi and none of lo; the calibrated cut keeps half
    // of each (the operator's reason to exist)
    val hi = (1L to 8L).map(i =>
      (i, "hi", ("the and of to a in is it that was for with " * (i + 4).toInt)))
    val lo = (101L to 108L).map(i =>
      (i, "lo", "x" * (i - 100).toInt))
    val df = (hi ++ lo).toDF("doc_id", "grp", "text")
    val r = graft.operators.TextAnalysis
      .calibratedQualityFilter(df, "doc_id", "text", "grp", keepFrac = 0.5)
      .collect()
    val keptByGrp = r.filter(_.getAs[Boolean]("kept"))
      .groupBy(_.getAs[String]("grp")).view.mapValues(_.length).toMap
    assert(keptByGrp == Map("hi" -> 4, "lo" -> 4),
      s"calibrated cut must keep half of EACH group, got $keptByGrp")
    // percent_rank is the exact integer ratio (rank-1)/(n-1)
    val pr = r.filter(x => x.getAs[String]("grp") == "lo")
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Double]("pct_rank")).toMap
    (101L to 108L).foreach { id =>
      val expect = (id - 101).toDouble / 7.0 // scores tie; id breaks the rank
      assert(pr(id) == expect, s"doc $id pct_rank ${pr(id)} != $expect")
    }
  }

  test("ngramNovelty: duplicated docs score 0, a unique doc scores 1e6, partial overlap in between") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),    // all shingles shared with 2
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "completely unique document text here") // no overlap
    ).toDF("doc_id", "text")
    val r = graft.operators.TextAnalysis.ngramNovelty(df, "doc_id", "text")
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_unique"), x.getAs[Long]("novelty_ppm"))).toMap
    assert(r(1L) == ((0L, 0L)) && r(2L) == ((0L, 0L)),
      s"exact dup pair must have zero novelty: $r")
    assert(r(3L)._2 == 1000000L, s"unique doc must score 1e6 ppm: $r")
  }

  test("bpeFertility: hand-computed ratios on a corpus where merges actually fire") {
    import spark.implicits._
    // "aa" dominates: the first learned merge is (a,a); words of repeated
    // a's then encode to ceil(len/2) tokens
    val df = Seq(
      (1L, "g1", "aaaa aaaa aa"),
      (2L, "g1", "aaaa aa aa"),
      (3L, "g2", "bc bc bc")
    ).toDF("doc_id", "grp", "text")
    val r = graft.operators.TextAnalysis
      .bpeFertility(df, "doc_id", "text", "grp", numMerges = 1)
      .collect().map(x => x.getAs[String]("grp") -> x).toMap
    val g1 = r("g1")
    // g1 words: aaaa,aaaa,aa,aaaa,aa,aa -> chars 4+4+2+4+2+2 = 18; with the
    // (a,a) merge each word encodes to len/2 tokens -> 2+2+1+2+1+1 = 9
    assert(g1.getAs[Long]("sum_words") == 6L)
    assert(g1.getAs[Long]("sum_word_chars") == 18L)
    assert(g1.getAs[Long]("sum_bpe_tokens") == 9L)
    assert(g1.getAs[Long]("tokens_per_word_pm") == 1500L) // 9*1000 DIV 6
    assert(g1.getAs[Long]("chars_per_token_pm") == 2000L) // 18*1000 DIV 9
    val g2 = r("g2")
    // g2: "bc" has no (a,a) pairs -> stays 2 single-char tokens per word
    assert(g2.getAs[Long]("sum_bpe_tokens") == 6L)
    assert(g2.getAs[Long]("tokens_per_word_pm") == 2000L)
  }
}
