package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(sf("documents"))
  private lazy val emb = spark.read.parquet(sf("embeddings"))

  test("exact dedup keeps min id per duplicate text") {
    val df = spark.createDataFrame(Seq(
      (10L, "same text"), (3L, "same text"), (7L, "other"), (8L, "same text")))
      .toDF("doc_id", "text")
    val out = Dedup.exactSurvivors(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_copies")).toMap
    assert(out == Map(3L -> 3L, 7L -> 1L))
  }

  test("duplicate spans: canonical-first kept, overlaps merged, windows counted") {
    // doc 1 is the canonical source of a 12-token passage; doc 2 embeds it
    // verbatim mid-document; doc 3 repeats an 11-token passage twice
    // internally (self-duplication). n=10 windows.
    val passage = (1 to 12).map(i => s"tok$i").mkString(" ") // 12 tokens
    val self = (21 to 31).map(i => s"w$i").mkString(" ")     // 11 tokens
    val df = spark.createDataFrame(Seq(
      (1L, s"$passage"),
      (2L, s"alpha beta gamma $passage delta"),
      (3L, s"$self filler1 filler2 filler3 $self")))
      .toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(df, "doc_id", "text", n = 10)
      .orderBy("doc_id", "start_tok")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1: canonical (first occurrence by (id, pos)) — nothing reported.
    // doc 2: the 12-token passage at token offset 3 → windows at pos 3,4,5
    //        merged into [3, 15), 3 windows.
    // doc 3: second copy of the 11-token passage starts at token 14 →
    //        windows at pos 14,15 merged into [14, 25), 2 windows.
    assert(out.toSeq == Seq((2L, 3L, 15L, 3L), (3L, 14L, 25L, 2L)))
  }

  test("applySpanCuts removes reported spans; re-reporting the cleaned docs finds nothing") {
    val passage = (1 to 12).map(i => s"tok$i").mkString(" ")
    val self = (21 to 31).map(i => s"w$i").mkString(" ")
    val df = spark.createDataFrame(Seq(
      (1L, s"$passage"),
      (2L, s"alpha beta gamma $passage delta"),
      (3L, s"$self filler1 filler2 filler3 $self")))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(df, "doc_id", "text", n = 10)
    val cleaned = Dedup.applySpanCuts(df, spans, "doc_id", "text")
    val byId = cleaned.collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[String]("clean_text"), r.getAs[Long]("n_tokens_kept"),
        r.getAs[Long]("n_tokens_cut")))).toMap
    assert(byId(1L) == ((passage, 12L, 0L)), "canonical doc must be untouched")
    assert(byId(2L) == (("alpha beta gamma delta", 4L, 12L)))
    assert(byId(3L) == ((s"$self filler1 filler2 filler3", 14L, 11L)))
    // Lee-2021 idempotence: the cleaned corpus reports zero duplicate spans
    val again = Dedup.duplicateSpans(
      cleaned.select(col("doc_id"), col("clean_text").as("text")),
      "doc_id", "text", n = 10)
    assert(again.count() == 0L)
  }

  test("applySpanCuts on the corpus fixture: cut accounting exact, re-report empty") {
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", n = 10)
    val cleaned = Dedup.applySpanCuts(docs, spans, "doc_id", "text")
    // merged spans are disjoint and non-adjacent, so per doc the cut count
    // must equal the summed span widths, exactly
    val spanWidth = spans.groupBy("doc_id")
      .agg(sum(col("end_tok") - col("start_tok")).as("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = cleaned.collect()
    assert(rows.length == docs.count())
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_tokens_cut") == spanWidth.getOrElse(id, 0L),
        s"doc $id cut-count mismatch")
    }
    val again = Dedup.duplicateSpans(
      cleaned.select(col("doc_id"), col("clean_text").as("text")),
      "doc_id", "text", n = 10)
    assert(again.count() == 0L, "cleaned corpus still reports duplicate spans")
  }

  test("indexed incremental dedup matches the direct variant, with and without pruning") {
    val incoming = docs.where(col("doc_id") >= 250)
    val existing = docs.where(col("doc_id") < 250)
    // maxDocFreq=2 actually prunes shared shingles at this SF, exercising
    // the combined-df bookkeeping (batch window df + indexed corpus df)
    for ((mdf, tag) <- Seq((Long.MaxValue, "noprune"), (2L, "prune"))) {
      val direct = Dedup.incrementalSurvivors(incoming, existing,
          "doc_id", "text", shingleN = 3, threshold = 0.5, maxDocFreq = mdf)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val idx = graft.operators.Relational.bucketMaterialize(
        Dedup.buildPostingIndex(existing, "doc_id", "text", shingleN = 3),
        s"graft_b_postings_spec_$tag", "h", 8,
        s"/tmp/graft_bucketed_spec_$tag/postings")
      val viaIndex = Dedup.incrementalSurvivorsIndexed(incoming, idx,
          "doc_id", "text", shingleN = 3, threshold = 0.5, maxDocFreq = mdf)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(viaIndex == direct, s"maxDocFreq=$mdf: indexed path diverged")
      assert(viaIndex.nonEmpty)
    }
  }

  test("hamming ingest: sequential accepted-set semantics; a replayed batch drops itself") {
    import spark.implicits._
    // hand-built fingerprints: ids 0/1 hamming 0 (dup pair), 2 one bit off
    // (dup of 0 at hamming 1), 3 far away; batch 2 re-sees 0's code (id 10)
    // and brings a fresh one (id 11)
    val b1 = Seq((0L, 100L), (1L, 100L), (2L, 101L), (3L, Long.MinValue + 7))
      .toDF("id", "sh")
    val b2 = Seq((10L, 100L), (11L, 0x0F0F0F0F0F0F0F0FL)).toDF("id", "sh")
    val table = "graft_b_hamming_spec"
    val path = "/tmp/graft_bucketed_spec_hamming"
    val acc = Dedup.hammingIngest(Seq(b1, b2), table, path, maxHamming = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    // batch 1: 0 survives, 1 (ham 0 of 0) and 2 (ham 1) drop greedy,
    // 3 survives; batch 2: 10 hits accepted 0's code, 11 is fresh
    assert(acc == Set(0L, 3L, 11L), s"accepted $acc")
    // replay idempotence (the at-least-once contract): the surviving
    // fingerprints are in the index now, so re-probing the same batch
    // finds every row at hamming 0 — nothing survives a replay
    val replay = Dedup.hammingSurvivorsIndexed(b2, spark.table(table),
      maxHamming = 3)
    assert(replay.where(col("survives")).count() == 0L, "replay not idempotent")
    // the decision record is exact: 10 and 11 each match >= 1 accepted code
    val rec = replay.collect().map(r =>
      r.getLong(0) -> r.getLong(2)).toMap
    assert(rec(10L) >= 1L && rec(11L) >= 1L)
  }

  test("intra-doc line dedup: first occurrence survives, empties kept, zero shuffles") {
    import spark.implicits._
    val pages = Seq(
      (1L, "Cookie: ACCEPT!\n\nbody one\ncookie accept\nbody one\nBody, One!\ntail"),
      (2L, "only\nlines\nhere")).toDF("id", "text")
    // page 1: "cookie accept" ~ "Cookie: ACCEPT!" (norm-equal) → cut;
    // "body one" repeat → cut; "Body, One!" norm-equal → cut; "" kept
    val out = Dedup.intraDocLineDedup(pages, "id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == (("Cookie: ACCEPT!\n\nbody one\ntail", 4L, 3L)), out(1L))
    assert(out(2L) == (("only\nlines\nhere", 3L, 0L)))
    // pure narrow projection: the operator itself adds NO exchange
    val plan = Dedup.intraDocLineDedup(pages, "id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(400))
  }

  test("posting-index compaction replaces stale batch-local df with global df") {
    val b1 = docs.where(col("doc_id") < 150)
    val b2 = docs.where(col("doc_id") >= 150 && col("doc_id") < 300)
    val table = "graft_b_postings_spec_compact"
    val path = "/tmp/graft_bucketed_spec_compact/postings"
    Dedup.initPostingIndex(docs.where(lit(false)), "doc_id", "text", table, path)
    Dedup.appendPostingIndex(b1, "doc_id", "text", table)
    Dedup.appendPostingIndex(b2, "doc_id", "text", table)
    // appended df is batch-local: a shingle both batches share understates
    // its corpus-wide frequency until compaction rewrites it
    val global = spark.table(table).groupBy("h").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val staleBad = spark.table(table).select("h", "df").collect()
      .count(r => global(r.getLong(0)) != r.getLong(1))
    assert(staleBad > 0, "fixture never goes stale — weaken of the test")
    Dedup.compactPostingIndex(spark, table, path)
    val fresh = spark.table(table).select("h", "df").collect()
    assert(fresh.nonEmpty)
    assert(fresh.forall(r => global(r.getLong(0)) == r.getLong(1)),
      "compaction left a stale df")
    // row set unchanged — compaction rewrites frequencies, not postings
    assert(fresh.length == global.values.sum)
  }

  test("duplicate spans: global reduction is a partial aggregation, not a per-hash sort") {
    val plan = inspectPlan(Dedup.duplicateSpans(docs, "doc_id", "text", n = 10)
      .queryExecution.executedPlan.toString)
    // the hash-group reduction must appear as HashAggregate (map-side
    // combinable); the only Window may be the per-document merge
    assert(plan.contains("HashAggregate"), plan.take(600))
    assert(!plan.contains("windowspecdefinition(h#"), "per-hash window sort leaked into the plan")
  }

  test("ngram jaccard pairs match brute-force jaccard") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.3, maxDocFreq = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    // brute force on the driver over the same corpus
    def shingles(t: String): Set[String] = {
      val toks = t.toLowerCase.replaceAll("[^a-z0-9\\s]", " ")
        .replaceAll("\\s+", " ").trim.split(" ", -1).toSeq
      if (toks.size < 3) Set(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val local = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> shingles(r.getString(1)))
    val expected = (for {
      (ia, sa) <- local; (ib, sb) <- local if ia < ib
      inter = (sa & sb).size
      j = inter.toDouble / (sa.size + sb.size - inter) if j >= 0.3
    } yield (ia, ib) -> j).toMap
    assert(pairs.keySet == expected.keySet)
    expected.foreach { case (k, v) => assert(math.abs(pairs(k) - v) < 1e-12, k) }
  }

  test("prefix-filtered ngram jaccard equals the plain inverted-index join") {
    // t = 0.3 keeps the prefix long (0.7·|x| shingles indexed) and the pair
    // set large — the harshest exactness check the fixture offers
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val plain = asMap(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.3, maxDocFreq = Long.MaxValue))
    val pref = asMap(Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.3))
    assert(pref.keySet == plain.keySet,
      s"missing=${(plain.keySet -- pref.keySet).take(5)} " +
      s"extra=${(pref.keySet -- plain.keySet).take(5)}")
    plain.foreach { case (k, v) => assert(pref(k) == v, k) }
    assert(plain.nonEmpty)
  }

  test("prefix-filtered ngram jaccard: random corpora round-trip") {
    // adversarial-ish shapes the fixture lacks: tiny docs (|hs| 1..4, where
    // plen rounding matters most), heavy shared boilerplate, exact clones
    val rnd = new scala.util.Random(7)
    val vocab = (1 to 40).map(i => s"v$i")
    for (trial <- 1 to 3) {
      val docsR = (1L to 20L).map { i =>
        val nTok = 1 + rnd.nextInt(12)
        val body = Seq.fill(nTok)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
        (i, if (i % 7 == 0) "common boiler plate text here" else body)
      }
      val df = spark.createDataFrame(docsR).toDF("doc_id", "text")
      for (t <- Seq(0.34, 0.5, 1.0)) {
        val plain = Dedup.ngramJaccardPairs(df, "doc_id", "text",
            shingleN = 3, threshold = t, maxDocFreq = Long.MaxValue)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val pref = Dedup.ngramJaccardPairsPrefix(df, "doc_id", "text",
            shingleN = 3, threshold = t)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(pref == plain, s"trial=$trial t=$t")
      }
    }
  }

  test("prefix posting indexes only the rare tail of each doc") {
    import graft.functions.{TextFunctions => TF}
    val sets = docs.select(col("doc_id").as("id"),
        TF.shingleHashes(col("text"), 3).as("hs"))
      .withColumn("n", size(col("hs")))
    val fullCount = sets.select(explode(col("hs"))).count()
    val prefCount = Dedup.ngramPrefixPostings(sets, 0.5).count()
    // at t=0.5 each doc indexes |x| − ⌈|x|/2⌉ + 1 shingles ≈ half; the
    // bound below is exact (ceil halves, +1 per doc), not a loose heuristic
    val nDocs = sets.count()
    assert(prefCount <= fullCount / 2 + nDocs,
      s"pref=$prefCount full=$fullCount docs=$nDocs")
    assert(prefCount < fullCount)
  }

  test("source overlap matrix accounts for every pair exactly once") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.5, maxDocFreq = Long.MaxValue)
    val m = Dedup.sourceOverlapMatrix(docs, pairs, "doc_id", "source").collect()
    assert(m.map(_.getAs[Long]("n_pairs")).sum == pairs.count())
    m.foreach { r =>
      val (a, b) = (r.getAs[String]("source_a"), r.getAs[String]("source_b"))
      assert(a <= b, s"unordered source pair ($a, $b)")
      val nd = r.getAs[Long]("n_docs")
      val np = r.getAs[Long]("n_pairs")
      assert(nd >= 2 && nd <= 2 * np, s"($a,$b): n_docs=$nd n_pairs=$np")
    }
  }

  test("lineSurvivors: global first kept, norm unification, blanks immune") {
    val pagesDf = spark.createDataFrame(Seq(
        (1L, "Alpha\n\nShared Line!\ndup two"),
        (2L, "shared line\n\nbeta\nshared line"),
        (3L, "gamma\nshared line\ndup two")))
      .toDF("doc_id", "text")
    def run(minRepeats: Long): Map[Long, (String, Long, Long)] =
      Dedup.lineSurvivors(pagesDf, "doc_id", "text", minRepeats = minRepeats)
        .collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
        .toMap
    // "shared line" normalizes equal across case/punct variants (cnt 4,
    // first = doc 1 pos 2); "dup two" cnt 2 (first = doc 1 pos 3); the
    // blank separator lines are empty-norm and never cut
    assert(run(2L) == Map(
      1L -> (("Alpha\n\nShared Line!\ndup two", 4L, 0L)),
      2L -> (("\nbeta", 2L, 2L)),
      3L -> (("gamma", 1L, 2L))))
    // raising the repeat floor spares the cnt-2 line
    assert(run(3L) == Map(
      1L -> (("Alpha\n\nShared Line!\ndup two", 4L, 0L)),
      2L -> (("\nbeta", 2L, 2L)),
      3L -> (("gamma\ndup two", 2L, 1L))))
    // idempotence: re-running on the cleaned corpus cuts nothing
    val clean = Dedup.lineSurvivors(pagesDf, "doc_id", "text")
      .select(col("doc_id"), col("clean_text").as("text"))
    assert(Dedup.lineSurvivors(clean, "doc_id", "text")
      .agg(sum("n_lines_cut")).collect().head.getLong(0) == 0L)
    // custom delimiter (regex-special, must be quoted)
    val piped = spark.createDataFrame(Seq((1L, "x|y"), (2L, "x|z")))
      .toDF("doc_id", "text")
    val pipedOut = Dedup.lineSurvivors(piped, "doc_id", "text", delim = "|")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pipedOut == Map(1L -> "x|y", 2L -> "z"))
    intercept[IllegalArgumentException](
      Dedup.lineSurvivors(pagesDf, "doc_id", "text", minRepeats = 1L))
    intercept[IllegalArgumentException](
      Dedup.lineSurvivors(pagesDf.withColumn("__graft_cuts", lit(1)),
        "doc_id", "text"))
  }

  test("containmentPairs: near-subset found where Jaccard is blind, oriented small→large") {
    // doc 2 = the first 5 tokens of doc 1 (snippet quote): containment 1.0
    // but Jaccard 3/13 — below any useful symmetric threshold. docs 3/4 are
    // identical (tie: larger id is the contained side). doc 5 is unrelated.
    val long1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron"
    val docs = spark.createDataFrame(Seq(
        (1L, long1),
        (2L, "alpha beta gamma delta epsilon"),
        (3L, "same twin text here"),
        (4L, "same twin text here"),
        (5L, "totally unrelated content words")))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.8, maxDocFreq = Long.MaxValue)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out == Set((2L, 1L, 1.0), (4L, 3L, 1.0)),
      s"got $out")
    // the same pair fails symmetric Jaccard at 0.5 — the blind spot the
    // containment operator exists for
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.5, maxDocFreq = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)) && !jac.contains((2L, 1L)))
    intercept[IllegalArgumentException](
      Dedup.containmentPairs(docs, "doc_id", "text", threshold = 0.0))
  }

  test("boilerplateSurvivors: group-conditional cut removes ALL occurrences, cross-group survives") {
    // "footer" is template on site A (3 distinct docs ≥ minDocs=3) but
    // appears only once on site B: cut from every A doc INCLUDING the
    // first, kept on B. "promo" repeats twice within one A doc — one
    // distinct doc, never boilerplate. Blank lines immune.
    val pages = spark.createDataFrame(Seq(
        (1L, "A", "one\nFooter!\n\npromo\npromo"),
        (2L, "A", "two\nfooter"),
        (3L, "A", "three\nfooter"),
        (4L, "B", "four\nfooter"),
        (5L, "B", "five")))
      .toDF("doc_id", "site", "text")
    val out = Dedup.boilerplateSurvivors(pages, "doc_id", "text", "site",
        minDocs = 3L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out == Map(
      1L -> (("one\n\npromo\npromo", 4L, 1L)),
      2L -> (("two", 1L, 1L)),
      3L -> (("three", 1L, 1L)),
      4L -> (("four\nfooter", 2L, 0L)),
      5L -> (("five", 1L, 0L))))
    // idempotence: the cleaned corpus has no group-frequent lines left
    val clean = Dedup.boilerplateSurvivors(pages, "doc_id", "text", "site",
        minDocs = 3L)
      .join(pages.select("doc_id", "site"), "doc_id")
      .select(col("doc_id"), col("site"), col("clean_text").as("text"))
    assert(Dedup.boilerplateSurvivors(clean, "doc_id", "text", "site",
        minDocs = 3L)
      .agg(sum("n_lines_cut")).collect().head.getLong(0) == 0L)
    intercept[IllegalArgumentException](
      Dedup.boilerplateSurvivors(pages, "doc_id", "text", "site", minDocs = 1L))
  }

  test("matryoshkaTopK: full-coverage candK equals brute force; rerank uses full dims") {
    val emb = spark.read.parquet(sf("embeddings"))
    val q = emb.where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val n = emb.count().toInt
    // candK covering the whole corpus makes the prefix stage a no-op
    // filter — the reranked result must equal exact brute force
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        q, "qid", "qvec", k = 5)
      .select("qid", "id", "rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val mat = Similarity.matryoshkaTopK(emb, "vec_id", "embedding",
        q, "qid", "qvec", prefixDims = 16, k = 5, candK = n)
      .select("qid", "id", "rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(mat == brute)
    // narrow candK is genuinely approximate here (random embeddings do not
    // front-load information), but every returned neighbor must still rank
    // by FULL cosine and reach k rows per query
    val narrow = Similarity.matryoshkaTopK(emb, "vec_id", "embedding",
        q, "qid", "qvec", prefixDims = 16, k = 5, candK = 8)
    val rows = narrow.collect()
    assert(rows.length == 3 * 5)
    rows.groupBy(_.getAs[Long]("qid")).values.foreach { g =>
      val byRank = g.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        "rank must order by full-dim cosine")
    }
    intercept[IllegalArgumentException](
      Similarity.matryoshkaTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
        prefixDims = 16, k = 5, candK = 4))
  }

  test("snapshotDiff: all four statuses, normalized mode, NULL-text presence") {
    val oldSnap = spark.createDataFrame(Seq(
        (1L, "gone"), (2L, "same"), (3L, "before"), (5L, "A  b")))
      .toDF("doc_id", "text")
    val newSnap = spark.createDataFrame(Seq(
        (2L, "same"), (3L, "after"), (4L, "fresh"), (5L, "a b")))
      .toDF("doc_id", "text")
    def statuses(normalized: Boolean): Map[Long, String] =
      Dedup.snapshotDiff(oldSnap, newSnap, "doc_id", "text", normalized)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(statuses(normalized = false) == Map(
      1L -> "removed", 2L -> "unchanged", 3L -> "changed",
      4L -> "added", 5L -> "changed"))
    // normalized mode: whitespace/case churn is not change
    assert(statuses(normalized = true)(5L) == "unchanged")
    // NULL text is presence (fingerprints like empty), not absence
    val withNull = Dedup.snapshotDiff(
        spark.createDataFrame(Seq((7L, null.asInstanceOf[String])))
          .toDF("doc_id", "text"),
        spark.createDataFrame(Seq((7L, ""))).toDF("doc_id", "text"),
        "doc_id", "text").collect()
    assert(withNull.length == 1 && withNull.head.getString(1) == "unchanged")
    // fp columns are NULL exactly on the absent side
    Dedup.snapshotDiff(oldSnap, newSnap, "doc_id", "text").collect()
      .foreach { r =>
        assert((r.getString(1) == "added") == (r.get(2) == null), r.toString)
        assert((r.getString(1) == "removed") == (r.get(3) == null), r.toString)
      }
  }

  test("incremental embedding dedup: corpus dups dropped, greedy keep-first in batch") {
    def mk(rows: Seq[(Long, Seq[Float])]) =
      spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val existing = mk(Seq((100L, Seq(1f, 0f, 0f, 0f))))
    val incoming = mk(Seq(
      (1L, Seq(1f, 0.0001f, 0f, 0f)),  // ≈ corpus vector → dropped
      (2L, Seq(0f, 1f, 0f, 0f)),       // first of a batch pair → kept
      (3L, Seq(0f, 1f, 0.0001f, 0f)),  // ≈ vector 2, larger id → dropped
      (4L, Seq(0f, 0f, 0f, 1f))))      // unrelated → kept
    val out = Dedup.incrementalEmbedSurvivors(incoming, existing,
        "vec_id", "embedding", threshold = 0.95, dim = 4)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(out == Set(2L, 4L), s"got $out")
    // the accepted corpus is never emitted, only filtered against
    assert(!out.contains(100L))
  }

  test("embedSurvivorsIndexed: persisted-index probe agrees with the recompute twin; ingest loop is sequential-greedy") {
    import java.nio.file.Files
    // 1) one batch probed against a persisted index of the existing
    //    corpus must accept exactly what incrementalEmbedSurvivors
    //    (which recomputes the corpus buckets every call) accepts
    val existing = emb.where(col("vec_id") >= 350)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val incoming = emb.where(col("vec_id") < 350)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val tmp = Files.createTempDirectory("graft-embidx").toString
    Dedup.initEmbedIndex(existing, "graft_spec_embidx", s"$tmp/idx", 8)
    Dedup.appendEmbedIndex(existing, "graft_spec_embidx", 8)
    val indexed = Dedup.embedSurvivorsIndexed(incoming,
        spark.table("graft_spec_embidx"), threshold = 0.25)
      .where(col("survives")).collect().map(_.getLong(0)).toSet
    val twin = Dedup.incrementalEmbedSurvivors(
        emb.where(col("vec_id") < 350), emb.where(col("vec_id") >= 350),
        "vec_id", "embedding", threshold = 0.25)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(indexed == twin,
      s"indexed probe diverged from recompute twin: ${indexed.diff(twin)} / ${twin.diff(indexed)}")
    // 2) the loop is genuinely sequential: batch 2's survivors depend on
    //    batch 1's accepted set, so swapping batch order changes nothing
    //    ONLY if batches are independent — assert a batch-2 vector near a
    //    batch-1 survivor is dropped (the accepted-so-far index mattered)
    val b1 = emb.where(col("vec_id") < 150)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val b2 = emb.where(col("vec_id") >= 150 && col("vec_id") < 400)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    spark.sql("DROP TABLE IF EXISTS graft_spec_embloop")
    val loop = Dedup.embedIngest(Seq(b1, b2), "graft_spec_embloop",
        s"$tmp/loop", 8, threshold = 0.25)
      .collect().map(_.getLong(0)).toSet
    val b2Alone = Dedup.embedSurvivorsIndexed(b2,
        Dedup.buildEmbedPostings(b1.where(lit(false))),
        threshold = 0.25)
      .where(col("survives")).collect().map(_.getLong(0)).toSet
    val b2InLoop = loop.filter(_ >= 150L)
    assert(b2InLoop.subsetOf(b2Alone),
      "the index can only DROP more than an empty corpus")
    assert(b2InLoop != b2Alone,
      "batch 2 unaffected by batch 1's survivors — the fixture has no " +
      "cross-batch near-dups at this threshold; lower it")
    spark.sql("DROP TABLE IF EXISTS graft_spec_embidx")
    spark.sql("DROP TABLE IF EXISTS graft_spec_embloop")
  }

  test("embedding QA report counts each defect class exactly once") {
    val rows: Seq[(Int, Seq[Float])] = Seq(
      (0, Seq.fill(4)(0.5f)),                        // healthy
      (0, null),                                     // null vector
      (0, Seq(1f, 2f)),                              // wrong dimension
      (0, Seq(Float.NaN, 1f, 1f, 1f)),               // NaN element
      (0, Seq(Float.PositiveInfinity, 0f, 0f, 0f)),  // Inf element
      (0, Seq(0f, 0f, 0f, 0f)),                      // all-zero (healthy but unusable)
      (1, Seq(1f, 0f, 0f, 0f)))
    // a vector with a NULL ELEMENT (legal in parquet list<float>) must land
    // in n_nonfinite, not vanish through three-valued exists() logic
    val nullElem = spark.sql(
      "SELECT 0 AS label, array(cast(0.1 AS float), cast(NULL AS float), " +
      "cast(0.2 AS float), cast(0.3 AS float)) AS embedding")
    val df = spark.createDataFrame(rows).toDF("label", "embedding")
      .unionByName(nullElem)
    val out = Similarity.embeddingQa(df, "embedding", dim = 4, "label")
      .orderBy("label").collect()
    val r0 = out(0)
    assert(r0.getAs[Long]("n_vecs") == 7)
    assert(r0.getAs[Long]("n_null") == 1)
    assert(r0.getAs[Long]("n_bad_dim") == 1)
    assert(r0.getAs[Long]("n_nonfinite") == 3)
    assert(r0.getAs[Long]("n_zero") == 1)
    // healthy: the 0.5-vector (q = floor(0.5·1024) = 512 → q2 = 4·512²)
    // and the zero vector (q2 = 0); defective vectors contribute nothing
    assert(r0.getAs[Long]("q2_min") == 0L)
    assert(r0.getAs[Long]("q2_max") == 4L * 512 * 512)
    assert(r0.getAs[Long]("q2_sum") == 4L * 512 * 512)
    assert(out(1).getAs[Long]("q2_sum") == 1024L * 1024)
  }

  test("minhash LSH finds planted near-duplicates") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 57).map(i => s"tok$i").mkString(" ") + " aa bb cc"
    val unrelated = (1 to 60).map(i => s"other$i").mkString(" ")
    val df = spark.createDataFrame(Seq(
      (1L, base), (2L, nearDup), (3L, unrelated))).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash pairs: planted near-dup found, blocking finds all close pairs") {
    val base = (1 to 64).map(i => s"w$i").mkString(" ")
    val near = ((1 to 62).map(i => s"w$i") ++ Seq("xx", "yy")).mkString(" ")
    val df = spark.createDataFrame(Seq((1L, base), (2L, near))).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 16).collect()
    assert(pairs.length == 1 && pairs(0).getLong(0) == 1L)
  }

  test("embedding cosine pairs: LSH candidates are a subset of brute force") {
    val brute = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding",
        threshold = 0.35, bruteForce = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding",
        threshold = 0.35, bruteForce = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute))
    assert(brute.nonEmpty)
  }

  test("skew cap: normal-corpus pair output identical with and without the cap") {
    def pairs(cap: Long) =
      Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.4,
          maxBucketSize = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(4096L) == pairs(Long.MaxValue))
    def simPairs(cap: Long) =
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 8,
          maxBucketSize = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(simPairs(4096L) == simPairs(Long.MaxValue))
  }

  test("skew cap: adversarial hot buckets stay linear and still dedup fully") {
    // 1200 near-identical docs (5 variants of one boilerplate) — every LSH
    // band bucket is hot; uncapped this is ~720k candidate pairs per band.
    // With the cap the oversized buckets degrade to star-pairing, the run
    // stays fast, and survivor reduction still collapses the cluster.
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val df = spark.range(1200).selectExpr(
      "id AS doc_id", s"concat('$base', ' suffix', cast(id % 5 AS string)) AS text")
    val t0 = System.nanoTime()
    val mh = Dedup.minhashLshPairs(df, "doc_id", "text", threshold = 0.5,
      maxBucketSize = 64L)
    val nPairs = mh.count()
    val nSurvivors = Dedup.survivors(df, mh, "doc_id").count()
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    assert(nPairs >= 1199L, s"star-pairing should still cover the cluster ($nPairs)")
    assert(nSurvivors <= 5L, s"cluster must collapse to its variants ($nSurvivors)")
    assert(elapsedSec < 120.0, s"adversarial corpus took ${elapsedSec}s")

    val sh = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 12,
      maxBucketSize = 64L)
    val shSurvivors = Dedup.survivors(df, sh, "doc_id").count()
    assert(shSurvivors <= 5L, s"simhash survivors=$shSurvivors")
  }

  test("minhash rejects numHashes not divisible by bands") {
    val df = spark.createDataFrame(Seq((1L, "a b c"))).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.minhashLshPairs(df, "doc_id", "text", numHashes = 100, bands = 16)
    }
  }

  test("survivors drops the larger id of every dup pair") {
    val df = spark.createDataFrame(Seq(
      (1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "c"))).toDF("doc_id", "text")
    val pairs = spark.createDataFrame(Seq((1L, 2L), (3L, 4L))).toDF("id_a", "id_b")
    val out = Dedup.survivors(df, pairs, "doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 3L, 5L))
  }

  test("bruteForceTopK matches a driver-side computation") {
    val queries = emb.where(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val got = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5)
      .orderBy("rank").collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("rank")))

    val all = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val q = all.find(_._1 == 0L).get._2
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = all.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(q, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
    assert(got.map(_._1).toSeq == expected.toSeq)
  }

  test("ivfTopK: deterministic centroids, candidates subset, decent recall") {
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c1 = Similarity.trainCentroids(emb, "vec_id", "embedding", 8)
    val c2 = Similarity.trainCentroids(emb, "vec_id", "embedding", 8)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq) // deterministic
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"))).toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, nCentroids = 8, nProbe = 4)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall > 0.3, s"ivf recall=$recall")
  }

  test("ivfRangeSearch: exhaustive probing equals the brute-force epsilon ball") {
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val tau = 0.2
    // nProbe = nCentroids probes every cell — the IVF recall bound becomes
    // exact, so the result must BE the brute-force threshold filter
    val full = Similarity.ivfRangeSearch(emb, "vec_id", "embedding",
        queries, "qid", "qvec", minCosine = tau, nCentroids = 8, nProbe = 8)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"))).toSet
    val all = emb.select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long](0) -> r.getSeq[Float](1).toArray)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val brute = (for {
      (qid, qv) <- all if qid < 10
      (id, v) <- all if id != qid && cos(qv, v) >= tau
    } yield (qid, id)).toSet
    assert(full == brute,
      s"missing=${(brute -- full).take(5)} extra=${(full -- brute).take(5)}")
    assert(brute.nonEmpty)
    // partial probing returns a subset, every hit above the threshold
    val part = Similarity.ivfRangeSearch(emb, "vec_id", "embedding",
        queries, "qid", "qvec", minCosine = tau, nCentroids = 8, nProbe = 2)
    assert(part.where(col("cosine") < tau).isEmpty)
    val partSet = part.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"))).toSet
    assert(partSet.subsetOf(full))
  }

  test("lshTopK achieves reasonable recall vs brute force") {
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"))).toSet
    val approx = Similarity.lshTopK(emb, "vec_id", "embedding",
        queries, "qid", "qvec", k = 5, bits = 6, probes = 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"))).toSet
    val recall = (brute & approx).size.toDouble / brute.size
    assert(recall > 0.1, s"recall=$recall") // loose: random vectors, coarse buckets
  }

  test("connected components: chains collapse transitively, singletons self-label") {
    val docs = spark.range(1, 8).toDF("doc_id")
    // components: {1,2,3} (chain — 1 and 3 never paired), {5,6}, singletons 4,7
    val pairs = spark.createDataFrame(Seq(
      (1L, 2L), (2L, 3L), (5L, 6L))).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(docs, pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
                         5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("clusterSurvivors: one min-id representative per component with absorbed counts") {
    val docs = spark.range(1, 8).toDF("doc_id")
    // components: {1,2,3} (both 1 and 2 pair with 3, never with each
    // other), {5,6}, singletons 4,7. This is the fixture where the cuts
    // genuinely differ: pairwise `survivors` drops only id_b members
    // ({3,6}) and keeps BOTH 1 and 2 from the same near-dup component;
    // the cluster cut keeps exactly one doc per component
    val pairs = spark.createDataFrame(Seq(
      (1L, 3L), (2L, 3L), (5L, 6L))).toDF("id_a", "id_b")
    val out = Dedup.clusterSurvivors(docs, pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 4L -> 1L, 5L -> 2L, 7L -> 1L))
    val pairwise = Dedup.survivors(docs, pairs, "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(pairwise == Set(1L, 2L, 4L, 5L, 7L),
      "pairwise keeps two docs of the {1,2,3} component — the cluster cut must not")
  }

  test("connected components: a 64-node chain converges within the round bound") {
    // worst case for plain label propagation (O(diameter) = 63 rounds);
    // pointer jumping must bring it inside the default 25-round budget
    val n = 64L
    val docs = spark.range(1, n + 1).toDF("doc_id")
    val pairs = spark.range(1, n).select(
      col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val labels = Dedup.connectedComponents(docs, pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.forall(_._2 == 1L), "entire chain must label to the min id")
  }

  test("connected components: adversarial graphs converge in O(log n) rounds") {
    // the shapes hot in real dedup graphs: a long chain (worst case for
    // plain propagation), a high-degree star (boilerplate cluster), and
    // two cliques bridged by a single edge (two dup groups that share one
    // borderline pair). Round count must stay within log2(n) + c — the
    // pointer-jumping claim, measured rather than asserted in prose.
    def roundBound(n: Long): Int =
      (math.log(n.toDouble) / math.log(2.0)).ceil.toInt + 3

    // 128-node chain: ids 1..128, edges i—(i+1)
    val chainDocs = spark.range(1, 129).toDF("doc_id")
    val chainPairs = spark.range(1, 128).select(
      col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val (chainLab, chainRounds) =
      Dedup.connectedComponentsWithRounds(chainDocs, chainPairs, "doc_id")
    assert(chainLab.collect().forall(_.getLong(1) == 1L))
    assert(chainRounds <= roundBound(128),
      s"chain-128 took $chainRounds rounds (bound ${roundBound(128)})")

    // star: hub 1 with 200 leaves; cliques: {300..329} and {400..429}
    // fully connected internally, bridged by the single edge (329, 400)
    val starPairs = (2L to 201L).map(l => (1L, l))
    val cliquePairs = for {
      base <- Seq(300, 400); i <- base until base + 30; j <- i + 1 until base + 30
    } yield (i.toLong, j.toLong)
    val bridge = Seq((329L, 400L))
    val ids = (1L to 201L) ++ (300L to 329L) ++ (400L to 429L)
    val docs = spark.createDataFrame(ids.map(Tuple1(_))).toDF("doc_id")
    val pairs = spark.createDataFrame(starPairs ++ cliquePairs ++ bridge)
      .toDF("id_a", "id_b")
    val (lab, rounds) = Dedup.connectedComponentsWithRounds(docs, pairs, "doc_id")
    val m = lab.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 201L).forall(m(_) == 1L), "star must collapse to the hub-min")
    assert(((300L to 329L) ++ (400L to 429L)).forall(m(_) == 300L),
      "bridged cliques must merge into one component")
    assert(rounds <= roundBound(ids.size),
      s"star+cliques took $rounds rounds (bound ${roundBound(ids.size)})")
  }

  test("materialization cuts are released deterministically, not left to GC") {
    import graft.util.Materialize
    // same filtered metric on both sides — counting ALL entries before but
    // only cached-partition entries after would let a leak pass vacuously
    def cachedIds = spark.sparkContext.getRDDStorageInfo
      .filter(_.numCachedPartitions > 0).map(_.id).toSet
    val before = cachedIds
    val docs = spark.range(1, 65).toDF("doc_id")
    val pairs = spark.range(1, 64).select(
      col("id").as("id_a"), (col("id") + 1).as("id_b"))
    Materialize.scope {
      val out = Dedup.connectedComponents(docs, pairs, "doc_id")
      out.write.format("noop").mode("overwrite").save() // consume the result
      // in-loop release keeps live cuts O(1); the final labels belong to
      // this scope until it exits
      assert((cachedIds -- before).nonEmpty, "final labels should have been tracked")
    }
    // the scope's exit frees the result blocks the moment the consuming
    // job is done — no GC involved
    val leaked = cachedIds -- before
    assert(leaked.isEmpty, s"checkpoint blocks leaked: RDDs $leaked")
  }

  test("PQ top-k equals brute force when refine covers the corpus") {
    val q = emb.where(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val n = emb.count().toInt
    val pq = Similarity.pqTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
      k = 5, refine = n)
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
      k = 5)
    assert(key(pq) == key(bf),
      "with a corpus-covering refine the ADC cut cannot drop true neighbors")
    // at a tight refine the output is still k rows per query with exact
    // cosines (the ADC score orders candidates; reported scores are exact)
    val tight = Similarity.pqTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
      k = 5, refine = 20).collect()
    assert(tight.length == 10 && tight.forall(_.getInt(3) <= 5))
  }

  test("RP top-k equals brute force when refine covers the corpus") {
    val q = emb.where(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val n = emb.count().toInt
    val rp = Similarity.rpTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
      k = 5, outDim = 16, refine = n)
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
      k = 5)
    assert(key(rp) == key(bf),
      "with a corpus-covering refine the projected cut cannot drop true neighbors")
    // determinism: the fixed sign matrix makes the whole pipeline a pure
    // function of (corpus, queries, params)
    val again = Similarity.rpTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
      k = 5, outDim = 16, refine = n)
    assert(key(again) == key(rp), "rpTopK must be deterministic")
    // at a tight refine the output is still k rows per query with exact
    // cosines (the projection orders candidates; reported scores are exact)
    val tight = Similarity.rpTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
      k = 5, outDim = 16, refine = 20).collect()
    assert(tight.length == 10 && tight.forall(_.getInt(3) <= 5))
  }

  test("binarySignCode: hand-computed word packing; hammingTopK equals brute force at full candK") {
    import spark.implicits._
    // 64-dim vector with positives exactly at dims 0, 5, 33:
    // word 0 = 2^0 + 2^5 = 33, word 1 = 2^(33-32) = 2
    val v = Array.tabulate(64)(i =>
      if (i == 0 || i == 5 || i == 33) 1.0f else if (i == 7) 0.0f else -1.0f)
    val code = Seq(Tuple1(v)).toDF("v")
      .select(Similarity.binarySignCode(col("v"), 64).as("c"))
      .collect().head.getSeq[Long](0)
    assert(code == Seq(33L, 2L), s"got $code")
    // hamming(v, v) = 0; hamming(v, -v) flips every nonzero-sign dim:
    // v has 3 positive bits, -v has 60 (the zero at dim 7 stays 0) -> 63
    val pair = Seq((1L, v), (2L, v.map(-_))).toDF("id", "vec")
      .select(col("id"), Similarity.binarySignCode(col("vec"), 64).as("c"))
      .collect().map(r => r.getAs[Long]("id") -> r.getSeq[Long](1)).toMap
    val hd = (pair(1L) zip pair(2L))
      .map { case (a, b) => java.lang.Long.bitCount(a ^ b) }.sum
    assert(hd == 63, s"got $hd")

    // candK covering the corpus makes the Hamming cut lossless: the
    // exact-cosine rerank must equal brute force
    val q = emb.where(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val n = emb.count().toInt
    val hk = Similarity.hammingTopK(emb, "vec_id", "embedding", q, "qid",
      "qvec", dim = 64, k = 5, candK = n)
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "qid",
      "qvec", k = 5)
    assert(key(hk) == key(bf),
      "with a corpus-covering candK the Hamming cut cannot drop true neighbors")
    // tight candK: still k rows per query, exact cosines reported
    val tight = Similarity.hammingTopK(emb, "vec_id", "embedding", q, "qid",
      "qvec", dim = 64, k = 5, candK = 20).collect()
    assert(tight.length == 10 &&
      tight.forall(_.getAs[Int]("rank") <= 5))
    // wrong-length vectors fail loudly, same contract as hyperplaneBucket
    val bad = Seq((1L, Array(1.0f, -1.0f))).toDF("id", "vec")
    val ex = intercept[Exception] {
      bad.select(Similarity.binarySignCode(col("vec"), 64)).collect()
    }
    assert(ex.getMessage.contains("binarySignCode"), ex.getMessage)
  }

  test("lshRecallCurve: hand-built deciles, identical pair always caught, decile floor arithmetic") {
    import spark.implicits._
    def toks(pre: String, r: Range) = r.map(i => s"$pre$i").mkString(" ")
    val share30 = toks("s", 1 to 30)
    val share8 = toks("p", 1 to 8)
    val docs = Seq(
      // identical pair: j = 1.0 -> decile 9, always LSH-caught
      (1L, share30), (2L, share30),
      // 30 shared + 10-token distinct tails: inter 28, each 38 shingles,
      // union 48 -> j = 0.5833 -> decile 5
      (3L, s"$share30 ${toks("a", 1 to 10)}"),
      (4L, s"$share30 ${toks("b", 1 to 10)}"),
      // 8 shared + 12-token tails: inter 6, each 18 shingles, union 30
      // -> j = 0.2 -> decile 2
      (5L, s"$share8 ${toks("c", 1 to 12)}"),
      (6L, s"$share8 ${toks("d", 1 to 12)}"),
      (7L, toks("z", 1 to 25)))
      .toDF("doc_id", "text")
    val curve = Dedup.lshRecallCurve(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("decile") ->
        (r.getAs[Long]("n_exact"), r.getAs[Long]("n_caught"))).toMap
    // cross pairs {1,2}x{3,4} share the 30-block inside the longer docs:
    // inter 28, sizes 28/38, union 38 -> j = 0.7368 -> decile 7, 4 pairs
    assert(curve.keySet == Set(2L, 5L, 7L, 9L), curve.toString)
    assert(curve(9L) == ((1L, 1L)), // identical signatures always collide
      curve.toString)
    assert(curve(7L)._1 == 4L, curve.toString)
    assert(curve(5L)._1 == 1L && curve(2L)._1 == 1L, curve.toString)
    // caught-set membership must agree with the LSH pair set itself
    val lshPairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        numHashes = 128, bands = 16, threshold = 0.4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(curve(5L)._2 == (if (lshPairs.contains((3L, 4L))) 1L else 0L))
    assert(curve(2L)._2 == (if (lshPairs.contains((5L, 6L))) 1L else 0L))
    val cross = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
    assert(curve(7L)._2 == cross.count(lshPairs.contains).toLong)
    curve.values.foreach { case (ne, nc) => assert(nc <= ne) }
  }

  test("filteredTopK: pre-filter semantics — per-label results equal brute force on the label slice") {
    val q = emb.where(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("qlabel"))
    val out = Similarity.filteredTopK(emb, "vec_id", "embedding", "label",
      q, "qid", "qvec", "qlabel", k = 5)
    val rows = out.collect()
    val qLabels = q.collect().map(r => r.getAs[Long]("qid") ->
      r.getAs[Int]("qlabel")).toMap
    // every hit carries the query's own label (the filter applied BEFORE
    // ranking), and each query still gets its full k within the group
    rows.foreach { r =>
      assert(r.getAs[Int]("filter_value") == qLabels(r.getAs[Long]("qid")))
    }
    assert(rows.groupBy(_.getAs[Long]("qid")).values.forall(_.length == 5))
    // per query: identical to brute force over only that label's slice
    for ((qid, lbl) <- qLabels) {
      val slice = emb.where(col("label") === lbl)
      val bf = Similarity.bruteForceTopK(slice, "vec_id", "embedding",
          q.where(col("qid") === qid), "qid", "qvec", k = 5)
        .select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val got = rows.filter(_.getAs[Long]("qid") == qid)
        .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"),
          r.getAs[Int]("rank"))).toSet
      assert(got == bf, s"query $qid differs from label-slice brute force")
    }
  }

  test("centroidClassifierConfusion: separable labels sit on the diagonal; ties break to the smaller label") {
    import spark.implicits._
    // two well-separated 1-D classes -> perfect diagonal confusion
    val sep = Seq(
      (1L, Array(-0.3f), 0), (2L, Array(-0.5f), 0),
      (3L, Array(0.3f), 1), (4L, Array(0.5f), 1))
      .toDF("vec_id", "embedding", "label")
    val m = Similarity.centroidClassifierConfusion(sep, "vec_id",
        "embedding", "label").collect()
      .map(r => (r.getAs[Long]("label"), r.getAs[Long]("pred")) ->
        r.getAs[Long]("n")).toMap
    assert(m == Map((0L, 0L) -> 2L, (1L, 1L) -> 2L), m.toString)
    // exact equidistance: centroids at -0.25 and +0.25, probe vector at
    // 0.0 (its own class 2 centroid also at 0.0 -> dist 0 wins; use a
    // 3-class setup where class 2's member is pulled off-centroid)
    // simpler: two classes with centroids +/-0.25, one class-1 member at
    // exactly 0 -> equidistant to both centroids, encode picks label 0
    val tie = Seq(
      (1L, Array(-0.25f), 0),
      (2L, Array(0.5f), 1), (3L, Array(0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val tm = Similarity.centroidClassifierConfusion(tie, "vec_id",
        "embedding", "label").collect()
      .map(r => (r.getAs[Long]("label"), r.getAs[Long]("pred")) ->
        r.getAs[Long]("n")).toMap
    // centroids: label 0 at -0.25q; label 1 at (0.5q + 0) DIV 2 = 0.25q.
    // vec 3 (at 0) is equidistant -> tie goes to label 0
    assert(tm == Map((0L, 0L) -> 1L, (1L, 1L) -> 1L, (1L, 0L) -> 1L),
      tm.toString)
    // labels outside [0, 16) are a loud error, not a silent mis-encode
    val bad = Seq((1L, Array(0.1f), 99)).toDF("vec_id", "embedding", "label")
    val ex = intercept[Exception] {
      Similarity.centroidClassifierConfusion(bad, "vec_id", "embedding",
        "label").collect()
    }
    assert(ex.getMessage.contains("outside [0, 16)"), ex.getMessage)
  }

  test("winnowOverlapPairs: guaranteed detection of long shared passages, no false pairs") {
    // docs 1 and 2 share a 30-token passage (≥ window+n-1 = 11 tokens →
    // the winnowing guarantee promises at least one shared fingerprint);
    // doc 3 is disjoint vocabulary
    val passage = (1 to 30).map(i => s"p$i").mkString(" ")
    val docs = spark.createDataFrame(Seq(
      (1L, s"$passage alpha beta gamma delta"),
      (2L, s"intro words here now $passage"),
      (3L, (100 to 140).map(i => s"z$i").mkString(" "))))
      .toDF("doc_id", "text")
    val out = Dedup.winnowOverlapPairs(docs, "doc_id", "text",
        shingleN = 4, window = 8, minShared = 1L)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        (r.getAs[Long]("shared"), r.getAs[Long]("na"), r.getAs[Long]("nb"),
         r.getAs[Double]("overlap"))).toMap
    assert(out.keySet == Set((1L, 2L)), s"expected only the passage pair, got $out")
    val (shared, na, nb, overlap) = out((1L, 2L))
    assert(shared >= 1L, "the winnowing detection guarantee failed")
    assert(na > 0 && nb > 0 && shared <= math.min(na, nb))
    assert(overlap == shared.toDouble / math.min(na, nb))
    // raising minShared above the observed count drops the pair
    val strict = Dedup.winnowOverlapPairs(docs, "doc_id", "text",
        shingleN = 4, window = 8, minShared = shared + 1)
      .count()
    assert(strict == 0L)
  }

  test("kmeansAssign: hand-traced Lloyd iterations on two separated clusters") {
    // quantized points (×1024): (0,0) (1024,0) near origin; (10240,10240)
    // (11264,10240) far. init = ids 1,2. After iteration 1 the far pair
    // defects to cluster 1, and by iteration 2 centroids settle at
    // c0=(512,0), c1=(10752,10240) — assignment {1,2}→0, {3,4}→1.
    val pts = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(10.0f, 10.0f)), (4L, Array(11.0f, 10.0f)))
    val df = spark.createDataFrame(pts).toDF("vec_id", "embedding")
    val out = Similarity.kmeansAssign(df, "vec_id", "embedding",
        k = 2, iters = 3, dim = 2)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster"), r.getAs[Long]("dist"))).toMap
    assert(out.view.mapValues(_._1).toMap ==
      Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L))
    // p1's distance to the converged c0=(512,0) is 512²
    assert(out(1L)._2 == 512L * 512L)
    assert(out(3L)._2 == 512L * 512L) // symmetric: c1 midpoint offset 512
    // deterministic re-run
    val again = Similarity.kmeansAssign(df, "vec_id", "embedding",
        k = 2, iters = 3, dim = 2)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster")).toMap
    assert(again == out.view.mapValues(_._1).toMap)
    // empty cluster keeps its centroid instead of crashing: k=3 over the
    // same 4 points leaves init centroid 2 stranded once points defect
    val k3 = Similarity.kmeansAssign(df, "vec_id", "embedding",
        k = 3, iters = 3, dim = 2)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster")).toMap
    assert(k3.size == 4)
    // dimension mismatch fails loudly, not as a silent null assignment
    val bad = spark.createDataFrame(Seq((9L, Array(1.0f)))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.kmeansAssign(bad, "vec_id", "embedding", k = 1, iters = 1, dim = 2)
    }
    assert(e.getMessage.contains("kmeansAssign") ||
      e.getCause != null && e.getCause.getMessage.contains("kmeansAssign"),
      s"expected the loud dim guard, got: ${e.getMessage}")
    // a NaN coordinate fails loudly too — it would otherwise null the
    // distance array and unbox the null cluster to 0 in the update collect
    val nan = spark.createDataFrame(Seq((9L, Array(Float.NaN, 1.0f))))
      .toDF("vec_id", "embedding")
    val e2 = intercept[Exception] {
      Similarity.kmeansAssign(nan, "vec_id", "embedding", k = 1, iters = 1, dim = 2)
    }
    assert(e2.getMessage.contains("null or NaN") ||
      e2.getCause != null && e2.getCause.getMessage.contains("null or NaN"),
      s"expected the loud NaN guard, got: ${e2.getMessage}")
    // the O(k·dim) distance array must stay staged behind its alias: one
    // zip_with chain in the final projection, not one per consumer (the
    // parquet-backed table — a local relation constant-folds the plan away)
    val proj = inspectPlan(Similarity.kmeansAssign(emb, "vec_id", "embedding",
      k = 2, iters = 0, dim = 64).queryExecution.optimizedPlan.toString)
    val n = "zip_with".r.findAllIn(proj).length
    assert(n == 1,
      s"distance array inlined per consumer ($n zip_with occurrences):\n$proj")
  }

  test("semantic dedup: cluster blocking + cosine prune keeps min-id per near-dup group") {
    // three orthogonal centroids in dim 4; two near-dups at centroid 0,
    // one singleton at centroid 1, two same-cluster NON-dups at centroid 2
    val cents = Array(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val vecs = Seq(
      (1L, Seq(0.99f, 0.01f, 0f, 0f)),   // cluster 0, near-dup of 2
      (2L, Seq(0.98f, 0.02f, 0f, 0f)),   // cluster 0, dropped (larger id)
      (3L, Seq(0f, 1f, 0f, 0f)),         // cluster 1, singleton
      (4L, Seq(0f, 0f, 0.9f, 0.44f)),    // cluster 2, cosine(4,5) ≈ 0.63
      (5L, Seq(0f, 0f, 0.44f, -0.9f)))
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val out = Dedup.semanticSurvivors(df, "vec_id", "embedding", cents,
        threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 3L -> 1L, 4L -> 2L, 5L -> 2L),
      s"unexpected survivors/clusters: $out")
  }

  test("release is composition-safe: caller-owned cuts survive CC and joins") {
    import graft.util.Materialize
    import org.apache.spark.sql.graftbridge.RddBridge
    // a checkpointed INPUT (as a survivors operator's result would be)
    val input = spark.range(1, 33).toDF("doc_id").localCheckpoint(true)
    val pairs = spark.range(1, 32).select(
      col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val out = Dedup.connectedComponents(input, pairs, "doc_id")
    out.write.format("noop").mode("overwrite").save()
    // the caller's blocks must still be alive — the first-round label frame
    // is a projection of `input`, and releasing it would truncate lineage
    assert(input.count() == 32L,
      "connectedComponents released a checkpointed input it does not own")
    // backingRdd is root-only: a frame that merely CONTAINS checkpointed
    // inputs (join of two cuts) exposes no RDD, so release is a no-op
    val cutA = spark.range(0, 10).toDF("k").localCheckpoint(true)
    val cutB = spark.range(5, 15).toDF("k").localCheckpoint(true)
    val joined = cutA.join(cutB, "k")
    assert(RddBridge.backingRdd(joined).isEmpty,
      "composite plan must not expose an arbitrary input's RDD")
    Materialize.release(joined) // must not free cutA or cutB
    assert(cutA.count() == 10L && cutB.count() == 10L)
    // but a pruning projection of a cut still resolves (the CC loop shape)
    assert(RddBridge.backingRdd(cutA.select("k")).isDefined)
    input.unpersist(); cutA.unpersist(); cutB.unpersist()
  }

  test("scope exit is thread-scoped: thread A cannot free thread B's cuts") {
    import graft.util.Materialize
    import org.apache.spark.sql.graftbridge.RddBridge
    import org.apache.spark.storage.StorageLevel
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    import java.util.concurrent.atomic.AtomicReference
    def live(df: org.apache.spark.sql.DataFrame): Boolean =
      RddBridge.backingRdd(df).exists(_.getStorageLevel != StorageLevel.NONE)
    // the worker's scope stays open (an in-flight query) while this
    // thread's scope exits
    val exec = Executors.newSingleThreadExecutor()
    val inScope = new CountDownLatch(1)
    val finish = new CountDownLatch(1)
    val otherCut = new AtomicReference[org.apache.spark.sql.DataFrame]()
    try {
      val worker = exec.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = Materialize.scope {
          otherCut.set(Materialize.cut(spark.range(0, 100).toDF("v")))
          inScope.countDown()
          finish.await(60, TimeUnit.SECONDS)
          otherCut.get.count()
        }
      })
      assert(inScope.await(60, TimeUnit.SECONDS))
      val mine = Materialize.scope(Materialize.cut(spark.range(0, 50).toDF("v")))
      assert(!live(mine), "this thread's scope should free the one cut it owns")
      assert(live(otherCut.get) && otherCut.get.count() == 100L,
        "another thread's in-flight cut must survive this thread's scope exit")
      finish.countDown()
      assert(worker.get(60, TimeUnit.SECONDS) == 100L)
      assert(!live(otherCut.get), "the owner thread's scope should free its cut")
    } finally { exec.shutdown(); () }
  }

  test("dedup materialize modes: reliable and none match local; bad value loud") {
    val df = spark.createDataFrame(Seq(
      (1L, (1 to 40).map(i => s"t$i").mkString(" ")),
      (2L, (1 to 38).map(i => s"t$i").mkString(" ") + " x y"),
      (3L, (1 to 40).map(i => s"u$i").mkString(" ")))).toDF("doc_id", "text")
    def run(): Set[(Long, Long)] =
      Dedup.minhashLshPairs(df, "doc_id", "text", threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = run()
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    spark.conf.set("spark.graft.dedup.materialize", "reliable")
    try assert(run() == local, "reliable checkpoint changed the result")
    finally spark.conf.set("spark.graft.dedup.materialize", "local")
    // mode none hands the persist barriers to the caller's scope
    assert(inspectPlan(run()) == local, "lazy mode changed the result")
    spark.conf.set("spark.graft.dedup.materialize", "nope")
    try intercept[IllegalArgumentException](run())
    finally spark.conf.set("spark.graft.dedup.materialize", "local")
  }

  test("knnGraph: every node gets at most k distinct neighbors; top-1 recall vs brute force") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(sf("embeddings"))
    val g = graft.operators.Similarity.knnGraph(emb, "vec_id", "embedding",
      k = 5, nCentroids = 16, nProbe = 4,
      centroidsOverride = Some(graft.operators.Similarity.fixedCentroids(16, 64)))
      .collect()
    val n = emb.count()
    assert(g.map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).distinct.length == g.length)
    val perSrc = g.groupBy(_.getAs[Long]("src")).view.mapValues(_.length)
    assert(perSrc.values.forall(_ <= 5))
    assert(perSrc.size == n, "every node must appear as a source")
    // exact top-1 neighbor (brute force) should land in the approximate
    // top-5 for the overwhelming majority of nodes at this cell balance
    val q = emb.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact1 = graft.operators.Similarity.bruteForceTopK(
        emb, "vec_id", "embedding", q, "qid", "qvec", k = 2)
      .where(col("id") =!= col("qid")).where(col("rank") <= 2)
      .groupBy("qid").agg(min_by(col("id"), col("rank")).as("nn"))
      .collect().map(r => r.getAs[Long]("qid") -> r.getAs[Long]("nn")).toMap
    val hits = g.groupBy(_.getAs[Long]("src")).count { case (s, rows) =>
      rows.exists(_.getAs[Long]("dst") == exact1(s)) }
    assert(hits >= (n * 0.8).toLong, s"top-1 recall too low: $hits/$n")
  }

  test("editDistancePairs: banded blocking is lossless; threshold and maxLen are hard edges") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox"),        // d(1,2)=1 substitution
      (2L, "the quick brown fix"),
      (3L, "the quick brown foxes jump"), // d(1,3)=7 (" jump" + "es")
      (4L, "completely different text"),
      (5L, "x" * 600),                    // over maxLen -> excluded
      (6L, "x" * 600)                     // its exact twin, also excluded
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.editDistancePairs(
        docs, "doc_id", "text", maxDist = 8, maxLen = 512, bandWidth = 16)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
                r.getAs[Int]("dist")).toMap
    assert(out.contains((1L, 2L)) && out((1L, 2L)) == 1, s"got $out")
    assert(out.contains((1L, 3L)) && out((1L, 3L)) == 7,
      s"cross-band pair (len 19 vs 25 spans a width-16 band edge) lost: $out")
    assert(!out.keys.exists(p => p._1 == 4L || p._2 == 4L), s"got $out")
    assert(!out.keys.exists(p => p._1 == 5L || p._2 == 5L || p._1 == 6L),
      s"maxLen exclusion leaked: $out")
    // no duplicate pair rows from double band co-occurrence
    val all = graft.operators.Dedup.editDistancePairs(
        docs, "doc_id", "text", maxDist = 8, maxLen = 512, bandWidth = 16)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(all.distinct.length == all.length, s"duplicate pairs: ${all.toSeq}")
  }

  test("bestOfClusterSurvivors: keeps the argmax-score member; ties break to the smaller id") {
    import spark.implicits._
    val docs = Seq(
      (1L, 10L), (2L, 90L), (3L, 50L), // cluster {1,2,3}: 2 wins on score
      (4L, 70L), (5L, 70L),            // cluster {4,5}: tie -> 4 (smaller id)
      (6L, 5L)                         // singleton keeps itself
    ).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val out = graft.operators.Dedup.bestOfClusterSurvivors(
        docs, pairs, "doc_id", org.apache.spark.sql.functions.col("score"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_members"), r.getAs[Long]("score"))).toMap
    assert(out == Map(2L -> (3L, 90L), 4L -> (2L, 70L), 6L -> (1L, 5L)),
      s"got $out")
  }

  test("cooccurrenceLift: lift is pair_n*n/(df_a*df_b); ubiquitous tokens are capped out") {
    import spark.implicits._
    // 10 docs; "alpha beta" co-occur in 4; "noise" everywhere (df=10 -> cut
    // by the 0.9 fractional cap); "rare" df=1 (cut by minDf)
    val docs = (1L to 10L).map { i =>
      val ab = if (i <= 4) "alpha beta " else if (i <= 7) "alpha gamma " else "beta delta "
      (i, ab + "noise filler" + (if (i == 1) " rare" else ""))
    }.toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.cooccurrenceLift(
        docs, "doc_id", "text", minDf = 2, maxDfFrac = 0.9, minPair = 2,
        minTokenLen = 3)
      .collect()
    val byPair = out.map(r => (r.getAs[String]("tok_a"), r.getAs[String]("tok_b")) ->
      (r.getAs[Long]("pair_n"), r.getAs[Double]("lift"))).toMap
    assert(!byPair.keys.exists(p => p._1 == "noise" || p._2 == "noise" ||
                                    p._1 == "filler" || p._2 == "filler"),
      s"df=10 tokens must be cut by the 0.9 cap: $byPair")
    assert(!byPair.keys.exists(p => p._1 == "rare" || p._2 == "rare"))
    // alpha df=7, beta df=7, pair=4, n=10 -> lift = 4*10/49
    val (pn, lift) = byPair(("alpha", "beta"))
    assert(pn == 4L && math.abs(lift - 40.0 / 49.0) < 1e-15, s"got $pn $lift")
    // alpha df=7, gamma df=3, pair=3 -> lift = 3*10/21 (positive association)
    val (pg, lg) = byPair(("alpha", "gamma"))
    assert(pg == 3L && math.abs(lg - 30.0 / 21.0) < 1e-15, s"got $pg $lg")
    assert(byPair.keySet == Set(("alpha", "beta"), ("alpha", "gamma"),
      ("beta", "delta")), s"got ${byPair.keySet}")
  }

  test("int8QuantReport: hand-computed codes, reconstruction cosine, clamp and zero-vector edges") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),     // degenerate: NULL cosine
      (3L, Array(-0.1f, 0.1f, 0.05f, -0.02f))  // inexact scale path
    ).toDF("vec_id", "embedding")
    val r = graft.operators.Similarity
      .int8QuantReport(vecs, "vec_id", "embedding")
      .collect().map(x => x.getAs[Long]("vec_id") -> x).toMap
    // reference: the same scalar double ops the expression documents
    def ref(v: Array[Float]) = {
      val d = v.map(_.toDouble)
      val ma = d.map(math.abs).max
      val codes = d.map { x =>
        if (ma == 0.0) 0L
        else math.max(-127.0, math.min(127.0, math.floor(x * 127.0 / ma))).toLong
      }
      val rv = codes.map(c => c.toDouble * ma / 127.0)
      val dot = d.zip(rv).map { case (x, y) => x * y }.sum
      val nv = d.map(x => x * x).sum
      val nr = rv.map(x => x * x).sum
      val cos = if (ma == 0.0 || nr == 0.0) None
                else Some(dot / (math.sqrt(nv) * math.sqrt(nr)))
      (ma, codes.toSeq, cos, d.zip(rv).map { case (x, y) => math.abs(x - y) }.max)
    }
    val (ma1, codes1, cos1, err1) = ref(Array(1.0f, -0.5f, 0.25f, 0.0f))
    assert(codes1 == Seq(127L, -64L, 31L, 0L)) // floor, not round: -63.5 -> -64
    val g1 = r(1L)
    assert(g1.getAs[Double]("max_abs") == ma1)
    assert(g1.getAs[Double]("cos_recon") == cos1.get)
    assert(g1.getAs[Double]("max_abs_err") == err1)
    assert(g1.getAs[Long]("n_clamped") == 0L)
    val g2 = r(2L)
    assert(g2.isNullAt(g2.fieldIndex("cos_recon")), "all-zero vector must yield NULL cosine")
    assert(g2.getAs[Double]("max_abs") == 0.0 && g2.getAs[Long]("n_clamped") == 0L)
    val (_, _, cos3, err3) = ref(Array(-0.1f, 0.1f, 0.05f, -0.02f))
    val g3 = r(3L)
    assert(g3.getAs[Double]("cos_recon") == cos3.get, "bit-exact to the scalar reference")
    assert(g3.getAs[Double]("max_abs_err") == err3)
    assert(g3.getAs[Double]("cos_recon") > 0.99, "4x compression should keep cosine high")
  }

  test("sortedNeighborhoodPairs: prefix-adjacent near-dups found, window is a hard edge, matches reference") {
    import spark.implicits._
    // shared-prefix family (sorts adjacent) + a pair differing at the
    // FRONT (sorts apart -> SNM's documented recall limit) + noise rows
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta common tail words here"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta common tail words too"),
      (3L, "zz totally different front but common tail words here alpha beta gamma"),
      (4L, "mmm unrelated middle document about nothing shared at all ok"),
      (5L, "qqq another unrelated document with its own words entirely")
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .sortedNeighborhoodPairs(docs, "doc_id", "text",
        window = 1, keyLen = 24, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 1 and 2 share the sort prefix AND high jaccard -> found
    assert(got.contains((1L, 2L)), s"prefix-adjacent near-dup missed: $got")
    // reference check at window 2: every pair within rank distance <= 2
    // with jaccard >= t, computed driver-side
    val ref = {
      def norm(t: String) = t.toLowerCase.replaceAll("[^a-z0-9\\s]", " ")
        .replaceAll("\\s+", " ").trim
      def shingles(t: String) = {
        val tk = norm(t).split(" ").toSeq
        if (tk.length < 3) Set(tk.mkString(" "))
        else tk.sliding(3).map(_.mkString(" ")).toSet
      }
      val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      val ranked = rows.sortBy { case (id, t) => (norm(t).take(24), id) }
        .zipWithIndex
      (for {
        ((ida, ta), ra) <- ranked; ((idb, tb), rb) <- ranked
        if rb > ra && rb - ra <= 2
        sa = shingles(ta); sb = shingles(tb)
        inter = (sa & sb).size
        j = inter.toDouble / (sa.size + sb.size - inter)
        if j >= 0.2
      } yield (math.min(ida, idb), math.max(ida, idb))).toSet
    }
    val got2 = graft.operators.Dedup
      .sortedNeighborhoodPairs(docs, "doc_id", "text",
        window = 2, keyLen = 24, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == ref, s"engine $got2 vs reference $ref")
  }

  test("sortedNeighborhoodPairs: candidate generation is exactly-once (no duplicate pairs)") {
    val docs = spark.read.parquet(sf("documents"))
    val out = graft.operators.Dedup
      .sortedNeighborhoodPairs(docs, "doc_id", "text", window = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == out.distinct.length, "duplicate candidate pairs emitted")
  }

  test("sortedNeighborhoodMultiPass: a front-differing near-dup missed by pass 1 is found by pass 2") {
    import spark.implicits._
    // docs 1/2 share everything EXCEPT the first ~16 chars, so the
    // pass-1 prefix keys sort them far apart (1 sorts near "aaa", 2 near
    // "zzz", with spacers between); the pass-2 key starts at char 17 —
    // inside the shared region — so they become rank-adjacent
    val shared = "identical shared tail of considerable length here ok yes"
    val docs = Seq(
      (1L, s"aaa aaa aaa aaa $shared"),
      (2L, s"zzz zzz zzz zzz $shared"),
      (3L, "bbb unrelated filler document one two three four five six"),
      (4L, "ccc another filler document seven eight nine ten eleven"),
      (5L, "ddd more filler text twelve thirteen fourteen fifteen ok"),
      (6L, "mmm yet more filler sixteen seventeen eighteen nineteen"),
      (7L, "qqq filler again twenty twentyone twentytwo twentythree")
    ).toDF("doc_id", "text")
    val onePass = graft.operators.Dedup
      .sortedNeighborhoodPairs(docs, "doc_id", "text",
        window = 1, keyLen = 16, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!onePass.contains((1L, 2L)),
      s"test premise broken: pass 1 should miss the front-differing pair, got $onePass")
    val multi = graft.operators.Dedup
      .sortedNeighborhoodMultiPass(docs, "doc_id", "text",
        passes = 2, stride = 16, window = 1, keyLen = 16, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(multi.contains((1L, 2L)),
      s"pass-2 key (offset 17) must recover the pair: $multi")
    // and the union carries no duplicate pairs
    val all = graft.operators.Dedup
      .sortedNeighborhoodMultiPass(docs, "doc_id", "text",
        passes = 2, stride = 16, window = 2, keyLen = 16, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(all.length == all.distinct.length, "multi-pass union not deduplicated")
  }

  test("sortedNeighborhoodMultiPass: shared-base passes equal independent public passes exactly") {
    // round-17: multi-pass shares ONE normalization+shingle base across
    // passes; each pass must stay byte-identical to the public single-pass
    // operator at the same key offset (same substring of the same
    // normalized text, same shingle sets)
    val docs = spark.read.parquet(sf("documents"))
    val multi = graft.operators.Dedup
      .sortedNeighborhoodMultiPass(docs, "doc_id", "text",
        passes = 2, stride = 16, window = 8, keyLen = 24, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val composed = (0 until 2).map { p =>
      graft.operators.Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
          window = 8, keyLen = 24, threshold = 0.3, keyStart = 1 + p * 16)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }.reduce(_ union _)
    assert(multi == composed,
      s"shared-base multipass diverged: ${multi.size} vs ${composed.size} pairs")
  }

  test("sortedNeighborhoodMultiPass: an invalid argument throws before the shared base is cached") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    spark.catalog.clearCache() // isolate from earlier specs' cache entries
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.sortedNeighborhoodMultiPass(docs, "doc_id", "text",
        window = 0)
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "a rejected window left the shared SNM base persisted")
  }

  test("weightedMinhashPairs: capWeight=1 degrades to plain MinHash exactly (salt 0 is 0)") {
    val docs = spark.read.parquet(sf("documents"))
    val plain = graft.operators.Dedup
      .minhashLshPairs(docs, "doc_id", "text",
        numHashes = 128, bands = 16, threshold = 0.4)
      .select("id_a", "id_b", "est_jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val weighted = graft.operators.Dedup
      .weightedMinhashPairs(docs, "doc_id", "text",
        numHashes = 128, bands = 16, threshold = 0.4, capWeight = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(weighted == plain,
      s"capWeight=1 must equal plain minhash: ${weighted.size} vs ${plain.size}")
  }

  test("weightedMinhashPairs: estimates track the exact weighted jaccard on shared pairs") {
    val docs = spark.read.parquet(sf("documents"))
    val exact = graft.operators.Dedup
      .weightedJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.1, maxDocFreq = Long.MaxValue)
      .select("id_a", "id_b", "wjaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val sketch = graft.operators.Dedup
      .weightedMinhashPairs(docs, "doc_id", "text",
        numHashes = 128, bands = 16, threshold = 0.3, capWeight = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    // capWeight=64 >= N/df for every shingle at sf0.001 (N < 64 needs no
    // cap... N=50 docs, min df 1 -> max weight 50 <= 64), so the sketch
    // estimates the UNCAPPED score the exact operator computes
    val shared = sketch.filter { case (p, _) => exact.contains(p) }
    assert(shared.nonEmpty, "no overlapping pairs to compare")
    shared.foreach { case (p, est) =>
      assert(math.abs(est - exact(p)) <= 0.30,
        s"pair $p: sketch $est vs exact ${exact(p)}")
    }
  }

  test("weightedMinhashVerifiedPairs: exact capped-weight scores, recomputed driver-side") {
    val docs = spark.read.parquet(sf("documents"))
    val out = graft.operators.Dedup
      .weightedMinhashVerifiedPairs(docs, "doc_id", "text",
        candidateThreshold = 0.2, threshold = 0.3, capWeight = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("shared_w"), r.getAs[Double]("wjaccard"))).toMap
    assert(out.nonEmpty, "fixture should produce at least one verified pair")
    // driver-side reference: capped global weights over shingle STRINGS
    def shingles(t: String) = {
      val norm = t.toLowerCase.replaceAll("[^a-z0-9\\s]", " ")
        .replaceAll("\\s+", " ").trim
      val tk = norm.split(" ").toSeq
      if (tk.length < 3) Set(tk.mkString(" "))
      else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    val rows = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> shingles(r.getString(1))).toMap
    val n = rows.size.toLong
    val dfreq = rows.values.flatten.groupBy(identity)
      .map { case (h, xs) => h -> xs.size.toLong }
    def w(h: String) = math.min(n / dfreq(h), 8L)
    val wt = rows.map { case (id, hs) => id -> hs.toSeq.map(w).sum }
    out.foreach { case ((a, b), (sharedW, wj)) =>
      val shared = (rows(a) & rows(b)).toSeq.map(w).sum
      assert(sharedW == shared, s"pair ($a,$b) shared_w")
      val expect = shared.toDouble / (wt(a) + wt(b) - shared).toDouble
      assert(wj == expect, s"pair ($a,$b) wjaccard $wj vs $expect")
      assert(wj >= 0.3)
    }
  }

  test("mmrTopK: diversity beats a duplicate; relevance argmax ties on id") {
    import spark.implicits._
    // query (1,0,0). 10 and 11 are exact duplicates (rel 0.9, tie -> 10);
    // step 2: the duplicate 11 scores 0.7*0.9 - 0.3*1.0 = 0.33 while the
    // diverse 12 scores 0.7*0.8 - 0.3*0.4585 = 0.4225 -> 12 wins even
    // though its raw relevance is lower
    val corpus = Seq(
      (10L, Array(0.9f, 0.43589f, 0f)),
      (11L, Array(0.9f, 0.43589f, 0f)),
      (12L, Array(0.8f, -0.6f, 0f)),
      (13L, Array(0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val q = Seq((1L, Array(1f, 0f, 0f))).toDF("qid", "qvec")
    val out = Similarity.mmrTopK(corpus, "vec_id", "embedding",
        q, "qid", "qvec", poolK = 4, k = 2)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"),
        r.getAs[Int]("rank"))).toSeq
    assert(out == Seq((1L, 10L, 1), (1L, 12L, 2)), s"got ${out.toList}")
  }

  test("reciprocalRankFusion: integer reciprocal sums, overlap wins, id tie-break") {
    import spark.implicits._
    val a = Seq((1L, 100L, 1), (1L, 200L, 2)).toDF("qid", "id", "rank")
    val b = Seq((1L, 200L, 1), (1L, 300L, 2)).toDF("qid", "id", "rank")
    val out = Similarity.reciprocalRankFusion(Seq(a, b), k = 10)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("rrf_score"),
        r.getAs[Int]("rank"))).toSeq
    val s1 = 1000000000L / 61L // rank 1 contribution
    val s2 = 1000000000L / 62L // rank 2 contribution
    // 200 appears in both lists (ranks 2 and 1) and must win the fusion
    assert(out == Seq((200L, s1 + s2, 1), (100L, s1, 2), (300L, s2, 3)),
      s"got ${out.toList}")
  }

  test("pcaTopComponent: axis-aligned variance recovers the axis exactly") {
    import spark.implicits._
    // ±1 along dim 2 only: xq = ±128, centered Gram = diag(0,0,16384,0),
    // the all-ones start converges in one round, and lambda IS c_22
    val rows = Seq.fill(2)(Array(0f, 0f, 1f, 0f)) ++
               Seq.fill(2)(Array(0f, 0f, -1f, 0f))
    val df = rows.toDF("embedding")
    val out = Similarity.pcaTopComponent(df, "embedding", dim = 4)
      .orderBy("d").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._2).toSeq == Seq(0L, 0L, 1048576L, 0L),
      s"got ${out.mkString(", ")}")
    assert(out.forall(_._3 == 16384L), s"lambda: ${out.head._3}")
  }

  test("pcaProjectionReport: on-axis rows near 10^6 ppm, orthogonal near 0, zero vector NULL") {
    import spark.implicits._
    val rows = Seq.fill(2)(Array(0f, 0f, 1f, 0f)) ++
               Seq.fill(2)(Array(0f, 0f, -1f, 0f)) ++
               Seq(Array(1f, 0f, 0f, 0f), Array(0f, 0f, 0f, 0f))
    val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val r = Similarity.pcaProjectionReport(df, "vec_id", "embedding",
        dim = 4)
      .orderBy("vec_id").collect()
    // dim-2 variance dominates -> the component is (nearly) the axis:
    // the four on-axis rows capture almost all their energy, the
    // orthogonal dim-0 row almost none, the zero row NULL-guards
    (0 to 3).foreach { i =>
      assert(r(i).getAs[Long]("proj_frac_ppm") >= 990000L,
        s"row $i: ${r(i)}")
    }
    assert(r(4).getAs[Long]("proj_frac_ppm") <= 1000L, s"row 4: ${r(4)}")
    assert(r(5).isNullAt(r(5).fieldIndex("proj_frac_ppm")), s"row 5: ${r(5)}")
  }

  test("pcaTopComponent: partitioning-invariant; canonical sign non-negative") {
    val emb = spark.read.parquet(sf("embeddings"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.pcaTopComponent(d, "embedding", dim = 64)
        .orderBy("d").collect().map(_.toSeq).toSeq
    val a = run(emb.repartition(7))
    val b = run(emb.repartition(2))
    assert(a == b, "pcaTopComponent depends on input partitioning")
    val loadings = a.map(_(1).asInstanceOf[Long])
    val lead = loadings.zipWithIndex.maxBy(x => (math.abs(x._1), -x._2))
    assert(lead._1 >= 0L, s"canonical sign broken: $lead")
    assert(loadings.exists(_ != 0L))
  }
}
