package graft.operators

import graft.util.Materialize
import graft.functions.{TextFunctions => TF}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-corpus text analysis: language ID, quality scoring, token
  * accounting, fingerprinting (SURVEY.md §7 phase 5). One narrow
  * projection — no shuffle, whole-stage codegen'd column expressions only —
  * so at 100 TB it is scan-bound and embarrassingly parallel. */
object TextAnalysis {

  /** Full per-document profile. */
  def profile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col(idCol),
      TF.langId(t).as("lang_pred"),
      TF.qualityScore(t).as("quality"),
      size(TF.tokens(t)).cast("long").as("n_words"),
      TF.bpeishTokenCount(t).cast("long").as("n_tokens_bpe"),
      length(t).cast("long").as("n_chars"),
      TF.fingerprint(t).as("fingerprint"))
  }

  /** Corpus token accounting per source/lang — the "how much training data
    * do we have" report. */
  def tokenReport(df: DataFrame, textCol: String, byCols: String*): DataFrame =
    df.groupBy(byCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
           sum(size(TF.tokens(col(textCol))).cast("long")).as("total_words"),
           sum(TF.bpeishTokenCount(col(textCol)).cast("long")).as("total_tokens_bpe"),
           sum(length(col(textCol)).cast("long")).as("total_chars"))

  /** Quality filter: keep docs above a score threshold with a predicted
    * language in `langs` (empty = any). One native predicate evaluation per
    * row — FilterExec codegen does not fold repeated subexpressions, so the
    * equivalent Column composition re-normalized the text ~10× per row
    * (see [[graft.functions.QualityLangKeep]]). */
  def qualityFilter(df: DataFrame, textCol: String, minScore: Long,
                    langs: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    df.where(column(graft.functions.QualityLangKeep(
      expression(col(textCol)), minScore, langs)))
  }

  /** The full Gopher-style document filter (Rae et al. 2021, appendix A1):
    * the native quality/language keep-predicate composed with the
    * repetition caps — a document survives if its quality score and
    * language pass AND none of its per-n dup/top n-gram occupancies exceed
    * the ppm thresholds.
    *
    * Order matters at scale: the narrow scan-bound quality predicate runs
    * FIRST, so only survivors pay the n-gram counting shuffle (repetition
    * signals are per-document — filtering first cannot change them). */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
                   minScore: Long, langs: Seq[String],
                   maxDupPpm: Long, maxTopPpm: Long,
                   ns: Seq[Int] = Seq(2)): DataFrame = {
    val kept = qualityFilter(df, textCol, minScore, langs)
    // the repetition report covers every kept id (zero-filled) and is
    // already materialized, so the final keep-set derives from IT — the
    // quality predicate runs exactly once (inside the report's token
    // materialization), never a second time on the anti-join side
    val rep = repetitionReport(kept, idCol, textCol, ns)
    val viol = col("dup_ppm") > maxDupPpm || col("top_ppm") > maxTopPpm
    val goodIds = rep.groupBy(col(idCol))
      .agg(max(when(viol, 1).otherwise(0)).as("__v"))
      .where(col("__v") === 0).select(col(idCol))
    df.join(goodIds, Seq(idCol), "left_semi")
  }

  /** The end-to-end curation pipeline a training-data run actually
    * executes, as one composed operator: [[gopherFilter]] (quality/language
    * predicate + repetition caps) → normalized exact dedup (min-id survivor
    * among the kept set, via [[Dedup.normalizedSurvivors]]) → per-group
    * diversity cap ([[Sampling.capPerGroup]], preferring large `sizeCol`).
    * Output: the filtered set annotated with each survivor's absorbed
    * `n_copies` and its `group_rank` within `groupCol`.
    *
    * The gopher survivor frame feeds BOTH the dedup reduction and the join
    * back (different exchange subtrees — ReuseExchange cannot dedup them),
    * so it persists behind a barrier: the corpus scan and the quality
    * predicate run once, not twice. The survivor join itself carries ids
    * and slim counts, never document bodies. */
  def curationPipeline(df: DataFrame, idCol: String, textCol: String,
                       groupCol: String, sizeCol: String,
                       minScore: Long, langs: Seq[String],
                       maxDupPpm: Long, maxTopPpm: Long,
                       maxPerGroup: Int, ns: Seq[Int] = Seq(2)): DataFrame = Materialize.scope {
    val kept = Materialize.persist(gopherFilter(df, idCol, textCol, minScore, langs,
      maxDupPpm, maxTopPpm, ns))
    val surv = Dedup.normalizedSurvivors(kept, idCol, textCol)
      .select(col(idCol), col("n_copies"))
    val out = Sampling.capPerGroup(kept.join(surv, Seq(idCol)), groupCol,
      maxPerGroup, order = Seq(col(sizeCol).desc, col(idCol).asc))
    Materialize.result(out)
  }

  /** Vocabulary coverage curve — the tokenizer-sizing diagnostic: the share
    * of token OCCURRENCES covered by the top-N most frequent tokens, for
    * each N. Token counts aggregate once (one shuffle, map-side combined);
    * each N's numerator is a distributed top-k (TakeOrderedAndProject over
    * the vocabulary-sized count table — no global single-task window), tie
    * broken (count desc, token asc) so the cut is a total order. */
  def vocabCoverage(df: DataFrame, textCol: String,
                    ns: Seq[Int] = Seq(100, 1000)): DataFrame = Materialize.scope {
    require(ns.nonEmpty && ns.forall(_ >= 1), "coverage sizes must be >= 1")
    val counts = Materialize.persist(df.select(explode(TF.tokens(col(textCol))).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("c"))) // reused by the total and every N's top-k cut
    val total = counts.agg(sum("c").as("total_occ"))
    val rows = ns.map { n =>
      counts.orderBy(col("c").desc, col("tok").asc).limit(n)
        .agg(sum(col("c")).as("covered_occ"))
        .select(lit(n).as("top_n"), col("covered_occ"))
    }.reduce(_.unionByName(_))
    val out = rows.crossJoin(total)
      .withColumn("covered_frac",
        col("covered_occ").cast("double") / col("total_occ").cast("double"))
    Materialize.result(out)
  }

  /** Stage-by-stage per-group retention report of [[curationPipeline]] —
    * the data-card accounting table every corpus release ships: documents
    * contributed per source and survivors after (1) nothing, (2) the
    * Gopher quality/language/repetition filter, (3) normalized exact
    * dedup, (4) the per-group diversity cap. Stages reuse the pipeline's
    * own operators on one persisted survivor frame, so the report IS the
    * pipeline's accounting, not a parallel re-implementation that could
    * drift. Each stage collapses to per-group counts before the union —
    * four few-row aggregates, one corpus pass. Output: groupCol, stage,
    * stage_name, docs, retained_frac (share of the stage-1 count). */
  def curationReport(df: DataFrame, idCol: String, textCol: String,
                     groupCol: String, sizeCol: String,
                     minScore: Long, langs: Seq[String],
                     maxDupPpm: Long, maxTopPpm: Long,
                     maxPerGroup: Int, ns: Seq[Int] = Seq(2)): DataFrame = Materialize.scope {
    val kept = Materialize.persist(gopherFilter(df, idCol, textCol, minScore, langs,
      maxDupPpm, maxTopPpm, ns))
    val surv = Dedup.normalizedSurvivors(kept, idCol, textCol)
      .select(col(idCol))
    val deduped = kept.join(surv, Seq(idCol), "left_semi")
    val capped = Sampling.capPerGroup(deduped, groupCol, maxPerGroup,
      order = Seq(col(sizeCol).desc, col(idCol).asc))
    def stage(d: DataFrame, i: Int, nm: String): DataFrame =
      d.groupBy(col(groupCol)).agg(count(lit(1)).as("docs"))
        .select(col(groupCol), lit(i).as("stage"), lit(nm).as("stage_name"),
                col("docs"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    val out = stage(df, 1, "raw")
      .unionByName(stage(kept, 2, "quality"))
      .unionByName(stage(deduped, 3, "dedup"))
      .unionByName(stage(capped, 4, "cap"))
      .withColumn("retained_frac", col("docs").cast("double") /
        max(when(col("stage") === 1, col("docs"))).over(w).cast("double"))
    Materialize.result(out)
  }

  /** Gopher-style repetition signals (Rae et al. 2021, appendix A1.1): per
    * document and n-gram size, the fraction of n-gram OCCURRENCES belonging
    * to an n-gram that appears more than once in the doc (`dup_ppm`) and
    * the fraction claimed by the single most frequent n-gram (`top_ppm`),
    * both as integer parts-per-million — no float division, so the result
    * is engine-exact. High duplicate fractions flag the repetitive
    * boilerplate / degenerate-generation docs every corpus filter drops
    * before training.
    *
    * Scale shape: tokens materialize once behind a persist barrier (HOF
    * lambda arguments re-evaluate per element otherwise — the measured
    * CollapseProject trap), n-grams explode to `(doc, xxhash64(gram))` so
    * the counting shuffle carries 8-byte keys, never gram text (the
    * md5-dedup trade: a 2⁻⁶⁴ within-doc collision would merge two counts).
    * The per-doc aggregates are functions of the count multiset — invariant
    * to the grouping key — so the DuckDB oracle groups on the gram strings
    * themselves and lands on identical integers. Docs shorter than `n`
    * tokens report zero n-grams rather than vanishing. */
  def repetitionReport(df: DataFrame, idCol: String, textCol: String,
                       ns: Seq[Int] = Seq(2, 3)): DataFrame = Materialize.scope {
    require(ns.nonEmpty && ns.forall(_ >= 1), "n-gram sizes must be >= 1")
    // barrier: keep tokens() out of the n-gram lambdas
    val toks = Materialize.persist(df.select(col(idCol).as("id"), TF.tokens(col(textCol)).as("tk")))
    val perN = ns.map { n =>
      val grams = toks.select(col("id"), explode(
        when(size(col("tk")) >= n,
            transform(sequence(lit(0), size(col("tk")) - n),
              i => xxhash64(array_join(slice(col("tk"), i + lit(1), lit(n)), " "))))
          .otherwise(array().cast("array<bigint>"))).as("h"))
      grams.groupBy(col("id"), col("h")).agg(count(lit(1)).as("c"))
        .groupBy(col("id"))
        .agg(sum(col("c")).as("total"),
             sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("dup"),
             max(col("c")).as("top"))
        .select(col("id"), lit(n).as("n"), col("total"),
                expr("dup * 1000000 DIV total").as("dup_ppm"),
                expr("top * 1000000 DIV total").as("top_ppm"))
    }
    // zero-fill (id, n) combinations the explode dropped (docs with < n
    // tokens) so the report covers the whole corpus
    val frame = toks.select(col("id"),
      explode(array(ns.map(n => lit(n)): _*)).as("n"))
    val out = frame.join(perN.reduce(_.unionByName(_)), Seq("id", "n"), "left")
      .select(col("id").as(idCol), col("n"),
              coalesce(col("total"), lit(0L)).as("total_ngrams"),
              coalesce(col("dup_ppm"), lit(0L)).as("dup_ppm"),
              coalesce(col("top_ppm"), lit(0L)).as("top_ppm"))
    Materialize.result(out)
  }

  /** Corpus length-distribution report per group: exact interpolated
    * percentiles of character and word counts (Spark's `percentile` — a
    * sort-based exact aggregate, fine at per-group cardinalities; switch to
    * `percentile_approx` when a single group exceeds executor memory, same
    * call shape). Length distributions are the first thing a training-data
    * pipeline inspects before choosing truncation/packing lengths. */
  def lengthDistribution(df: DataFrame, textCol: String, byCols: String*): DataFrame = {
    val nChars = length(col(textCol))
    val nWords = size(TF.tokens(col(textCol)))
    df.groupBy(byCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
           min(nChars).cast("long").as("chars_min"),
           percentile(nChars, lit(0.25)).as("chars_p25"),
           percentile(nChars, lit(0.5)).as("chars_p50"),
           percentile(nChars, lit(0.75)).as("chars_p75"),
           percentile(nChars, lit(0.95)).as("chars_p95"),
           max(nChars).cast("long").as("chars_max"),
           percentile(nWords, lit(0.5)).as("words_p50"),
           percentile(nWords, lit(0.95)).as("words_p95"))
  }

  /** The SCALE path of the length report: `percentile_approx` (a bounded
    * quantile sketch — one pass, fixed memory) beside the exact sorted
    * percentile, with the sketch's guarantee CHECKED in-engine on the RANK
    * INTERVAL of the returned element: a value duplicated k times occupies
    * ranks (count(<v), count(<=v)], and the sketch guarantees that interval
    * touches the target rank n/2 within `n/accuracy` (+1 interpolation
    * slack). Counting only `<=` would let ties of the median value both
    * fake a failure (every duplicate inflates the count past the bound) and
    * mask a real one. Same pattern as the HLL vocabulary row — the exact
    * columns are oracle-checked, the sketch is validated as an error-bound
    * boolean rather than bit-compared (sketch internals aren't cross-engine
    * reproducible). Two passes over the grouped data (sketch, then a
    * rank count against the sketch value): still scan-bound, no sort. */
  def lengthDistributionApprox(df: DataFrame, textCol: String,
                               accuracy: Int, byCols: String*): DataFrame = {
    require(accuracy >= 1, s"accuracy must be >= 1, got $accuracy")
    val nChars = length(col(textCol)).cast("long")
    val approx = df.groupBy(byCols.map(col): _*)
      .agg(percentile_approx(nChars, lit(0.5), lit(accuracy)).as("p50_approx"))
    val joined = df.join(broadcast(approx), byCols.toSeq)
    joined.groupBy(byCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
           percentile(nChars, lit(0.5)).as("chars_p50_exact"),
           sum(when(nChars < col("p50_approx"), 1L).otherwise(0L)).as("__lt"),
           sum(when(nChars <= col("p50_approx"), 1L).otherwise(0L)).as("__le"))
      .withColumn("approx_ok", {
        val target = col("n_docs").cast("double") / 2.0
        val eps    = col("n_docs").cast("double") / accuracy + 1.0
        // the element's rank interval (__lt, __le] must overlap
        // [target - eps, target + eps]
        col("__le").cast("double") >= target - eps &&
          col("__lt").cast("double") <= target + eps
      })
      .drop("__lt", "__le")
  }

  /** The SKETCH path of the length report at 100 TB: a mergeable bottom-k
    * quantile sketch ([[graft.functions.BottomKSketch]] — k smallest
    * row-hashes, i.e. a deterministic uniform row sample) per group, probed
    * for p50/p90/p99 beside the EXACT same-rule quantiles as the
    * validation overlay. The exact arm sorts each group's values
    * (collect_list — bounded by the gate's group sizes); at production
    * scale it is dropped exactly like `hllCardinality`'s countDistinct
    * overlay — the sketch columns are the product, the exact columns are
    * the harness's check. Both arms use the same deterministic rank rule
    * (value at 1-based rank `floor(q·(n−1))+1`), so every emitted number
    * is bit-replicable cross-engine — unlike interpolated `percentile`,
    * whose float blend is not. `idCol` must be row-unique (it seeds the
    * sample ranking via `mix64`). */
  def lengthSketch(df: DataFrame, idCol: String, textCol: String, k: Int,
                   byCols: String*): DataFrame = {
    import graft.functions.Sketches
    require(byCols.nonEmpty, "at least one grouping column required")
    val rows = lengthSketchRows(df, idCol, textCol, byCols)
    val sk = rows.groupBy(byCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
           Sketches.bottomKSketch(col("__rh"), col("__v"), k).as("__sk"))
    lengthSketchReport(sk, lengthSketchExact(rows, byCols), byCols)
  }

  /** `(byCols..., __rh, __v)` — the sample-ranking hash + value rows both
    * the batch gate and its streaming twin feed to the sketch aggregate. */
  def lengthSketchRows(df: DataFrame, idCol: String, textCol: String,
                       byCols: Seq[String]): DataFrame =
    df.select((byCols.map(col) :+
      graft.functions.Mix64.mix64(col(idCol), seed = 0L).as("__rh") :+
      length(col(textCol)).cast("long").as("__v")): _*)

  /** Exact same-rule quantile overlay per group (sort-based — validation
    * only, dropped at production scale like hllCardinality's exact arm). */
  def lengthSketchExact(rows: DataFrame, byCols: Seq[String]): DataFrame = {
    def exactQ(q: Double): Column = {
      val vals = array_sort(collect_list(col("__v")))
      element_at(vals,
        floor(lit(q) * (size(vals) - lit(1)).cast("double")).cast("int") + 1)
    }
    rows.groupBy(byCols.map(col): _*)
      .agg(exactQ(0.5).as("p50_exact"),
           exactQ(0.9).as("p90_exact"),
           exactQ(0.99).as("p99_exact"))
  }

  /** The report tail shared by the batch gate and its streaming twin:
    * probe the per-group sketch table `(byCols..., n_docs, __sk)` and join
    * the exact overlay. */
  def lengthSketchReport(sk: DataFrame, exact: DataFrame,
                         byCols: Seq[String]): DataFrame = {
    import graft.functions.Sketches
    sk.join(exact, byCols)
      .select((byCols.map(col) :+ col("n_docs") :+
        size(col("__sk")).cast("long").as("sample_n") :+
        Sketches.sketchQuantile(col("__sk"), 0.5).as("p50_est") :+
        Sketches.sketchQuantile(col("__sk"), 0.9).as("p90_est") :+
        Sketches.sketchQuantile(col("__sk"), 0.99).as("p99_est") :+
        col("p50_exact") :+ col("p90_exact") :+ col("p99_exact")): _*)
  }

  /** Sketch-algebra gate for the quantile sketch, the [[hllMergeRollup]]
    * pattern: per-(coarse, fine) sketches merged DECLARATIVELY
    * (flatten → struct-sort → truncate to k — the bottom-k union algebra)
    * must equal the sketch computed directly per coarse group. This is
    * what makes the sketch a storable column: a 100 TB pipeline maintains
    * per-partition sketch tables and answers any-granularity quantiles
    * without rescanning rows. Emits both fingerprints, their equality,
    * and the merged sketch's quantile probes. */
  def lengthSketchRollup(df: DataFrame, idCol: String, textCol: String,
                         k: Int, fineCol: String, coarseCol: String): DataFrame = {
    import graft.functions.{Mix64, Sketches}
    val rows = df.select(col(coarseCol), col(fineCol),
      Mix64.mix64(col(idCol), seed = 0L).as("__rh"),
      length(col(textCol)).cast("long").as("__v"))
    val fine = rows.groupBy(col(coarseCol), col(fineCol))
      .agg(Sketches.bottomKSketch(col("__rh"), col("__v"), k).as("sk"))
    val merged = fine.groupBy(col(coarseCol))
      .agg(slice(array_sort(flatten(collect_list(col("sk")))), 1, k)
        .as("sk_merged"))
    val direct = rows.groupBy(col(coarseCol))
      .agg(Sketches.bottomKSketch(col("__rh"), col("__v"), k).as("sk_direct"))
    def fp(c: Column): Column = md5(array_join(
      transform(c, x => concat_ws(":",
        x.getField("h").cast("string"), x.getField("v").cast("string"))), ","))
    merged.join(direct, coarseCol)
      .select(col(coarseCol),
        size(col("sk_merged")).cast("long").as("sample_n"),
        fp(col("sk_merged")).as("merged_md5"),
        fp(col("sk_direct")).as("direct_md5"),
        (col("sk_merged") === col("sk_direct")).as("merged_eq_direct"),
        Sketches.sketchQuantile(col("sk_merged"), 0.5).as("p50_est"),
        Sketches.sketchQuantile(col("sk_merged"), 0.99).as("p99_est"))
  }

  /** Eval-set contamination check: for each benchmark document, the
    * fraction of its distinct n-gram shingles that appear anywhere in the
    * training corpus. Scale shape: the corpus side reduces to its DISTINCT
    * shingle-hash set (one dedup shuffle, 64-bit keys only — the text never
    * moves), the benchmark explodes its shingles, and hits come from a
    * LEFT SEMI join — no pair materialization, corpus size only enters
    * through the distinct-set build. */
  def contamination(corpus: DataFrame, corpusText: String,
                    benchmark: DataFrame, benchId: String, benchText: String,
                    shingleN: Int = 3): DataFrame = {
    val corpusSh = corpus
      .select(explode(TF.shingleHashes(col(corpusText), shingleN)).as("h"))
      .distinct()
    val bench = benchmark.select(col(benchId).as("bench_id"),
      explode(TF.shingleHashes(col(benchText), shingleN)).as("h"))
    val totals = bench.groupBy("bench_id").agg(count(lit(1)).as("n_shingles"))
    val hits = bench.join(corpusSh, Seq("h"), "left_semi")
      .groupBy("bench_id").agg(count(lit(1)).as("n_hits"))
    totals.join(hits, Seq("bench_id"), "left")
      .na.fill(0L, Seq("n_hits"))
      .withColumn("contamination",
        col("n_hits").cast("double") / col("n_shingles"))
  }

  /** Distributed Bloom-filter build over a column of 64-bit hashes:
    * Spark's `BloomFilterAggregate` OR-merges per-partition sketches
    * map-side, so the driver receives ONE `numBits/8`-byte array however
    * large the input — the build side of a hand-applied runtime filter
    * (the same machinery Spark's `InjectRuntimeFilter` uses for join
    * pruning, reached through the catalyst bridge because the SQL surface
    * keeps `bloom_filter_agg` internal). Returns None on empty input. */
  def shingleBloom(df: DataFrame, hashCol: String,
                   estimatedItems: Long, numBits: Long): Option[Array[Byte]] = {
    require(estimatedItems > 0 && numBits > 0,
      s"bloom sizing must be positive, got items=$estimatedItems bits=$numBits")
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val agg = new BloomFilterAggregate(expression(col(hashCol)),
      Literal(estimatedItems), Literal(numBits))
    Option(df.agg(column(agg.toAggregateExpression()).as("bf"))
      .head.getAs[Array[Byte]](0))
  }

  /** Membership probe against a [[shingleBloom]] sketch embedded as a plan
    * constant — a narrow codegen'd predicate with NO false negatives (a
    * true member always passes); false positives are bounded by the sketch
    * sizing and must be eliminated downstream by an exact join. */
  def bloomMightContain(bloom: Array[Byte],
                        hash: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    column(BloomFilterMightContain(Literal(bloom, BinaryType), expression(hash)))
  }

  /** Corpus-side decontamination report — the transpose of
    * [[contamination]] (per CORPUS doc: how many of its distinct shingles
    * appear in the benchmark/clean-room set), for the scale regime where
    * the clean-room set is itself too large to broadcast (Brown et al.
    * 2020 appendix C runs exactly this n-gram overlap scrub corpus-side).
    *
    * Scale shape: with a non-broadcastable bench set, the exact hit check
    * is an equi-join that shuffles the FULL corpus shingle stream — at
    * 100 TB almost all of it clean. The fix is the runtime-filter shape
    * hand-applied: [[shingleBloom]] builds a fixed-size sketch over the
    * bench hashes (map-side OR-merge, `numBits/8` bytes at the driver
    * regardless of input size), and a narrow [[bloomMightContain]]
    * pre-filter drops ~all clean shingles BEFORE the shuffle, letting only
    * true hits plus the fpp noise floor reach the exact LEFT SEMI join.
    * The output is EXACT: no false negatives exist, and every false
    * positive is eliminated by the join — the sketch only cuts shuffle
    * volume. The corpus shingle frame persists behind a barrier (it feeds
    * the per-doc totals AND the probe explode — two consumers), carrying
    * `(id, hash array)` only; document bodies never move.
    *
    * Output per corpus doc: `n_shingles`, `n_hits` (distinct shingles
    * shared with the bench set), and the `contaminated` flag; dropping
    * flagged docs downstream is one narrow filter. */
  def decontaminateReport(corpus: DataFrame, idCol: String, textCol: String,
                          benchmark: DataFrame, benchText: String,
                          shingleN: Int = 3,
                          estimatedBenchShingles: Long = 1000000L,
                          numBits: Long = 8000000L): DataFrame = Materialize.scope {
    val benchSh = Materialize.persist(benchmark
      .select(explode(TF.shingleHashes(col(benchText), shingleN)).as("h"))
      .distinct())
    val sh = Materialize.persist(corpus.select(col(idCol),
      TF.shingleHashes(col(textCol), shingleN).as("hs")))
    val totals = sh.select(col(idCol), size(col("hs")).cast("long").as("n_shingles"))
    val out = shingleBloom(benchSh, "h", estimatedBenchShingles, numBits) match {
      case None => // empty bench set: nothing can be contaminated
        totals.withColumn("n_hits", lit(0L))
          .withColumn("contaminated", lit(false))
      case Some(bloom) =>
        val hits = sh.select(col(idCol), explode(col("hs")).as("h"))
          .where(bloomMightContain(bloom, col("h")))
          .join(benchSh, Seq("h"), "left_semi")
          .groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
        totals.join(hits, Seq(idCol), "left")
          .na.fill(0L, Seq("n_hits"))
          .withColumn("contaminated", col("n_hits") > 0L)
    }
    Materialize.result(out)
  }

  /** Fraction-thresholded decontamination — the published n-gram-overlap
    * rule (drop a document only when at least `minFracPpm`/10⁶ of its
    * distinct shingles appear in the benchmark): any-hit removal
    * ([[decontaminateReport]]'s `contaminated` flag) over-removes documents
    * that merely quote one benchmark phrase. Returns the KEPT corpus rows
    * with the overlap stats attached. The threshold compare is pure
    * integer (`n_hits·10⁶ ≥ minFracPpm·n_shingles`) so both engines agree
    * bit-for-bit; shingle-less documents carry no evidence and are kept.
    *
    * Scale: identical to the report (slim hash semi-join, map-side agg) +
    * one broadcastable id anti-join — bodies never shuffle. */
  def decontaminateByFraction(corpus: DataFrame, idCol: String,
                              textCol: String, benchmark: DataFrame,
                              benchText: String, minFracPpm: Long,
                              shingleN: Int = 3,
                              estimatedBenchShingles: Long = 1000000L,
                              numBits: Long = 8000000L): DataFrame = {
    require(minFracPpm > 0L && minFracPpm <= 1000000L,
      s"minFracPpm in (0, 1e6], got $minFracPpm")
    val report = decontaminateReport(corpus, idCol, textCol, benchmark,
      benchText, shingleN, estimatedBenchShingles, numBits)
    corpus.join(report.select(col(idCol), col("n_shingles"), col("n_hits")),
                Seq(idCol))
      .where(col("n_shingles") === 0L ||
             col("n_hits") * lit(1000000L) < lit(minFracPpm) * col("n_shingles"))
  }

  /** PII redaction: replace email addresses, IPv4 addresses, and
    * international-format phone numbers with typed placeholder tokens.
    * Pure narrow projection — scan-bound, codegen'd regexes. Patterns are
    * deliberately conservative (precision over recall); extend the list
    * per-corpus. */
  val RedactionPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b" -> "<IP>",
    "\\+\\d{1,3}[ -]?\\d{2,4}[ -]?\\d{3,4}[ -]?\\d{3,4}" -> "<PHONE>")

  def redact(df: DataFrame, textCol: String,
             patterns: Seq[(String, String)] = RedactionPatterns): DataFrame = {
    val redacted = patterns.foldLeft(col(textCol)) {
      case (c, (p, repl)) => regexp_replace(c, p, repl)
    }
    df.withColumn(textCol, redacted)
  }

  /** Sequence-packing layout (concatenate-and-chunk, the GPT-style packing
    * step): documents in `idCol` order are laid out back-to-back in token
    * space and cut into fixed `seqLen` chunks; emits each document's global
    * token offset and the chunk range it lands in.
    *
    * The global running sum is computed with a two-pass distributed prefix
    * sum — per-sort-partition subtotals (one tiny row per partition) are
    * collected, turned into cumulative bases, and added to a WITHIN-partition
    * window — because the naive `Window.orderBy(id)` with no partitioning
    * funnels the whole corpus through ONE task. This is the standard
    * scale-out shape for any global cumulative quantity. */
  def packingOffsets(df: DataFrame, idCol: String, textCol: String,
                     seqLen: Long): DataFrame = Materialize.scope {
    require(seqLen > 0, "seqLen must be positive")
    val offs = withPrefixOffsets(
      df, idCol, TF.bpeishTokenCount(col(textCol)), "n_tokens")
    Materialize.result(offs
      .withColumn("chunk_start", expr(s"offset DIV $seqLen"))
      .withColumn("chunk_end",
        when(col("n_tokens") > 0, expr(s"(offset + n_tokens - 1) DIV $seqLen"))
          .otherwise(expr(s"offset DIV $seqLen")))
      .select(col(idCol), col("n_tokens"), col("offset"),
              col("chunk_start"), col("chunk_end")))
  }

  /** Size-targeted output-shard assignment — the write-layout planner for
    * exporting a curated corpus as ~`shardBytes` training shards: documents
    * in `idCol` order are laid out back-to-back and the shard boundary
    * advances every `shardBytes` bytes, so shard ids are dense, ordered,
    * and deterministic (a shard may overshoot by at most one document —
    * size-TARGETED, not a hard cap; documents are never split). The
    * assignment can drive `df.write.partitionBy("shard_id")` or a
    * repartition-by-shard writer so each output file lands near the target
    * size instead of whatever task boundaries produce.
    *
    * Same two-pass distributed prefix sum as [[packingOffsets]] — no
    * single-task global window at any scale. */
  def packShards(df: DataFrame, idCol: String, size: org.apache.spark.sql.Column,
                 shardBytes: Long): DataFrame = Materialize.scope {
    require(shardBytes > 0, "shardBytes must be positive")
    val offs = withPrefixOffsets(df, idCol, size, "n_bytes")
    Materialize.result(offs
      .withColumn("shard_id", expr(s"offset DIV $shardBytes"))
      .select(col(idCol), col("n_bytes"), col("offset"), col("shard_id")))
  }

  /** Deterministic BERT-style MLM masking plan: every (document, token
    * position) is selected for masking iff a seeded hash of the position
    * key lands under `maskPpm` (default 15%), and selected positions get
    * the classic 80/10/10 mask/random/keep action split from a second
    * independent hash. Hash-based selection — not rand() — is the point:
    * the plan is a pure function of (corpus, seed), so training is
    * reproducible across reruns, engines, and partitionings, and a
    * different `seed` gives an independent epoch re-mask. `rand_bucket`
    * (third hash, only for 'random' rows) is the deterministic sampling
    * index into whatever vocabulary the trainer pairs with the plan.
    *
    * Position keys are `doc_id * maxPositions + pos`; a document longer
    * than `maxPositions` tokens fails loudly rather than aliasing another
    * document's key space (and ANSI mode catches `doc_id * maxPositions`
    * overflow the same loud way).
    *
    * Scale shape: tokenize → posexplode → three per-row hashes → filter.
    * No shuffle anywhere, no state — scan-bound and embarrassingly
    * parallel at any corpus size. */
  def mlmMaskPlan(df: DataFrame, idCol: String, textCol: String,
                  maskPpm: Long = 150000L, seed: Long = 13L,
                  maxPositions: Long = 100000L): DataFrame = {
    require(maskPpm >= 0L && maskPpm <= 1000000L,
      s"maskPpm must be in [0, 1e6], got $maskPpm")
    require(maxPositions >= 1L, s"maxPositions must be >= 1, got $maxPositions")
    val toks = df.select(col(idCol).as("doc_id"),
        posexplode(TF.tokens(col(textCol))).as(Seq("pos", "token")))
      .where(col("token") =!= "")
    val key = when(col("pos") < maxPositions,
        col("doc_id") * maxPositions + col("pos").cast("long"))
      .otherwise(raise_error(concat(lit("mlmMaskPlan: token position "),
        col("pos").cast("string"), lit(s" >= maxPositions $maxPositions"))))
    // selection hash = splitmix64 (graft.functions.Mix64): same seeded-
    // deterministic contract as the previous chained xxhash64, but its
    // DuckDB replica is ~1 KB of direct arithmetic instead of a ~60 KB
    // list_reduce — the round-9 gate-budget fix (text_mlm oracles were
    // 64-77 s EACH at sf0.01; the gate budget is 10 s/oracle)
    val sel = pmod(graft.functions.Mix64.mix64(key, seed), lit(1000000L))
    val act = pmod(graft.functions.Mix64.mix64(key, seed + 4L), lit(10L))
    val rnd = pmod(graft.functions.Mix64.mix64(key, seed + 9L), lit(1000L))
    toks.where(sel < maskPpm)
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"),
        when(act < 8L, lit("mask")).when(act === 8L, lit("random"))
          .otherwise(lit("keep")).as("action"),
        when(act === 8L, rnd).otherwise(lit(null).cast("long"))
          .as("rand_bucket"))
  }

  /** Fill-in-the-middle (FIM) transform (Bavarian et al. 2022, "Efficient
    * Training of Language Models to Fill in the Middle"): a deterministic
    * `fimPpm` fraction of documents is rewritten PSM-style — the token
    * sequence is split at two seeded pseudo-random cut points into
    * prefix/middle/suffix and reassembled as
    * `<fim_pre> prefix <fim_suf> suffix <fim_mid> middle` — so a plain
    * left-to-right LM learns infilling. The third member of the
    * self-supervision-objective family beside [[mlmMaskApply]] (BERT) and
    * [[spanCorruptionApply]] (T5). Non-selected documents (and documents
    * with fewer than 2 tokens) pass through with `fim = false` and the
    * normalized original text.
    *
    * Determinism (the gate's bit-exact rules): selection and both cuts are
    * splitmix64 draws off the doc id — pure integer ops the DuckDB oracle
    * replays via the mix64 replica. Cuts are uniform over token boundaries
    * 0..n (`a = pmod(h1, n+1)`, `b = pmod(h2, n+1)`, split at (min, max)),
    * so any of the three parts may legitimately be empty — the paper's
    * uniform-split choice; empty middles still teach the format.
    *
    * Scale shape: one narrow scan projection — tokenize, two hash draws,
    * three slices, one join-free string assembly per row; no shuffle, no
    * state, no UDF (slice/array_join/concat are codegen'd builtins). */
  def fimTransform(df: DataFrame, idCol: String, textCol: String,
                   fimPpm: Long = 500000L, seed: Long = 47L): DataFrame = {
    require(fimPpm >= 0L && fimPpm <= 1000000L,
      s"fimPpm must be in [0, 1e6], got $fimPpm")
    val mx = graft.functions.Mix64
    val base = df.select(col(idCol).as("doc_id"),
        filter(TF.tokens(col(textCol)), t => t =!= "").as("tk"))
      .select(col("doc_id"), col("tk"), size(col("tk")).cast("long").as("n"),
        pmod(mx.mix64(col("doc_id"), seed), lit(1000000L)).as("sel"),
        mx.mix64(col("doc_id"), seed + 1L).as("h1"),
        mx.mix64(col("doc_id"), seed + 2L).as("h2"))
      .select(col("doc_id"), col("tk"), col("n"),
        (col("sel") < fimPpm && col("n") >= 2L).as("fim"),
        pmod(col("h1"), col("n") + 1L).as("c1"),
        pmod(col("h2"), col("n") + 1L).as("c2"))
      .select(col("doc_id"), col("tk"), col("n"), col("fim"),
        least(col("c1"), col("c2")).as("a"),
        greatest(col("c1"), col("c2")).as("b"))
    val pre = slice(col("tk"), lit(1), col("a").cast("int"))
    val mid = slice(col("tk"), (col("a") + 1L).cast("int"),
      (col("b") - col("a")).cast("int"))
    val suf = slice(col("tk"), (col("b") + 1L).cast("int"),
      (col("n") - col("b")).cast("int"))
    val psm = array_join(concat(
      array(lit("<fim_pre>")), pre,
      array(lit("<fim_suf>")), suf,
      array(lit("<fim_mid>")), mid), " ")
    base.select(col("doc_id"), col("fim"), col("n").as("n_tokens"),
      when(col("fim"), col("a")).otherwise(lit(null).cast("long")).as("pre_len"),
      when(col("fim"), col("b") - col("a")).otherwise(lit(null).cast("long"))
        .as("mid_len"),
      when(col("fim"), col("n") - col("b")).otherwise(lit(null).cast("long"))
        .as("suf_len"),
      when(col("fim"), psm).otherwise(array_join(col("tk"), " "))
        .as("text_fim"))
  }

  /** Apply [[spanCorruptionPlan]] — the executable half of T5 denoising
    * (the plan/apply pairing `duplicateSpans`/`applySpanCuts` uses): each
    * corrupted document becomes the encoder input (span tokens replaced
    * by their `<extra_id_k>` sentinel) and the decoder target (each
    * sentinel followed by the tokens it hides, closed by the final
    * `<extra_id_n>` — the T5 target convention). Documents the plan left
    * untouched pass through with an empty target. String assembly is the
    * same relational construction on both engines (segment rows via a
    * per-doc lag, ordered aggregation), so the artifact — not just the
    * plan — is oracle-checked.
    *
    * Scale shape: the plan side is ~5% of positions; segments are built
    * with ONE per-document window (lag over the span list) and assembled
    * with per-document ordered collects bounded by spans-per-doc; the
    * token arrays ride the existing doc-keyed join. */
  def spanCorruptionApply(df: DataFrame, idCol: String, textCol: String,
                          startPpm: Long = 50000L, maxSpanLen: Int = 5,
                          seed: Long = 31L,
                          maxPositions: Long = 100000L): DataFrame = Materialize.scope {
    import org.apache.spark.sql.expressions.Window
    // the span plan feeds THREE consumers (segment assembly, per-doc span
    // ends, the untouched-docs anti-join) and is itself an explode + two
    // windows + aggregate — cut it once; likewise persist the tokenized
    // corpus, consumed by three subtrees (tokenization is the per-row CPU)
    val plan = Materialize.cut(
      spanCorruptionPlan(df, idCol, textCol, startPpm, maxSpanLen,
        seed, maxPositions))
    val toks = Materialize.persist(
      df.select(col(idCol).as("doc_id"), TF.tokens(col(textCol)).as("tk")))
    val w = Window.partitionBy("doc_id").orderBy("span_start")
    val withFrom = plan.withColumn("seg_from",
      coalesce(lag(col("span_end"), 1).over(w), lit(0L)))
    val marker = concat(lit("<extra_id_"), col("sentinel").cast("string"),
      lit(">"))
    val pieces = withFrom.join(toks, "doc_id")
      .select(col("doc_id"), col("span_start").as("ord"),
        array_join(slice(col("tk"), (col("seg_from") + 1L).cast("int"),
          (col("span_start") - col("seg_from")).cast("int")), " ").as("seg"),
        marker.as("mk"),
        array_join(slice(col("tk"), (col("span_start") + 1L).cast("int"),
          (col("span_end") - col("span_start")).cast("int")), " ").as("sp"))
      .select(col("doc_id"), col("ord"),
        when(col("seg") === "", col("mk"))
          .otherwise(concat(col("seg"), lit(" "), col("mk"))).as("piece"),
        concat(col("mk"), lit(" "), col("sp")).as("tpiece"))
    val assembled = pieces.groupBy("doc_id")
      .agg(
        array_join(transform(
          sort_array(collect_list(struct(col("ord"), col("piece")))),
          s => s.getField("piece")), " ").as("body"),
        array_join(transform(
          sort_array(collect_list(struct(col("ord"), col("tpiece")))),
          s => s.getField("tpiece")), " ").as("tgt"))
    val spanEnds = plan.groupBy("doc_id")
      .agg(max(col("span_end")).as("last_end"),
           (max(col("sentinel")) + 1L).as("n_sp"))
    val corrupted = assembled.join(spanEnds, "doc_id").join(toks, "doc_id")
      .select(col("doc_id"),
        rtrim(concat_ws(" ", col("body"),
          array_join(slice(col("tk"), (col("last_end") + 1L).cast("int"),
            (size(col("tk")) - col("last_end")).cast("int")), " ")))
          .as("input_text"),
        concat(col("tgt"), lit(" <extra_id_"), col("n_sp").cast("string"),
          lit(">")).as("target_text"))
    val untouched = toks
      .join(plan.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), array_join(col("tk"), " ").as("input_text"),
        lit("").as("target_text"))
    Materialize.result(corrupted.unionByName(untouched))
  }

  /** Hashing-trick featurizer (Weinberger 2009): tokens are projected
    * into `numBuckets` dimensions by hash, with an independent ±1 sign
    * hash so colliding tokens cancel in expectation instead of stacking —
    * the standard way to get fixed-width, vocabulary-free bag-of-words
    * features for linear models ([[perceptronEpochs]]' natural input) at
    * any corpus size with ZERO global state: no vocabulary build, no id
    * assignment, nothing to keep consistent across batches or engines.
    *
    * Output per (doc, bucket): `tf` (tokens hashed there) and `weight`
    * (signed sum — the actual feature value). Both integers; the whole
    * featurizer is a pure function of the text.
    *
    * Scale shape: tokenize → explode → two per-row hashes → ONE
    * map-side-combinable (doc, bucket) aggregate. Nothing else shuffles;
    * output is at most `min(tokens, numBuckets)` rows per document. */
  def featureHashing(df: DataFrame, idCol: String, textCol: String,
                     numBuckets: Int = 64, signSeed: Long = 19L): DataFrame = {
    require(numBuckets >= 2 && numBuckets <= (1 << 20),
      s"numBuckets must be in [2, 2^20], got $numBuckets")
    df.select(col(idCol).as("doc_id"),
        explode(TF.tokens(col(textCol))).as("token"))
      .where(col("token") =!= "")
      .select(col("doc_id"),
        pmod(xxhash64(col("token")), lit(numBuckets.toLong)).as("bucket"),
        (lit(1L) - lit(2L) * pmod(xxhash64(lit(signSeed), col("token")),
          lit(2L))).as("sgn"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("tf"), sum(col("sgn")).as("weight"))
  }

  /** Apply [[mlmMaskPlan]] — the executable masked corpus: selected
    * positions become `[MASK]` (80%), a deterministic vocabulary pick
    * (10% — the plan's `rand_bucket` modulo the corpus top-`vocabSize`
    * vocabulary, so even the "random" replacement is a pure function of
    * (corpus, seed)), or stay as-is (10%). Output per document: the
    * masked text plus the action counts a trainer audits against the
    * schedule.
    *
    * Scale shape: the plan join is per-(doc, pos) on ~15% of positions;
    * the vocabulary is a top-k (TakeOrdered, driver-free) whose ≤
    * `vocabSize` rows broadcast; reassembly is a per-document ordered
    * collect bounded by document length. */
  def mlmMaskApply(df: DataFrame, idCol: String, textCol: String,
                   maskPpm: Long = 150000L, seed: Long = 13L,
                   maxPositions: Long = 100000L,
                   vocabSize: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val plan = mlmMaskPlan(df, idCol, textCol, maskPpm, seed, maxPositions)
    val toks = df.select(col(idCol).as("doc_id"),
        posexplode(TF.tokens(col(textCol))).as(Seq("pos", "token")))
      .where(col("token") =!= "")
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))
    // corpus top-k vocabulary with dense 0-based ids; the post-limit
    // window runs on <= vocabSize rows (single tiny task by design)
    val vdf = df.select(explode(TF.tokens(col(textCol))).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok").asc).limit(vocabSize)
      .withColumn("tid",
        row_number().over(Window.orderBy(col("c").desc, col("tok").asc)) - 1)
      .select(col("tid").cast("long").as("tid"), col("tok").as("vtok"))
    val n = vdf.agg(count(lit(1)).as("n_vocab"))
    val joined = toks
      .join(plan.select(col("doc_id"), col("pos"), col("action"),
        col("rand_bucket")), Seq("doc_id", "pos"), "left")
      .crossJoin(broadcast(n))
      .join(broadcast(vdf), pmod(col("rand_bucket"), col("n_vocab")) === col("tid"),
        "left")
      .select(col("doc_id"), col("pos"),
        when(col("action") === "mask", lit("[MASK]"))
          .when(col("action") === "random", col("vtok"))
          .otherwise(col("token")).as("out"),
        col("action"))
    joined.groupBy("doc_id")
      .agg(
        array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("out")))),
          s => s.getField("out")), " ").as("mlm_text"),
        sum(when(col("action") === "mask", 1L).otherwise(0L)).as("n_masked"),
        sum(when(col("action") === "random", 1L).otherwise(0L)).as("n_random"),
        sum(when(col("action") === "keep", 1L).otherwise(0L)).as("n_kept"))
  }

  /** Deterministic T5-style span-corruption plan — [[mlmMaskPlan]]'s
    * companion for encoder-decoder denoising: span STARTS are selected by
    * a seeded hash (`startPpm`, default 5% of positions), each start
    * draws a length in `[1, maxSpanLen]` from a second independent hash
    * (mean 3 at the default 5 — the T5 noise profile), spans are clipped
    * at the document end, and overlapping/adjacent spans merge into
    * maximal corruption spans numbered by per-document sentinel ordinals
    * (`<extra_id_0>`, `<extra_id_1>`, … in T5 terms). Hash-derived like
    * the MLM plan, so the corruption is a pure function of (corpus,
    * seed) — reproducible across runs, engines, and partitionings.
    *
    * Output per merged span: `sentinel` (0-based per-doc ordinal),
    * `span_start`, `span_end` (token indices, end exclusive), `span_len`,
    * `n_starts` (raw selections merged into the span).
    *
    * Scale shape: tokenize → posexplode → two per-row hashes → filter to
    * the ~5% selected starts; the merge is the classic running-max
    * interval union over ONE per-document window partitioning (documents
    * bound the window size), and the sentinel numbering reuses the same
    * partitioning. Only selected starts ever shuffle. */
  def spanCorruptionPlan(df: DataFrame, idCol: String, textCol: String,
                         startPpm: Long = 50000L, maxSpanLen: Int = 5,
                         seed: Long = 31L,
                         maxPositions: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(startPpm >= 0L && startPpm <= 1000000L,
      s"startPpm must be in [0, 1e6], got $startPpm")
    require(maxSpanLen >= 1 && maxSpanLen <= 64,
      s"maxSpanLen must be in [1, 64], got $maxSpanLen")
    val toks = df.select(col(idCol).as("doc_id"),
        size(TF.tokens(col(textCol))).cast("long").as("n_toks"),
        posexplode(TF.tokens(col(textCol))).as(Seq("pos", "token")))
      .where(col("token") =!= "")
    val key = when(col("pos") < maxPositions,
        col("doc_id") * maxPositions + col("pos").cast("long"))
      .otherwise(raise_error(concat(lit("spanCorruptionPlan: position "),
        col("pos").cast("string"), lit(s" >= maxPositions $maxPositions"))))
    // splitmix64 selector — see mlmMaskPlan for the cross-engine rationale
    val sel = pmod(graft.functions.Mix64.mix64(key, seed), lit(1000000L))
    val len = lit(1L) + pmod(graft.functions.Mix64.mix64(key, seed + 4L),
      lit(maxSpanLen.toLong))
    val starts = toks.where(sel < startPpm)
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        least(col("pos") + len, col("n_toks")).as("e"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val prevMaxEnd = max(col("e"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val flagged = starts.withColumn("brk",
      when(prevMaxEnd.isNull || col("pos") > prevMaxEnd, 1L).otherwise(0L))
    val spans = flagged
      .withColumn("gid", sum(col("brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("gid"))
      .agg(min(col("pos")).as("span_start"), max(col("e")).as("span_end"),
           count(lit(1)).as("n_starts"))
    val wS = Window.partitionBy("doc_id").orderBy("span_start")
    spans
      .select(col("doc_id"),
        (row_number().over(wS) - 1).cast("long").as("sentinel"),
        col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_len"),
        col("n_starts"))
  }

  /** Batch-perceptron training IN the engine — the minimal "train a
    * quality/language filter on the corpus itself" loop every curation
    * stack eventually needs. Classic per-sample perceptron is
    * order-dependent (useless distributed); the BATCH variant updates
    * once per epoch with `w += Σ_misclassified y·x` — an integer SUM, so
    * the trained weights are a pure function of the data under any
    * partitioning and replayable cross-engine. Margin 0 counts as
    * misclassified (the standard `y·(w·x) <= 0` rule, and it makes epoch
    * 1 from zero weights well-defined: every row contributes).
    *
    * `feats` are INTEGER feature columns (ppm/counts — the quality
    * component space); a bias feature 1 is prepended. Labels in {-1,+1}.
    *
    * Scale shape: one persisted slim projection of (y, x…); each epoch
    * is ONE map-side-combinable aggregate (nFeats+1 sums) and the ONLY
    * driver traffic is those nFeats+1 longs per epoch — the same
    * bounded-driver-loop contract as BPE merge induction. Feature/count
    * magnitudes must keep `Σ|x|` under 2^63 (ANSI mode fails loudly, not
    * silently, if violated).
    *
    * Output: one row per epoch — `epoch`, `n_err` (misclassified under
    * the ENTERING weights), and the weights AFTER that epoch's update. */
  def perceptronEpochs(df: DataFrame, label: org.apache.spark.sql.Column,
                       feats: Seq[org.apache.spark.sql.Column],
                       epochs: Int = 4): DataFrame = Materialize.scope {
    require(epochs >= 1 && epochs <= 20, s"epochs must be in [1, 20], got $epochs")
    require(feats.nonEmpty && feats.size <= 16, "need 1..16 feature columns")
    val nf = feats.size + 1 // + bias
    val xs = (lit(1L) +: feats.map(_.cast("long"))).zipWithIndex
      .map { case (c, i) => c.as(s"x$i") }
    val data = Materialize.persist(df.select((label.cast("long").as("y") +: xs): _*))
    var w = Array.fill(nf)(0L)
    val rows = (1 to epochs).map { ep =>
      val margin = (0 until nf).map(i => lit(w(i)) * col(s"x$i"))
        .reduce(_ + _)
      val err = data.where(col("y") * margin <= 0L)
      val aggs = count(lit(1)).as("n") +:
        (0 until nf).map(i => sum(col("y") * col(s"x$i")).as(s"d$i"))
      val r = err.agg(aggs.head, aggs.tail: _*).head()
      val nErr = r.getAs[Long]("n")
      for (i <- 0 until nf)
        w(i) += (if (nErr == 0L) 0L else r.getAs[Long](s"d$i"))
      (ep, nErr, w.toSeq)
    }
    val spark = df.sparkSession
    import spark.implicits._
    rows.map { case (ep, n, ws) => (ep.toLong, n, ws) }
      .toDF("epoch", "n_err", "w")
      .select(col("epoch") +: col("n_err") +:
        (0 until nf).map(i => element_at(col("w"), i + 1).as(s"w$i")): _*)
  }

  /** Quality-first token-budget cut — "take the best documents until the
    * training budget is spent": documents ranked by (quality DESC, id ASC)
    * are admitted while the running token total is still under `budget`;
    * the straddling document is included (budget is a target, not a hard
    * cap — documents are never split). The standard data-mixing primitive
    * when a corpus holds more tokens than the training run will consume.
    *
    * Scale shape: the global rank-ordered running sum is the SAME two-pass
    * distributed prefix sum as [[packingOffsets]] — the rank order is
    * encoded into one sortable BIGINT key (`(maxQuality - q) * 10^12 +
    * id`, so range-partitioning by the key IS the quality ordering) and
    * no single-task global window ever exists. Preconditions: `quality`
    * in [0, maxQuality], ids non-negative < 10^12.
    *
    * Output: one row per ADMITTED document with its quality, token count
    * and `offset` (tokens admitted before it — `offset < budget` is the
    * admission rule). */
  def tokenBudgetCut(df: DataFrame, idCol: String,
                     quality: org.apache.spark.sql.Column,
                     tokens: org.apache.spark.sql.Column,
                     budget: Long, maxQuality: Long = 1000L): DataFrame = Materialize.scope {
    require(budget > 0, "budget must be positive")
    require(maxQuality > 0, "maxQuality must be positive")
    val idScale = 1000000000000L
    val keyed = df.select(col(idCol),
        quality.cast("long").as("__q"), tokens.cast("long").as("__n"))
      .select(((lit(maxQuality) - col("__q")) * idScale + col(idCol)).as("__k"),
        col("__n"))
    val offs = withPrefixOffsets(keyed, "__k", col("__n"), "n_tokens")
    Materialize.result(offs.where(col("offset") < budget)
      .select((col("__k") % idScale).as(idCol),
              (lit(maxQuality) - expr(s"__k DIV $idScale")).as("quality"),
              col("n_tokens"), col("offset")))
  }

  /** Context-window packing manifest — the loader-facing output of GPT-style
    * pretraining packing: documents in `idCol` order are laid out
    * back-to-back in token space, each followed by ONE end-of-document
    * sentinel token, and the stream is cut into fixed `seqLen` training
    * windows; documents may span window boundaries (no padding, no
    * discarded tokens — the concat-and-chunk regime, vs [[packingOffsets]]'s
    * per-document chunk RANGE report and the FFD bin packing that never
    * splits). Emits one row per (document, window) overlap segment:
    *
    *   - `window_id`      — the training window the segment lands in
    *   - `win_tok_start`  — the segment's first slot within the window
    *   - `doc_tok_start`  — the segment's first token within the document
    *                        (the EOS sentinel is the doc's last position)
    *   - `seg_len`        — tokens in the segment (>= 1)
    *
    * Per window, segments tile `[0, seqLen)` exactly (the last window may
    * be shorter); per document they tile `[0, n_tokens)` — so the manifest
    * is directly executable by a shard writer: slice each doc's token ids
    * at (`doc_tok_start`, `seg_len`) and place at (`window_id`,
    * `win_tok_start`). All arithmetic on exact BIGINT offsets.
    *
    * Scale shape: the global offsets come from the same two-pass
    * distributed prefix sum as [[packingOffsets]] (no single-task global
    * window); the window explode is narrow — each document emits
    * `ceil`-bounded segments with no shuffle after the prefix sum. */
  def packManifest(df: DataFrame, idCol: String, textCol: String,
                   seqLen: Long): DataFrame = Materialize.scope {
    require(seqLen > 0, "seqLen must be positive")
    // n_tokens counts the EOS sentinel, so every document occupies >= 1 slot
    // and the window span below is never empty; NULL text packs like empty
    // text (one EOS slot) — unguarded, size(null) would poison the count
    val offs = withPrefixOffsets(
      df, idCol,
      TF.bpeishTokenCount(coalesce(col(textCol), lit(""))) + lit(1L),
      "n_tokens")
    val wStart = col("window_id") * seqLen
    val segStart = greatest(col("offset"), wStart)
    Materialize.result(offs
      .select(col(idCol), col("n_tokens"), col("offset"),
        explode(sequence(
          expr(s"offset DIV $seqLen"),
          expr(s"(offset + n_tokens - 1) DIV $seqLen"))).as("window_id"))
      .select(col(idCol), col("window_id"),
        (segStart - wStart).as("win_tok_start"),
        (segStart - col("offset")).as("doc_tok_start"),
        (least(col("offset") + col("n_tokens"), wStart + seqLen) - segStart)
          .as("seg_len")))
  }

  /** Apply [[packManifest]] — materialize the actual training windows:
    * each document's BPE-ish tokens (plus its `<eos>` sentinel, exactly
    * the count the manifest was built from) are placed at their window
    * slots, emitting one row per (window, slot, token). Per window the
    * slots tile `[0, seqLen)` exactly (the last window may be shorter) —
    * the content a shard writer hands to the trainer, not just the plan.
    *
    * Scale shape: the manifest join is an equi-join on the document id
    * (segments per document are few, so fan-out is ~1 match per token
    * row); tokens ride ONE doc-keyed shuffle as slim (pos, token) rows;
    * no windows, no state. */
  def packApply(df: DataFrame, idCol: String, textCol: String,
                seqLen: Long): DataFrame = {
    val man = packManifest(df, idCol, textCol, seqLen)
    val toks = df.select(col(idCol),
        posexplode(concat(TF.bpeishTokens(coalesce(col(textCol), lit(""))),
          array(lit("<eos>")))).as(Seq("pos", "token")))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("token"))
    man.join(toks, Seq(idCol))
      .where(col("pos") >= col("doc_tok_start") &&
             col("pos") < col("doc_tok_start") + col("seg_len"))
      .select(col("window_id"),
        (col("win_tok_start") + col("pos") - col("doc_tok_start"))
          .as("win_pos"),
        col(idCol), col("token"))
  }

  /** Sliding-window chunk manifest (retrieval / context-window chunking):
    * each document's graft-normalized token sequence is cut into windows of
    * `chunkTokens` tokens whose starts advance by `strideTokens` (overlap =
    * `chunkTokens - strideTokens` when the stride is smaller than the
    * window). A window that would start after the document is already fully
    * covered is not emitted — the last chunk is the first one whose end
    * reaches the document end — so every token is covered and no chunk is a
    * suffix-subset of its predecessor. The text column is normalized the
    * same way every other token operator here normalizes, so chunk
    * boundaries line up with `packingOffsets` / `duplicateSpans` token
    * indices; an empty (or NULL) document yields one empty chunk (its token
    * sequence is the single empty token, mirroring `tokens('')` in both
    * engines).
    *
    * Output: `(idCol, chunk_idx, tok_start, tok_end, n_toks, chunk_text)`
    * with `[tok_start, tok_end)` token-index bounds and `chunk_idx` dense
    * per document.
    *
    * Scale: entirely narrow — tokens are computed once per row (the alias
    * is multi-referenced, so CollapseProject cannot inline it into the
    * start-filter lambda), the generate multiplies rows by ~n/stride, and
    * nothing shuffles; at 100 TB this is a scan-bound map stage whose scan
    * prunes to (id, text). */
  /** Sentence segmentation manifest — the boundary layer under
    * sentence-aligned chunking, per-sentence quality filters, and
    * citation/contamination spot checks: one row per sentence with its
    * index, text, and char/word counts. The boundary rule is a REGEX
    * (a run of terminal punctuation `[.!?]+` followed by spaces ends a
    * sentence), deliberately not a locale BreakIterator (Spark's
    * `sentences()` builtin): the regex is a pure function of the text
    * that the DuckDB oracle replays exactly, while ICU segmentation is
    * JVM-version-bound and unreplicable cross-engine. Implementation
    * splits on an injected sentinel because RE2 — the oracle's regex
    * engine — has no lookbehind; abbreviation handling ("Dr. X") is a
    * documented non-goal of the regex rule (both engines agree on what
    * it does, which is what a gate can pin).
    *
    * Entirely narrow: one regexp pass + one explode per row, no shuffle;
    * empty/whitespace-only segments are dropped, `sent_idx` numbers the
    * KEPT sentences. */
  def sentenceManifest(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val marked = regexp_replace(coalesce(col(textCol), lit("")),
      "([.!?]+) +", "$1\u0001")
    df.select(col(idCol),
        posexplode(filter(transform(split(marked, "\u0001"), s => trim(s)),
                          s => s =!= "")))
      .select(col(idCol),
        col("pos").cast("long").as("sent_idx"),
        col("col").as("sentence"),
        length(col("col")).as("n_chars"),
        size(split(col("col"), " +")).as("n_words"))
  }

  def chunkManifest(df: DataFrame, idCol: String, textCol: String,
                    chunkTokens: Int, strideTokens: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(strideTokens >= 1, s"strideTokens must be >= 1, got $strideTokens")
    val end = least(col("col") + chunkTokens, col("__n"))
    df.select(col(idCol), TF.tokens(coalesce(col(textCol), lit(""))).as("__toks"))
      .select(col(idCol), col("__toks"),
              size(col("__toks")).cast("long").as("__n"))
      .select(col(idCol), col("__toks"), col("__n"),
        posexplode(filter(
          sequence(lit(0L), col("__n") - 1, lit(strideTokens.toLong)),
          i => i === 0L || i - strideTokens + chunkTokens < col("__n"))))
      .select(col(idCol),
        col("pos").cast("long").as("chunk_idx"),
        col("col").as("tok_start"),
        end.as("tok_end"),
        (end - col("col")).as("n_toks"),
        array_join(slice(col("__toks"), (col("col") + 1).cast("int"),
                         lit(chunkTokens)), " ").as("chunk_text"))
  }

  /** Per-document top-k salient terms by tf-idf. The idf here is the
    * non-log variant `N / df` (a documented tf-idf family member): every
    * arithmetic step (integer-valued doubles under 2^53, one division) is
    * IEEE exact-rounded and therefore bit-identical across engines, which
    * makes the ranking — and the DuckDB oracle — deterministic. `ln`-idf
    * would rank almost identically but `log` is not correctly-rounded in
    * either engine, so near-ties could order differently; a top-k gate
    * can't carry that risk. Ties break on the term string.
    *
    * Scale: the token explode is the inherent tf-idf cost; `(doc, term)`
    * counts partially aggregate map-side before the shuffle, document
    * frequencies reduce the same table again (no second scan of the
    * corpus), and the final per-document top-k is a bounded window over
    * doc partitions. `nDocs` is one driver-side scalar (the count), not
    * collected data. */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String,
                k: Int = 5): DataFrame = Materialize.scope {
    require(k >= 1, s"k must be >= 1, got $k")
    val nDocs = df.count().toDouble
    // tf feeds BOTH the document-frequency reduction and the scoring join;
    // without the persist barrier the scan + explode + first shuffle
    // execute twice (the two exchange subtrees differ, so ReuseExchange
    // cannot dedup them)
    val tf = Materialize.persist(df.select(col(idCol), explode(TF.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf")))
    val dfr = tf.groupBy(col("term")).agg(count(lit(1)).as("df_docs"))
    val scored = tf.join(dfr, "term")
      .withColumn("score",
        col("tf").cast("double") * lit(nDocs) / col("df_docs").cast("double"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    val out = scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df_docs"),
              col("score"), col("rank"))
    Materialize.result(out)
  }

  /** Token-commonness report: per document, the mean corpus frequency of
    * its tokens and the count of corpus-hapax tokens (frequency 1). High
    * mean frequency flags boilerplate/common-word soup; a high hapax share
    * flags garbled or OCR-damaged text — the frequency-based half of a
    * quality filter, complementary to [[tfidfTopK]]'s specificity ranking.
    *
    * Integer-deterministic by construction: the per-doc aggregates are
    * sums of BIGINT corpus counts (order-free), and the only double op is
    * one exact-rounded division — so the oracle compares bit-equal.
    * Scale shape matches tf-idf: one token explode, term counts reduced
    * from the same table, partial aggregation on both sides. */
  def commonnessReport(df: DataFrame, idCol: String, textCol: String): DataFrame = Materialize.scope {
    // same double-consumer shape as tfidfTopK's `tf`: the token explode
    // feeds the term-count reduction AND the scoring join — persist so the
    // corpus scans once
    val toksBase = df.select(col(idCol), explode(TF.tokens(col(textCol))).as("term"))
    val toks = Materialize.persist(toksBase)
    val termCounts = toks.groupBy(col("term"))
      .agg(count(lit(1)).as("term_freq"))
    val out = toks.join(termCounts, "term")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
           sum(col("term_freq")).as("sum_freq"),
           sum(when(col("term_freq") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("mean_freq",
        col("sum_freq").cast("double") / col("n_tokens").cast("double"))
    Materialize.result(out)
  }

  /** Token co-occurrence lift — PMI without the logarithm: for tokens a, b
    * with document frequencies df_a, df_b and pair_n co-occurring docs,
    * `lift = pair_n · n_docs / (df_a · df_b)` (> 1 ⇔ positive association).
    * The log is deliberately omitted: log is monotone, so ranking and
    * thresholding are unchanged, while `lift` stays within IEEE
    * exact-rounded ops (int-product, one multiply, one divide) and is
    * bit-identical across engines — libm `log` is not.
    *
    * Scale shape: tokens outside [minDf, maxDfFrac·n_docs] never enter the
    * pair join — the cap is FRACTIONAL (ubiquity, not absolute count) so
    * the stopword guard holds unchanged from sf0.01 to 100 TB; it is what
    * bounds the within-doc pair blow-up (near-universal tokens would
    * otherwise pair with everything), minDf cuts the long noise tail.
    * The join is doc-keyed over slim (id, tok, df) rows; per-doc fan-out is
    * (kept tokens choose 2), bounded by document length, never corpus size.
    * n_docs rides broadcast one-row cross joins — no driver collect. */
  def cooccurrenceLift(df: DataFrame, idCol: String, textCol: String,
                       minDf: Long = 5L, maxDfFrac: Double = 0.9,
                       minPair: Long = 5L, minTokenLen: Int = 3): DataFrame = Materialize.scope {
    require(minDf >= 1L, s"need minDf >= 1, got $minDf")
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0,
      s"maxDfFrac must be in (0, 1], got $maxDfFrac")
    require(minPair >= 1L && minTokenLen >= 1)
    val nd = df.agg(count(lit(1)).as("n_docs"))
    // distinct tokens per doc feed BOTH the doc-frequency reduction and the
    // pair join — persist so the corpus scans once (the tfidfTopK shape)
    val toksBase = df.select(col(idCol).as("id"),
        explode(array_distinct(TF.tokens(col(textCol)))).as("tok"))
      .where(length(col("tok")) >= minTokenLen)
    val toks = Materialize.persist(toksBase)
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nd))
      .where(col("df") >= minDf &&
             // floor, not cast: Spark's double→long cast truncates while
             // DuckDB's rounds — floor is the same function on both
             col("df") <= floor(col("n_docs") * maxDfFrac))
      .drop("n_docs")
    val kept = toks.join(dfreq, "tok")
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.id") === col("b.id") && col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
      .agg(count(lit(1)).as("pair_n"),
           first(col("a.df")).as("df_a"), first(col("b.df")).as("df_b"))
      .where(col("pair_n") >= minPair)
    val out = pairs.crossJoin(broadcast(nd))
      .withColumn("lift", col("pair_n").cast("double") * col("n_docs") /
        (col("df_a") * col("df_b")).cast("double"))
      .select("tok_a", "tok_b", "pair_n", "df_a", "df_b", "lift")
    Materialize.result(out)
  }

  /** Corpus-fit scoring against a bigram language model trained on the
    * corpus itself (the KenLM-style perplexity filter, integer-exact): the
    * MLE transition rate `p(w2|w1) = c(w1,w2) / c(w1·)` is floored to ppm,
    * and each document reports its bigram count, ppm sum, ppm mean, and the
    * minimum (its most surprising transition). Low mean/min flags text
    * whose transitions don't look like the corpus — garbled, boilerplate,
    * or wrong-domain documents; the integer ppm floor keeps every value an
    * order-free BIGINT so the DuckDB oracle compares bit-equal (`log`-space
    * perplexity would not be correctly-rounded across engines).
    *
    * Scale shape (the tf-idf family pattern): tokens materialize once
    * behind a persist barrier (HOF lambda outer-references re-evaluate per
    * element otherwise — the measured dedup_spans trap), bigrams explode to
    * slim `(doc, xxhash64(w1), xxhash64(w1,w2))` rows so the counting
    * shuffles and the scoring join carry 8-byte keys, never token text (the
    * per-doc sums are functions of the count multiset, so the oracle groups
    * on strings and lands on identical integers absent a 2⁻⁶⁴ collision).
    * Context counts `c(w1·)` reduce the DISTINCT-bigram table, not the
    * occurrence stream; the scoring join is the only full-width pass over
    * the bigram occurrences. */
  /** Kneser-Ney smoothed bigram scoring — the standard fix for [[lmScore]]'s
    * MLE zeroes and overconfident frequent contexts: absolute discount
    * D = 3/4 off every seen bigram, mass redistributed by CONTINUATION
    * probability (how many distinct contexts a word follows, not how often
    * it occurs — the "San Francisco" correction).
    *
    *   p_kn(w2|w1) = max(c12−D, 0)/c1 + D·N1+(w1·)/c1 · N1+(·w2)/N1+(··)
    *
    * With D = 3/4 everything is rational: over the common denominator
    * 4·c1·Nbi the seen-bigram numerator is (4·c12−3)·Nbi + 3·N1w1·N1w2,
    * floored to ppm in DECIMAL(38) intermediates (exact far past the
    * BIGINT overflow point of c12·Nbi products at corpus scale; DuckDB
    * mirrors with HUGEINT) — bit-identical across engines, no libm.
    *
    * Scale shape follows lmScore: counts reduce on hashed keys; the three
    * model statistics are two whole-partition windows over the DISTINCT
    * bigram table (vocabulary-bounded, one shuffle each on h1 / h2) plus
    * a one-row broadcast for N1+(··); scoring is one equi-join of the
    * occurrence table against the rate table. */
  def kneserNeyScore(df: DataFrame, idCol: String, textCol: String): DataFrame = Materialize.scope {
    val W = org.apache.spark.sql.expressions.Window
    val toksBase = df.select(col(idCol).as("id"), TF.tokens(col(textCol)).as("tk"))
    val toks = Materialize.persist(toksBase)
    val bgBase = toks.select(col("id"), explode(
        when(size(col("tk")) >= 2,
            transform(sequence(lit(0), size(col("tk")) - 2), i => struct(
              xxhash64(element_at(col("tk"), i + lit(1))).as("h1"),
              xxhash64(element_at(col("tk"), i + lit(2))).as("h2"),
              xxhash64(element_at(col("tk"), i + lit(1)),
                       element_at(col("tk"), i + lit(2))).as("h12"))))
          .otherwise(array().cast("array<struct<h1:bigint,h2:bigint,h12:bigint>>")))
        .as("bgs"))
      .select(col("id"), col("bgs.h1").as("h1"), col("bgs.h2").as("h2"),
              col("bgs.h12").as("h12"))
    val bg = Materialize.persist(bgBase)
    val c2t = bg.groupBy(col("h1"), col("h2"), col("h12"))
      .agg(count(lit(1)).as("c2"))
    val nb = c2t.agg(count(lit(1)).as("nbi"))
    val stats = c2t
      .withColumn("c1", sum(col("c2")).over(W.partitionBy(col("h1"))))
      .withColumn("n1w1", count(lit(1)).over(W.partitionBy(col("h1"))))
      .withColumn("n1w2", count(lit(1)).over(W.partitionBy(col("h2"))))
    val rates = stats.crossJoin(broadcast(nb))
      .select(col("h12"), expr(
        """CAST((CAST(1000000 AS DECIMAL(38,0)) *
             ((4 * c2 - 3) * CAST(nbi AS DECIMAL(38,0)) +
              3 * CAST(n1w1 AS DECIMAL(38,0)) * n1w2))
           DIV (4 * CAST(c1 AS DECIMAL(38,0)) * nbi) AS BIGINT)""").as("ppm"))
    val perDoc = bg.join(rates, "h12")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
           sum(col("ppm")).as("sum_ppm"),
           min(col("ppm")).as("min_ppm"))
    val out = df.select(col(idCol)).join(
        perDoc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_ppm"), lit(0L)).as("sum_ppm"),
        when(col("n_bigrams").isNotNull, expr("sum_ppm DIV n_bigrams"))
          .otherwise(lit(0L)).as("avg_ppm"),
        coalesce(col("min_ppm"), lit(0L)).as("min_ppm"))
    Materialize.result(out)
  }

  def lmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = Materialize.scope {
    val toksBase = df.select(col(idCol).as("id"), TF.tokens(col(textCol)).as("tk"))
    val toks = Materialize.persist(toksBase)
    // one row per bigram OCCURRENCE: h1 = hash of the context token,
    // h12 = chained hash of the pair (Spark's multi-arg xxhash64)
    val bgBase = toks.select(col("id"), explode(
        when(size(col("tk")) >= 2,
            transform(sequence(lit(0), size(col("tk")) - 2), i => struct(
              xxhash64(element_at(col("tk"), i + lit(1))).as("h1"),
              xxhash64(element_at(col("tk"), i + lit(1)),
                       element_at(col("tk"), i + lit(2))).as("h12"))))
          .otherwise(array().cast("array<struct<h1:bigint,h12:bigint>>")))
        .as("bgs"))
      .select(col("id"), col("bgs.h1").as("h1"), col("bgs.h12").as("h12"))
    val bg = Materialize.persist(bgBase)
    val c2t = bg.groupBy(col("h1"), col("h12")).agg(count(lit(1)).as("c2"))
    // context counts c(w1·) as a whole-partition window over the DISTINCT
    // bigram table — one shuffle on h1, no self-join, and c2t feeds exactly
    // one exchange (the double-consumer re-compute trap); per-context
    // fan-in is bounded by the vocabulary, not the corpus
    val rates = c2t
      .withColumn("c1", sum(col("c2")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h1"))))
      .select(col("h12"), expr("c2 * 1000000 DIV c1").as("ppm"))
    val perDoc = bg.join(rates, "h12")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
           sum(col("ppm")).as("sum_ppm"),
           min(col("ppm")).as("min_ppm"))
    // zero-fill docs with < 2 tokens (the id projection re-reads the
    // source, deliberately: it needs no tokenization, just one column)
    val out = df.select(col(idCol)).join(
        perDoc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_ppm"), lit(0L)).as("sum_ppm"),
        when(col("n_bigrams").isNotNull, expr("sum_ppm DIV n_bigrams"))
          .otherwise(lit(0L)).as("avg_ppm"),
        coalesce(col("min_ppm"), lit(0L)).as("min_ppm"))
    Materialize.result(out)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): documents
    * are ranked WITHIN each group (CCNet buckets per language — `groupCol`)
    * by corpus-fit and split into `buckets` equal tiles; bucket 1 ("head")
    * holds the best-fitting documents, the last ("tail") the worst. CCNet
    * keeps head+middle for training and drops the tail — downstream that is
    * one narrow `bucket_label != 'tail'` filter on this output.
    *
    * The fit signal is [[lmScore]]'s integer avg-ppm (descending — high
    * mean transition rate = most corpus-like), not log-perplexity: `log` is
    * not correctly-rounded across engines, while the ppm ranking with
    * `(avg_ppm DESC, id ASC)` is a total order both engines reproduce, so
    * `ntile` (SQL-standard equal-tile split: the first `n mod buckets`
    * tiles get the extra row) assigns bit-identical buckets.
    *
    * Scale shape: the scoring pipeline is [[lmScore]]'s (slim hashed-bigram
    * shuffles); bucketing adds one id-equi-join against the score table and
    * one sort-window partitioned BY GROUP — the per-language sort CCNet
    * itself runs, parallel across groups. A corpus dominated by one giant
    * group serializes that group's sort into one task chain; at that
    * extreme, cut buckets with sampled/approx rank thresholds and a narrow
    * comparison filter instead of an exact global tile split (the
    * [[lengthDistributionApprox]] sketch pattern) — exact tiles are the
    * right default everywhere the group count exceeds the cluster's
    * parallelism deficit. */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
                        groupCol: String, buckets: Int = 3): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val scored = lmScore(df, idCol, textCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("avg_ppm").desc, col(idCol).asc)
    df.select(col(idCol), col(groupCol))
      .join(scored.select(col(idCol), col("avg_ppm")), Seq(idCol))
      .withColumn("bucket", ntile(buckets).over(w).cast("long"))
      .withColumn("bucket_label",
        when(col("bucket") === 1L, "head")
          .when(col("bucket") === buckets.toLong, "tail")
          .otherwise("middle"))
  }

  /** Winnowing document fingerprints (Schleimer et al. 2003 — the MOSS
    * algorithm): the robust subset of positional n-gram hashes selected by
    * a w-window rightmost-min rule, guaranteeing any shared passage of
    * ≥ w+n-1 tokens shares at least one fingerprint at ~2/(w+1) density —
    * the storage-bounded alternative to indexing EVERY window that
    * `Dedup.duplicateSpans` pays for exactness. One narrow codegen'd pass
    * (native expression — per-position HOF slices would re-evaluate the
    * tokenization per element); the output explodes to slim
    * `(id, pos, hash)` rows ready for the standard inverted-index join. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 4, window: Int = 8): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(window >= 1, s"window must be >= 1, got $window")
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val fps = column(graft.functions.WinnowFingerprints(
      expression(TF.normText(col(textCol))), n, window))
    df.select(col(idCol), explode(fps).as("fp"))
      .select(col(idCol), col("fp.pos").cast("long").as("pos"),
              col("fp.hash").as("hash"))
  }

  /** Deterministic pseudo-random classifier weights (splitmix64, integers
    * in [-99, 99]) — a stand-in for a trained model's exported weight
    * vector, fully determined by (dim, seed) so the whole scoring pipeline
    * is replicable in the DuckDB oracle (same contract as
    * [[Similarity.fixedCentroids]]). */
  def fixedClassifierWeights(dim: Int, seed: Long = 17L): Array[Long] = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val next = graft.util.SplitMix64.generator(seed)
    Array.fill(dim)(java.lang.Math.floorMod(next(), 199L) - 99L)
  }

  /** fastText-style hashed linear document classifier scoring (Joulin et
    * al. 2016's hashing trick, inference side): each token indexes a weight
    * bucket via `pmod(xxhash64(token), dim)` and the document score is the
    * bias plus the sum of its tokens' bucket weights; `label` thresholds at
    * 0. This is how production quality/toxicity classifiers run over a
    * corpus — the trained model exports to a flat weight array and scoring
    * becomes pure column arithmetic, no model runtime in the executors.
    *
    * Scale shape: a narrow scan-bound projection — no shuffle, no join, no
    * state; the weight table rides into codegen as a plan literal (8·dim
    * bytes). Integer weights make the score an order-free BIGINT sum, so
    * the result is engine-exact and the DuckDB oracle (XXH64 replica +
    * the same literal weights) compares bit-equal. */
  def classifierScore(df: DataFrame, idCol: String, textCol: String,
                      weights: Array[Long], bias: Long = 0L): DataFrame = {
    require(weights.nonEmpty, "need a non-empty weight vector")
    val dim = weights.length
    val w = array(weights.map(lit): _*)
    // NULL text scores like empty text (0 tokens, score = bias) — matching
    // the oracle's zero-row unnest + LEFT JOIN zero-fill; the token array
    // is projected ONCE behind an alias so the regex-heavy normalization
    // doesn't re-evaluate per output column (lambda-bearing expressions
    // are excluded from codegen subexpression elimination, and
    // CollapseProject leaves non-cheap multi-referenced aliases staged)
    val toks = filter(TF.tokens(coalesce(col(textCol), lit(""))), t => t =!= "")
    df.select(col(idCol), toks.as("__tk"))
      .select(col(idCol),
        size(col("__tk")).cast("long").as("n_tokens"),
        aggregate(col("__tk"), lit(bias), (acc, tk) =>
          acc + element_at(w,
            (pmod(xxhash64(tk), lit(dim.toLong)) + 1).cast("int"))).as("score"))
      .withColumn("label", when(col("score") >= 0, "keep").otherwise("drop"))
  }

  /** Corpus vocabulary: the top `vocabSize` normalized tokens by
    * (count desc, token asc) — a deterministic total order, so the id
    * assignment is reproducible across engines and runs. One partial-agg
    * shuffle over (token, count); the result is `vocabSize`-bounded and
    * collected to the driver (the same bounded-collect contract as the IVF
    * k-means trainer). Index in the returned array = dense token id. */
  def buildVocab(df: DataFrame, textCol: String, vocabSize: Int): Array[String] =
    df.select(explode(TF.tokens(col(textCol))).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok").asc)
      .limit(vocabSize)
      .collect().map(_.getString(0))

  /** Token-id encoding against a corpus (or precomputed) vocabulary — the
    * tokenize step of a training-data pipeline, flattened to one row per
    * (doc, position) with OOV tokens mapped to `vocabSize` (the <unk> id).
    * Encoding is a native expression with the vocab as a codegen reference
    * object: a narrow scan-bound pass, no per-token join. Pass `vocab` to
    * reuse a frozen vocabulary across incremental batches (the production
    * shape — the vocab must not drift between crawls). */
  def tokenIds(df: DataFrame, idCol: String, textCol: String,
               vocabSize: Int, vocab: Option[Array[String]] = None): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val v = vocab.getOrElse(buildVocab(df, textCol, vocabSize))
    // unk id = vocabSize; a frozen vocab larger than vocabSize would make
    // its entries beyond vocabSize encode AS the unk id — ambiguous
    // training data, so reject it at call time
    require(v.length <= vocabSize,
      s"supplied vocab has ${v.length} entries > vocabSize=$vocabSize: " +
      "ids would collide with the unk id; pass vocabSize >= vocab.length")
    val ids = column(graft.functions.VocabEncode(
      expression(TF.tokens(col(textCol))), v, vocabSize))
    df.select(col(idCol), posexplode(ids).as(Seq("pos", "token_id")))
  }

  /** Two-pass distributed global prefix sum over `size` in `idCol` order:
    * per-sort-partition subtotals (one tiny row per partition) are
    * collected, turned into cumulative bases, and added to a
    * WITHIN-partition window — the naive `Window.orderBy(id)` with no
    * partitioning funnels the whole corpus through ONE task. Returns the
    * frame with `(idCol, sizeName, offset)` columns; its sorted
    * intermediate is persisted in the caller's scope. */
  private[graft] def withPrefixOffsets(df: DataFrame, idCol: String,
                                       size: org.apache.spark.sql.Column,
                                       sizeName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sorted = df
      .select(col(idCol), size.cast("long").as(sizeName))
      .repartitionByRange(col(idCol))
      .sortWithinPartitions(col(idCol))
      .withColumn("__pid", spark_partition_id())
    val persisted = Materialize.persist(sorted)
    // pass 1: per-partition totals — numPartitions rows, driver-bounded
    val totals = persisted.groupBy("__pid").agg(sum(sizeName).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    // baseOf(pid) = total size in all partitions before pid
    val baseOf = totals.map(_._1).zip(
      totals.scanLeft(0L)((acc, pt) => acc + pt._2).dropRight(1)).toMap
    val baseCol =
      if (baseOf.isEmpty) lit(0L)
      else coalesce(
        element_at(
          map(baseOf.toSeq.flatMap { case (p, b) => Seq(lit(p), lit(b)) }: _*),
          col("__pid")),
        lit(0L))
    // pass 2: within-partition prefix sum + partition base
    val w = Window.partitionBy("__pid").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    persisted.withColumn("offset",
      baseCol + coalesce(sum(sizeName).over(w), lit(0L)))
  }

  /** Vocabulary report per group: exact distinct-token count (shuffle
    * carries (group, token-hash) — 64-bit keys, never the text) plus the
    * HyperLogLog++ estimate. At 100 TB the exact count is the expensive
    * truth (one dedup shuffle) and the sketch is the one-pass scan-bound
    * path (`rsd` controls the size/error trade) — emitting both lets a
    * pipeline validate its sketch error budget on a sample before trusting
    * the sketch alone at full scale. */
  /** BPE vocabulary induction (Sennrich et al. 2016) — the tokenizer
    * TRAINING pass, not just application: `numMerges` iterations of "merge
    * the highest-weight adjacent symbol pair", learned over the WORD
    * FREQUENCY table. That table is the whole scale story: one corpus scan
    * builds `(word, count)` (at 100 TB still only O(vocabulary) rows —
    * tens of millions, not trillions), and every iteration runs over it
    * alone; the corpus is never touched again. Per iteration: one
    * map-side-combinable pair-weight aggregation, a single-row bounded
    * collect (the argmax pair — the only driver traffic), and one narrow
    * fold rewriting each word's symbol array.
    *
    * Determinism contract (gate-grade): weights are BIGINT word-count
    * sums; the argmax tie-breaks on `(weight DESC, left ASC, right ASC)`
    * over post-`normText` `[a-z0-9]` symbols, where UTF-16 and byte-wise
    * collation agree. The merge application is the greedy LEFT-TO-RIGHT
    * non-overlapping rule: a fold that merges the current symbol into the
    * accumulator's tail exactly when tail==left ∧ current==right — for an
    * (a,a) run it takes the 1st, 3rd, … occurrence, which the oracle
    * reproduces relationally (islands + odd-rank selection). Merged
    * symbols never cascade within one iteration (tail "ab" ≠ "a" when b
    * is non-empty), so one pass per iteration IS the full BPE step.
    *
    * Returns the learned merge table `(rank, left, right, weight)` —
    * the artifact a tokenizer trainer ships. Stops early if no pair is
    * left (every word fully merged).
    *
    * Execution shape (the production-vocab fix): the corpus scan builds
    * the `(word, count)` table ONCE; when its distinct-word count fits
    * `maxDriverWords` (it almost always does — the table is O(language
    * vocabulary)), the whole merge loop runs DRIVER-LOCAL over the
    * collected table with incrementally-maintained pair weights and
    * a lazy-deletion priority queue ([[localBpeMerges]]) — one Spark job
    * total instead of `numMerges` sequential argmax jobs (a 50k-merge
    * production vocabulary would otherwise serialize 50k driver
    * round-trips). Past the bound, the distributed per-iteration loop
    * below is the fallback; both paths compute the identical table (the
    * spec pins bit-equality).
    *
    * Default bound: 1M distinct words. The local structures are BOXED
    * (`(String, String)` pair keys, `HashSet[Integer]` occurrence sets
    * over ~10+ adjacencies per word), so heap is roughly hundreds of
    * bytes per word-adjacency — ~1M words fits comfortably in a few GB
    * of driver headroom, while the old 4M default sat close to driver
    * OOM exactly where the distributed fallback would have been the
    * safer path. Raise it only against a driver sized for it. */
  def bpeMerges(df: DataFrame, textCol: String, numMerges: Int,
                maxDriverWords: Long = 1L << 20): DataFrame = Materialize.scope {
    val freq = Materialize.persist(wordCounts(df, textCol))
    bpeMergesFromCounts(freq, numMerges, maxDriverWords, ownsCache = true)
  }

  /** The `(w, cnt)` word-frequency table both tokenizer trainers start
    * from — ONE corpus scan, O(language vocabulary) rows. Shared by
    * [[tokenizerCompareFertility]] so the BPE and unigram arms don't each
    * rebuild it (guide §1.2 step 1). */
  private[graft] def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TF.tokens(col(textCol))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** [[bpeMerges]] over a PREBUILT (persisted) word-frequency table.
    * `ownsCache = false` leaves the caller's persist untouched (the
    * shared-base path); `true` releases it as soon as it is consumed. */
  private[graft] def bpeMergesFromCounts(freq: DataFrame, numMerges: Int,
                                         maxDriverWords: Long,
                                         ownsCache: Boolean): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = freq.sparkSession
    val merges =
      if (freq.count() <= maxDriverWords) {
        val table = freq.collect().map(r => (r.getString(0), r.getLong(1)))
        if (ownsCache) Materialize.release(freq)
        localBpeMerges(table, numMerges)
      } else Materialize.scope(distributedBpeMerges(freq, numMerges, ownsCache))
    spark.createDataFrame(merges).toDF("rank", "left", "right", "weight")
  }

  /** The per-iteration distributed fallback of [[bpeMergesFromCounts]]:
    * one argmax job and one fold stage per merge, each stage persisted in
    * the caller's scope and released once the next one is materialized. */
  private def distributedBpeMerges(freq: DataFrame, numMerges: Int,
                                   ownsCache: Boolean): Seq[(Int, String, String, Long)] = {
    // char split: substr is 1-based; transform over 1..len
    val charSplit = transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))
    var words = Materialize.persist(freq
      .select(col("cnt"), charSplit.as("syms")))
    words.count() // materialize off the freq cache before releasing it
    if (ownsCache) Materialize.release(freq)
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var prev: DataFrame = null
    var exhausted = false
    for (rank <- 1 to numMerges if !exhausted) {
      val top = words
        // single-symbol words have no pairs — and Spark's sequence(1, 0)
        // would be DESCENDING [1, 0], turning them into an ANSI
        // out-of-bounds element_at instead of an empty list
        .where(size(col("syms")) >= 2)
        .select(col("cnt"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("l"),
                      element_at(col("syms"), i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("weight"))
        .orderBy(col("weight").desc, col("l").asc, col("r").asc)
        .limit(1).collect() // bounded: exactly one row crosses to the driver
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, wt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((rank, l, r, wt))
        val fold = aggregate(col("syms"),
          array().cast("array<string>"),
          (acc, s) => when(
            // `get` is 0-based and NULL-safe on the empty accumulator (no
            // ANSI out-of-bounds throw); NULL tail fails the match → append
            get(acc, size(acc) - 1) === lit(l) && s === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1),
                   array(concat(element_at(acc, size(acc)), s))))
            .otherwise(concat(acc, array(s))))
        if (prev != null) Materialize.release(prev)
        prev = words
        words = Materialize.persist(words.select(col("cnt"), fold.as("syms")))
        words.count() // materialize this stage so the next argmax does one fold, not rank folds
      }
    }
    merges.toSeq
  }

  /** Driver-local BPE merge loop over the collected word-frequency table —
    * bit-identical to the distributed per-iteration loop (the spec pins
    * equality), but with the textbook incremental trainer shape: pair
    * weights are maintained under each merge (only words CONTAINING the
    * merged pair are touched), and the argmax is a lazy-deletion priority
    * queue instead of a full rescan, so 50k merges cost O(total symbol
    * updates + pushes log pushes) rather than 50k table scans — and zero
    * Spark jobs.
    *
    * Determinism contract is [[bpeMerges]]'s verbatim: weights are exact
    * Long occurrence-weighted sums (every ADJACENT position counts, even
    * overlapping ones), argmax tie-breaks `(weight DESC, left ASC, right
    * ASC)` with Java String ordering — identical to UTF8String byte order
    * on the post-normText `[a-z0-9]` alphabet — and application is the
    * greedy leftmost-non-overlapping single pass. */
  private[graft] def localBpeMerges(words: Array[(String, Long)],
                                    numMerges: Int): Seq[(Int, String, String, Long)] = {
    // code-point split, matching the engine's substr(i, 1) char split
    def split(w: String): Array[String] = {
      val out = new scala.collection.mutable.ArrayBuffer[String](w.length)
      var i = 0
      while (i < w.length) {
        val n = Character.charCount(w.codePointAt(i))
        out += w.substring(i, i + n)
        i += n
      }
      out.toArray
    }
    val syms = words.map { case (w, _) => split(w) }
    val cnt = words.map(_._2)
    final case class PQE(w: Long, l: String, r: String)
    val pq = new java.util.PriorityQueue[PQE](math.max(16, words.length),
      new java.util.Comparator[PQE] {
        def compare(a: PQE, b: PQE): Int = {
          val c0 = java.lang.Long.compare(b.w, a.w) // weight DESC
          if (c0 != 0) return c0
          val c1 = a.l.compareTo(b.l)               // left ASC
          if (c1 != 0) c1 else a.r.compareTo(b.r)   // right ASC
        }
      })
    val weight = new java.util.HashMap[(String, String), java.lang.Long]()
    val occurs = new java.util.HashMap[(String, String), java.util.HashSet[Integer]]()
    def bump(p: (String, String), by: Long): Unit = {
      val w0: Long = Option(weight.get(p)).fold(0L)(_.longValue())
      val w1 = w0 + by
      if (w1 == 0L) { weight.remove(p); () } else { weight.put(p, w1); () }
    }
    // initial adjacency scan
    var wi = 0
    while (wi < syms.length) {
      val s = syms(wi)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        bump(p, cnt(wi))
        occurs.computeIfAbsent(p, _ => new java.util.HashSet[Integer]()).add(wi)
        i += 1
      }
      wi += 1
    }
    weight.forEach((p, w) => { pq.add(PQE(w.longValue(), p._1, p._2)); () })
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    def applyMerge(s: Array[String], l: String, r: String): Array[String] = {
      val b = new scala.collection.mutable.ArrayBuffer[String](s.length)
      var i = 0
      while (i < s.length) {
        if (i + 1 < s.length && s(i) == l && s(i + 1) == r) { b += l + r; i += 2 }
        else { b += s(i); i += 1 }
      }
      b.toArray
    }
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      // lazy deletion: an entry is live iff its weight is still current
      var top: PQE = null
      while (top == null && !pq.isEmpty) {
        val e = pq.poll()
        val cur = weight.get((e.l, e.r))
        if (cur != null && cur.longValue() == e.w) top = e
      }
      if (top == null) exhausted = true
      else {
        out += ((rank, top.l, top.r, top.w))
        val p0 = (top.l, top.r)
        val affected = occurs.get(p0)
        val idxs = new Array[Int](affected.size())
        val it = affected.iterator(); var k = 0
        while (it.hasNext) { idxs(k) = it.next().intValue(); k += 1 }
        val touched = new java.util.HashSet[(String, String)]()
        var j = 0
        while (j < idxs.length) {
          val widx = idxs(j)
          val before = syms(widx)
          // retract the word's old adjacencies
          var i = 0
          while (i < before.length - 1) {
            val p = (before(i), before(i + 1))
            bump(p, -cnt(widx))
            val o = occurs.get(p); if (o != null) { o.remove(widx); () }
            touched.add(p)
            i += 1
          }
          val after = applyMerge(before, top.l, top.r)
          syms(widx) = after
          // assert the new adjacencies
          i = 0
          while (i < after.length - 1) {
            val p = (after(i), after(i + 1))
            bump(p, cnt(widx))
            occurs.computeIfAbsent(p, _ => new java.util.HashSet[Integer]()).add(widx)
            touched.add(p)
            i += 1
          }
          j += 1
        }
        val tIt = touched.iterator()
        while (tIt.hasNext) {
          val p = tIt.next()
          val w = weight.get(p)
          if (w != null) { pq.add(PQE(w.longValue(), p._1, p._2)); () }
        }
        rank += 1
      }
    }
    out.toSeq
  }

  /** The encoded-words column for a learned merge table: ONE native
    * projection ([[graft.functions.BpeApply]]) carrying the ordered merge
    * table as a codegen reference object — plan size is constant in the
    * merge count (the round-13 verdict's production-vocab fix; a 32k-merge
    * chain of `replace` expressions would blow up analysis/codegen).
    * Merges apply in rank order as leftmost-non-overlapping literal
    * replacements — exactly the trainer's greedy fold (tail==left ∧
    * cur==right, the [[bpeMerges]] determinism contract), so training and
    * application tokenize identically. */
  private def bpeApplyCol(tk: Column, merges: Array[(String, String)]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.functions.BpeApply(expression(tk),
      merges.map { case (l, r) => s"$l $r" },
      merges.map { case (l, r) => l + r }))
  }

  /** Tokenizer APPLICATION — the other half of the BPE story: learn the
    * merge table with [[bpeMerges]] (bounded driver collect, ≤ `numMerges`
    * rows — the artifact a trainer ships), then ENCODE every document with
    * it via the single-projection native encoder ([[bpeApplyCol]]).
    *
    * Per-document output: word count, post-BPE token count, and an md5 of
    * the full encoded stream (words joined by ' | ') — the cross-engine
    * pin that proves every merge landed at the same positions. Encoding is
    * a pure per-row projection (scan-bound, no shuffle); the encoded-words
    * array is referenced twice in one projection (token sum + md5), which
    * CollapseProject evaluates twice — absorbed by the encoder's
    * distinct-word memo, not a scale hazard. */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                numMerges: Int): DataFrame = {
    val merges = bpeMerges(df, textCol, numMerges)
      .orderBy("rank").collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right")))
    df.select(col(idCol), TF.tokens(col(textCol)).as("tk"))
      .select(col(idCol), size(col("tk")).cast("long").as("n_words"),
              bpeApplyCol(col("tk"), merges).as("ew"))
      .select(col(idCol), col("n_words"),
        aggregate(col("ew"), lit(0L), (acc, e) =>
          acc + when(length(e) === 0, lit(0))
            .otherwise(size(split(e, " "))).cast("long")).as("n_tokens_bpe"),
        md5(array_join(col("ew"), " | ")).as("enc_md5"))
  }

  /** Tokenizer fertility report per group (language/source): after
    * encoding with the learned BPE merges, how many subword tokens does a
    * word cost, and how many characters does a token carry — THE
    * cross-language tokenizer-quality numbers (a tokenizer trained on
    * English typically shows 2-3x worse fertility on underrepresented
    * languages, which silently inflates their training cost and shrinks
    * their effective context window). Integer ‰ ratios of BIGINT sums —
    * order-free, bit-reproducible. Same scale shape as [[bpeEncode]]
    * (merge table rides as one reference object; encoding is a narrow scan) plus one
    * map-side-combinable rollup. */
  def bpeFertility(df: DataFrame, idCol: String, textCol: String,
                   groupCol: String, numMerges: Int): DataFrame = {
    val merges = bpeMerges(df, textCol, numMerges)
      .orderBy("rank").collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right")))
    df.select(col(groupCol), TF.tokens(col(textCol)).as("tk"))
      .select(col(groupCol),
        size(col("tk")).cast("long").as("nw"),
        aggregate(col("tk"), lit(0L),
          (a, w) => a + length(w).cast("long")).as("nc"),
        aggregate(bpeApplyCol(col("tk"), merges), lit(0L), (acc, e) =>
          acc + when(length(e) === 0, lit(0))
            .otherwise(size(split(e, " "))).cast("long")).as("nt"))
      .groupBy(col(groupCol))
      .agg(sum(col("nw")).as("sum_words"),
           sum(col("nc")).as("sum_word_chars"),
           sum(col("nt")).as("sum_bpe_tokens"))
      // ANSI integer DIV by zero throws; an empty group reports NULL
      .withColumn("tokens_per_word_pm",
        when(col("sum_words") === 0, lit(null).cast("long"))
          .otherwise(expr("sum_bpe_tokens * 1000 DIV sum_words")))
      .withColumn("chars_per_token_pm",
        when(col("sum_bpe_tokens") === 0, lit(null).cast("long"))
          .otherwise(expr("sum_word_chars * 1000 DIV sum_bpe_tokens")))
  }

  /** Unigram-LM tokenizer induction (SentencePiece-style, Kudo 2018) —
    * the OTHER tokenizer-training family next to [[bpeMerges]]: instead of
    * growing pieces bottom-up by merging, seed a large candidate-piece
    * vocabulary and let EM re-estimate piece frequencies from each round's
    * best segmentations, keeping the top `vocabSize`.
    *
    * Deterministic integer EM (the contract that lets DuckDB replay every
    * round bit-exactly — same philosophy as the [[bpeMerges]] contract):
    * the E-step segments each DISTINCT word with the lexicographic
    * integer Viterbi of [[graft.functions.UnigramSegmentExpr]] (piece
    * count ASC, frequency mass DESC, segmentation string ASC — the
    * ln-free surrogate for float log-likelihood); the M-step recounts
    * piece frequencies as exact BIGINT occurrence-weighted sums and keeps
    * the top `vocabSize` by COVERAGE `(freq · piece length) DESC, piece
    * ASC` — a total order, so the cut is reproducible. Coverage (corpus
    * characters the piece accounts for) is the integer surrogate for
    * SentencePiece's likelihood-loss pruning: a plain frequency cut would
    * always prefer single characters (every substring outweighs the word
    * containing it), never promoting whole words. Seed vocabulary: every
    * substring of length ≤ `maxPieceLen` of every word, weighted by word
    * count, same top-V cut.
    *
    * Scale shape — the per-iteration cost audit (round-13 verdict item 5,
    * the [[bpeMerges]] treatment applied here): ONE corpus scan builds the
    * word-frequency table (at 100 TB still O(language vocabulary) rows);
    * every EM round runs over that table alone and costs exactly
    *   - one Spark job: a codegen'd per-row Viterbi projection
    *     ([[graft.functions.UnigramSegmentExpr]] — the round's vocabulary
    *     rides as ONE codegen reference object, so plan size is constant
    *     in `vocabSize`; no per-piece expression chains ever build up),
    *     an explode, and one map-side-combinable recount;
    *   - one driver collect of ≤ `vocabSize` rows (the top-V cut — the
    *     artifact a trainer ships, the same bounded-collect story as the
    *     BPE merge table). Nothing larger than the vocabulary ever
    *     crosses to the driver, and no state accumulates across rounds.
    * The ≥2k-piece spec pins this shape end-to-end at a production-ish
    * vocabulary size. Words longer than `maxWordLen` are excluded from
    * training (and bypass as single OOV pieces at encode time — the
    * documented contract in [[graft.functions.UnigramSegmentExpr]]). */
  def unigramTrain(df: DataFrame, textCol: String, vocabSize: Int,
                   maxPieceLen: Int, maxWordLen: Int,
                   emIters: Int): Seq[(String, Long)] = Materialize.scope {
    val words = Materialize.persist(df
      .select(explode(TF.tokens(col(textCol))).as("w"))
      .where(length(col("w")) > 0 && length(col("w")) <= maxWordLen)
      .groupBy("w").agg(count(lit(1)).as("cnt")))
    unigramTrainFromCounts(words, vocabSize, maxPieceLen, maxWordLen, emIters)
  }

  /** [[unigramTrain]]'s EM loop over a PREBUILT (persisted) `(w, cnt)`
    * word-frequency table, already length-capped to `maxWordLen`. The
    * caller owns the persist. */
  private[graft] def unigramTrainFromCounts(words: DataFrame, vocabSize: Int,
                                            maxPieceLen: Int, maxWordLen: Int,
                                            emIters: Int): Seq[(String, Long)] = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(emIters >= 0 && emIters <= 8,
      s"emIters must be in [0, 8], got $emIters")
    def topV(cand: DataFrame): Seq[(String, Long)] =
      cand.groupBy("p").agg(sum(col("cnt")).as("freq"))
        .orderBy((col("freq") * length(col("p"))).desc, col("p").asc)
        .limit(vocabSize) // bounded collect: the vocabulary artifact
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val substrings = flatten(transform(
      sequence(lit(1), length(col("w"))), st =>
        transform(
          sequence(lit(1), least(lit(maxPieceLen), length(col("w")) - st + 1)),
          pl => col("w").substr(st, pl))))
    var vocab = topV(words.select(col("cnt"), explode(substrings).as("p")))
    for (_ <- 1 to emIters) {
      val seg = column(graft.functions.UnigramSegmentExpr(
        expression(col("w")), vocab.toMap, maxPieceLen, maxWordLen))
      vocab = topV(words
        .select(col("cnt"), explode(split(seg, " ")).as("p")))
    }
    vocab
  }

  /** The learned unigram vocabulary as a rank table `(rank, piece, freq,
    * coverage_chars)` — ordered by the same (coverage DESC, piece ASC)
    * total order the EM cut uses. See [[unigramTrain]]. */
  def unigramVocab(df: DataFrame, textCol: String, vocabSize: Int,
                   maxPieceLen: Int = 6, maxWordLen: Int = 12,
                   emIters: Int = 2): DataFrame = {
    val v = unigramTrain(df, textCol, vocabSize, maxPieceLen, maxWordLen,
      emIters)
    df.sparkSession.createDataFrame(
      v.zipWithIndex.map { case ((p, f), i) =>
        (i + 1L, p, f, f * p.length) })
      .toDF("rank", "piece", "freq", "coverage_chars")
  }

  /** Tokenizer APPLICATION for the unigram family — train with
    * [[unigramTrain]], then encode every document: per-word Viterbi
    * segmentation (vocabulary as a plan literal — a pure scan-bound
    * projection, no shuffle), reporting word count, unigram token count,
    * and an md5 of the full encoded stream (words joined by ' | ') — the
    * same cross-engine pin [[bpeEncode]] ships, proving every piece
    * boundary landed identically. */
  def unigramEncode(df: DataFrame, idCol: String, textCol: String,
                    vocabSize: Int, maxPieceLen: Int = 6,
                    maxWordLen: Int = 12, emIters: Int = 2): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val vocab = unigramTrain(df, textCol, vocabSize, maxPieceLen,
      maxWordLen, emIters).toMap
    def segW(w: Column): Column = column(graft.functions.UnigramSegmentExpr(
      expression(w), vocab, maxPieceLen, maxWordLen))
    df.select(col(idCol), TF.tokens(col(textCol)).as("tk"))
      .select(col(idCol), size(col("tk")).cast("long").as("n_words"),
              transform(col("tk"), w => segW(w)).as("ew"))
      .select(col(idCol), col("n_words"),
        aggregate(col("ew"), lit(0L), (acc, e) =>
          acc + when(length(e) === 0, lit(0))
            .otherwise(size(split(e, " "))).cast("long")).as("n_tokens_uni"),
        md5(array_join(col("ew"), " | ")).as("enc_md5"))
  }

  /** Per-group tokenizer fertility for the unigram family — the
    * [[bpeFertility]] twin: after training with [[unigramTrain]], how
    * many subword pieces a word costs and how many characters a piece
    * carries, per language/source. Integer ‰ ratios of BIGINT sums;
    * same scan shape as [[unigramEncode]] plus one combinable rollup. */
  def unigramFertility(df: DataFrame, textCol: String, groupCol: String,
                       vocabSize: Int, maxPieceLen: Int = 6,
                       maxWordLen: Int = 12, emIters: Int = 2): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val vocab = unigramTrain(df, textCol, vocabSize, maxPieceLen,
      maxWordLen, emIters).toMap
    def segW(w: Column): Column = column(graft.functions.UnigramSegmentExpr(
      expression(w), vocab, maxPieceLen, maxWordLen))
    df.select(col(groupCol), TF.tokens(col(textCol)).as("tk"))
      .select(col(groupCol),
        size(col("tk")).cast("long").as("nw"),
        aggregate(col("tk"), lit(0L),
          (a, w) => a + length(w).cast("long")).as("nc"),
        aggregate(transform(col("tk"), w => segW(w)), lit(0L), (acc, e) =>
          acc + when(length(e) === 0, lit(0))
            .otherwise(size(split(e, " "))).cast("long")).as("nt"))
      .groupBy(col(groupCol))
      .agg(sum(col("nw")).as("sum_words"),
           sum(col("nc")).as("sum_word_chars"),
           sum(col("nt")).as("sum_uni_tokens"))
      .withColumn("tokens_per_word_pm",
        when(col("sum_words") === 0, lit(null).cast("long"))
          .otherwise(expr("sum_uni_tokens * 1000 DIV sum_words")))
      .withColumn("chars_per_token_pm",
        when(col("sum_uni_tokens") === 0, lit(null).cast("long"))
          .otherwise(expr("sum_word_chars * 1000 DIV sum_uni_tokens")))
  }

  /** BPE vs unigram fertility in ONE pipeline — the fused form of
    * `bpeFertility ⋈ unigramFertility` (round-16 verdict #4): both
    * trainers start from the SAME persisted word-frequency table (one
    * corpus scan + one aggregate instead of two of each — the BPE arm
    * reads it whole, the unigram arm under its `maxWordLen` cap, a
    * post-aggregation filter that cannot change any count), and both
    * tokenizers then encode in ONE corpus scan (one `tokens()` pass
    * feeding the BPE fold and the unigram Viterbi side by side) instead
    * of one scan per arm plus a join. Outputs are value-identical to the
    * composed form — same training inputs, same encoders, same integer
    * ‰ arithmetic over the same per-group sums (spec-pinned equal, and
    * the gate's oracle hash pins it cross-engine). Columns:
    * `(groupCol, sum_words, sum_bpe_tokens, sum_uni_tokens, bpe_tpw_pm,
    * uni_tpw_pm)`. */
  def tokenizerCompareFertility(df: DataFrame, textCol: String,
                                groupCol: String, numMerges: Int,
                                vocabSize: Int, maxPieceLen: Int = 6,
                                maxWordLen: Int = 12,
                                emIters: Int = 2): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val (merges, vocab) = Materialize.scope {
      val wc = Materialize.persist(wordCounts(df, textCol))
      (bpeMergesFromCounts(wc, numMerges, maxDriverWords = 1L << 20, ownsCache = false)
         .orderBy("rank").collect()
         .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))),
       unigramTrainFromCounts(wc.where(length(col("w")) <= maxWordLen),
         vocabSize, maxPieceLen, maxWordLen, emIters).toMap)
    }
    def segW(w: Column): Column = column(graft.functions.UnigramSegmentExpr(
      expression(w), vocab, maxPieceLen, maxWordLen))
    def tokSum(ew: Column): Column =
      aggregate(ew, lit(0L), (acc, e) =>
        acc + when(length(e) === 0, lit(0))
          .otherwise(size(split(e, " "))).cast("long"))
    df.select(col(groupCol), TF.tokens(col(textCol)).as("tk"))
      .select(col(groupCol),
        size(col("tk")).cast("long").as("nw"),
        tokSum(bpeApplyCol(col("tk"), merges)).as("ntb"),
        tokSum(transform(col("tk"), w => segW(w))).as("ntu"))
      .groupBy(col(groupCol))
      .agg(sum(col("nw")).as("sum_words"),
           sum(col("ntb")).as("sum_bpe_tokens"),
           sum(col("ntu")).as("sum_uni_tokens"))
      .withColumn("bpe_tpw_pm",
        when(col("sum_words") === 0, lit(null).cast("long"))
          .otherwise(expr("sum_bpe_tokens * 1000 DIV sum_words")))
      .withColumn("uni_tpw_pm",
        when(col("sum_words") === 0, lit(null).cast("long"))
          .otherwise(expr("sum_uni_tokens * 1000 DIV sum_words")))
  }

  def vocabularyReport(df: DataFrame, textCol: String, rsd: Double,
                       byCols: String*): DataFrame =
    df.select((byCols.map(col) :+
        explode(TF.tokens(col(textCol))).as("__tok")): _*)
      .where(col("__tok") =!= "")
      .select((byCols.map(col) :+ xxhash64(col("__tok")).as("__th")): _*)
      .groupBy(byCols.map(col): _*)
      .agg(countDistinct(col("__th")).as("n_distinct_tokens"),
           approx_count_distinct(col("__th"), rsd).as("n_distinct_approx"),
           count(lit(1)).as("n_token_occurrences"))

  /** Per-group distinct-shingle cardinality via the native HyperLogLog
    * register aggregate ([[graft.functions.HllRegisters]]) with the exact
    * count alongside — the scan-bound "how big is each slice's n-gram
    * space" report. One corpus pass builds the sketch (fixed 2^p bytes per
    * group per task; merge = element-wise max, so only register arrays
    * cross the shuffle, never shingles); the exact distinct count is the
    * validation overlay a pipeline drops at full scale.
    *
    * The estimate is the RAW HLL estimator `alpha_m * m^2 / sum(2^-reg)`,
    * computed ln-free for cross-engine bit-stability: the harmonic
    * denominator is an exact `DECIMAL(38,0)` integer (`sum(2^(64-reg))`,
    * i.e. scaled by 2^64), and the one double division happens last, on
    * IEEE-identical operands in an identical expression tree, so even the
    * floating-point estimate matches the DuckDB oracle bit-for-bit. The
    * raw estimator needs n ≳ 2.5m (true here for every gate group); below
    * that a consumer applies linear counting from the emitted
    * `nonzero_regs` — the registers carry all the information.
    *
    * `regs_md5` fingerprints the full register array (bucket order), the
    * strongest cross-engine pin: identical hashes, buckets, and rank maxima
    * or a loud mismatch. */
  /** Mergeable-sketch rollup — the property that makes HLL a STORABLE
    * column at 100 TB: per-(coarse, fine) register arrays merged by
    * element-wise max must equal the registers computed directly per
    * coarse group. The gate emits both fingerprints plus their equality,
    * so the algebra (merge ∘ partial = direct) is engine-verified, and
    * the oracle pins both to its own register computation. This is the
    * pattern a production pipeline uses to maintain per-partition sketch
    * tables and answer any-granularity distinct counts without rescanning
    * the corpus. */
  def hllMergeRollup(df: DataFrame, textCol: String, p: Int,
                     fineCol: String, coarseCol: String): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4, 16], got $p")
    val sh = df.select(col(coarseCol), col(fineCol),
      explode(TF.shingleHashes(col(textCol))).as("__h"))
    val fine = sh.groupBy(col(coarseCol), col(fineCol))
      .agg(graft.functions.Sketches.hllRegisters(col("__h"), p).as("regs"))
    // merge = element-wise max across the fine groups; rebuilt in bucket
    // order (struct sort on (bucket, reg)) so the fingerprint is canonical
    val merged = fine
      .select(col(coarseCol), posexplode(col("regs")).as(Seq("bucket", "reg")))
      .groupBy(col(coarseCol), col("bucket")).agg(max("reg").as("reg"))
      .groupBy(col(coarseCol))
      .agg(transform(array_sort(collect_list(struct(col("bucket"), col("reg")))),
        s => s.getField("reg")).as("regs_merged"))
    val direct = sh.groupBy(col(coarseCol))
      .agg(graft.functions.Sketches.hllRegisters(col("__h"), p).as("regs_direct"))
    def fp(c: Column): Column =
      md5(array_join(transform(c, r => r.cast("string")), ","))
    merged.join(direct, coarseCol)
      .select(col(coarseCol), lit(1 << p).as("m"),
        fp(col("regs_merged")).as("merged_md5"),
        fp(col("regs_direct")).as("direct_md5"),
        (col("regs_merged") === col("regs_direct")).as("merged_eq_direct"),
        size(filter(col("regs_direct"), r => r > 0)).as("nonzero_regs"))
  }

  def hllCardinality(df: DataFrame, textCol: String, p: Int,
                     byCols: String*): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4, 16], got $p")
    require(byCols.nonEmpty, "at least one grouping column required")
    val m = 1 << p
    // native single-pass shingle hashing (ShingleHashes ≡ xxhash64 of the
    // token 3-grams — the equivalence the whole MinHash oracle family
    // already rests on). The HOF `shingles()` composition re-evaluated
    // tokens() per lambda element here (the CollapseProject trap —
    // measured 23 s → ~1 s at sf0.1). Per-doc hash dedup doesn't change
    // the per-group SET, so registers and the distinct count are
    // unaffected (modulo the standing 2^-64 collision trade).
    val sh = shingleHashRows(df, textCol, byCols)
    val regs = sh
      .groupBy(byCols.map(col): _*)
      .agg(graft.functions.Sketches.hllRegisters(col("__h"), p).as("regs"))
    val exact = sh.groupBy(byCols.map(col): _*)
      .agg(countDistinct(col("__h")).as("n_exact"))
    hllReport(regs, exact, p, byCols)
  }

  /** `(byCols..., __h)` — one row per distinct shingle hash per document
    * (the input both the batch HLL gate and its streaming twin feed to
    * [[graft.functions.HllRegisters]]). */
  def shingleHashRows(df: DataFrame, textCol: String,
                      byCols: Seq[String]): DataFrame =
    df.select((byCols.map(col) :+
      explode(TF.shingleHashes(col(textCol))).as("__h")): _*)

  /** Per-group Bloom membership sketch over the shingle-hash stream —
    * the third mergeable sketch beside the HLL registers (cardinality) and
    * the Count-Min cells (frequency): `numBits` bits per group answering
    * "was this shingle seen here", built in one pass with word-wise-OR
    * merge ([[graft.functions.BloomBits]]). Distinct from
    * [[shingleBloom]]/[[bloomMightContain]] (Spark's internal opaque
    * aggregate, used as a driver-collected shuffle PRE-filter that can
    * never change results): this sketch is the exportable, per-group,
    * cross-engine-verifiable ARTIFACT — the oracle replays every bit.
    *
    * Returns `(byCols..., words ARRAY<LONG>)`. Shared by the batch gate
    * and the streaming twin so both land on identical bytes. */
  def bloomSketchWords(df: DataFrame, textCol: String, byCols: Seq[String],
                       numBits: Int, numHashes: Int): DataFrame =
    shingleHashRows(df, textCol, byCols)
      .groupBy(byCols.map(col): _*)
      .agg(graft.functions.Sketches.bloomBits(col("__h"), numBits, numHashes)
        .as("words"))

  /** Project a `(byCols..., words)` Bloom table into the gate report:
    * sizing echo, md5 fingerprint of the exact word array, and the set-bit
    * count (load factor numerator). Integer-only. */
  def bloomReport(words0: DataFrame, numBits: Int, numHashes: Int,
                  byCols: Seq[String]): DataFrame =
    words0.select(byCols.map(col) ++ Seq(
      lit(numBits.toLong).as("m_bits"),
      lit(numHashes.toLong).as("k_hashes"),
      md5(array_join(transform(col("words"), w => w.cast("string")), ","))
        .as("words_md5"),
      aggregate(col("words"), lit(0L),
        (acc, w) => acc + bit_count(w).cast("long")).as("n_set_bits")): _*)

  /** Bloom-probed decontamination with the sketch AS the artifact: the
    * benchmark's distinct shingle hashes build ONE [[bloomSketchWords]]
    * array, the sketch broadcasts into a codegen'd per-shingle probe over
    * the corpus ([[graft.functions.Sketches.bloomMightContain]] — k
    * unrolled bit tests, no join, no shuffle of clean shingles), and each
    * corpus document reports `bloom_hits` beside the exact semi-join
    * overlay `exact_hits`. The containment contract is visible IN the
    * output: `bloom_hits >= exact_hits` row-for-row (zero false
    * negatives), with the gap = this sizing's realized false positives.
    *
    * Scale shape: this is [[decontaminateReport]]'s prefilter promoted to
    * the primary mechanism — at 100 TB the broadcast-bits + codegen-probe
    * path touches every corpus shingle exactly once in the scan stage and
    * shuffles only per-doc counters; the exact overlay is the sf-gate
    * verification layer (at production scale it runs only on the
    * bloom-flagged survivors, which this report's `exact_hits` proves
    * sufficient: rows with `bloom_hits = 0` have `exact_hits = 0`). */
  def bloomDecontaminate(corpus: DataFrame, idCol: String, textCol: String,
                         bench: DataFrame, benchText: String,
                         numBits: Int, numHashes: Int): DataFrame = {
    val benchH = Materialize.cut(
      shingleHashRows(bench, benchText, Nil).select(col("__h")).distinct())
    val words = benchH.agg(graft.functions.Sketches
      .bloomBits(col("__h"), numBits, numHashes).as("words"))
    // (id, hash) distinct feeds BOTH the probe and the exact overlay —
    // barrier so the shingle explode runs once
    val corpusH = Materialize.cut(
      shingleHashRows(corpus, textCol, Seq(idCol)).distinct())
    val probed = corpusH.crossJoin(broadcast(words))
      .select(col(idCol),
        graft.functions.Sketches.bloomMightContain(col("__h"), col("words"),
          numBits, numHashes).as("hit"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"),
           sum(when(col("hit"), 1L).otherwise(0L)).as("bloom_hits"))
    val exact = corpusH.join(benchH, Seq("__h"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("exact_hits"))
    probed.join(exact, Seq(idCol), "left").na.fill(0L, Seq("exact_hits"))
  }

  /** Project a `(byCols..., regs)` register table plus the exact overlay
    * into the gate report (fingerprint, nonzero registers, exact-integer
    * harmonic denominator, the ln-free raw estimate). Shared by the batch
    * path and the streaming twin so both land on identical bytes. */
  def hllReport(regs0: DataFrame, exact: DataFrame, p: Int,
                byCols: Seq[String]): DataFrame = {
    val m = 1 << p
    // element_at(pow2Dec, r + 1) = 2^(64-r), exact
    val pow2Dec = array((0 to 64).map(k =>
      lit(new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(64 - k)))
        .cast("decimal(38,0)")): _*)
    val regs = regs0.withColumn("denom",
      aggregate(col("regs"), lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"),
        (acc, r) => (acc + element_at(pow2Dec, r + 1)).cast("decimal(38,0)")))
    val est = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble)) *
      lit(m.toDouble * m.toDouble) * pow(lit(2.0), lit(64.0)) /
      col("denom").cast("double")
    regs
      .select(byCols.map(col) ++ Seq(
        lit(m).as("m"),
        md5(array_join(transform(col("regs"), r => r.cast("string")), ","))
          .as("regs_md5"),
        size(filter(col("regs"), r => r > 0)).as("nonzero_regs"),
        col("denom").cast("string").as("denom_str"),
        est.as("est_raw")): _*)
      .join(exact, byCols)
  }

  /** Sliding-window language ID — span-level language mixture inside a
    * document (code-switching / boilerplate-in-another-language
    * detection, the doc-level [[graft.functions.TextFunctions.langId]]
    * signal at window granularity): token windows of `windowTokens`
    * every `hopTokens`, each scored by distinct-stopword overlap per
    * language with the same argmax/tie-break as the doc-level ID.
    *
    * Scale shape: tokenize once, explode window STARTS (ceil(n/hop) slim
    * rows per doc), score each window with array intrinsics — scan-bound,
    * no shuffle, no UDF. Output per window: start, per-language scores,
    * `lang_win` (`und` when no stopword hits). */
  def windowLangid(df: DataFrame, idCol: String, textCol: String,
                   windowTokens: Int = 50, hopTokens: Int = 25): DataFrame = {
    require(windowTokens >= 1, s"windowTokens must be >= 1, got $windowTokens")
    require(hopTokens >= 1, s"hopTokens must be >= 1, got $hopTokens")
    val langs = TF.Stopwords.keys.toSeq.sorted
    val toks = df.select(col(idCol).as("doc_id"), TF.tokens(col(textCol)).as("tk"))
      .withColumn("n_toks", size(col("tk")).cast("long"))
    val wins = toks.select(col("doc_id"), col("tk"),
      explode(sequence(lit(0L),
        ((col("n_toks") - 1L) / hopTokens).cast("long") * hopTokens,
        lit(hopTokens.toLong))).as("win_start"))
    val win = slice(col("tk"), col("win_start").cast("int") + 1,
      lit(windowTokens))
    val scoreCols = langs.map { l =>
      size(array_intersect(array_distinct(win),
        array(TF.Stopwords(l).map(lit): _*))).cast("long").as(s"s_$l")
    }
    val scored = wins.select((col("doc_id") +: col("win_start") +: scoreCols): _*)
    val best = array_max(array(langs.map(l =>
      struct(col(s"s_$l").as("s"), lit(l).as("l"))): _*))
    scored.withColumn("lang_win",
      when(best.getField("s") > 0, best.getField("l")).otherwise(lit("und")))
  }

  /** Per-document code-switching report over [[windowLangid]]: the
    * document's own predicted language, its window count, and how many
    * windows predict a DIFFERENT (non-`und`) language — `minority_ppm`
    * is the curation signal ("5% of this document is another language:
    * embedded boilerplate, quotes, or a genuine bilingual doc"). */
  def codeSwitchReport(df: DataFrame, idCol: String, textCol: String,
                       windowTokens: Int = 50, hopTokens: Int = 25): DataFrame = {
    val wl = windowLangid(df, idCol, textCol, windowTokens, hopTokens)
    val docLang = df.select(col(idCol).as("doc_id"),
      TF.langId(col(textCol)).as("doc_lang_pred"))
    wl.join(docLang, Seq("doc_id"))
      .groupBy(col("doc_id"), col("doc_lang_pred"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("lang_win") =!= col("doc_lang_pred") &&
                 col("lang_win") =!= "und", 1L).otherwise(0L)).as("n_minority"))
      .withColumn("minority_ppm",
        expr("n_minority * 1000000 DIV n_windows"))
  }

  /** Pairwise HLL INTERSECTION estimates via sketch algebra — the "how
    * much vocabulary do these corpora share" report WITHOUT the distinct
    * join: registers union by element-wise max (exact sketch algebra),
    * and inclusion–exclusion turns three estimates into
    * `|A∩B| ≈ est(A) + est(B) − est(A∪B)`. At 100 TB this is the whole
    * point of mergeable sketches: per-group register arrays (2^p bytes
    * each) are built in ONE corpus pass, and every pairwise overlap
    * question afterwards is driver-trivial array math — no re-scan, no
    * (group_a, group_b, hash) shuffle. The exact overlay (one semi-join
    * per pair at gate scale) rides beside the estimate, as in every
    * sketch gate row.
    *
    * Float determinism: every estimate derives from an EXACT decimal
    * denominator through the same literal-for-literal expression tree as
    * [[hllReport]], and the inclusion–exclusion is two IEEE ops on those
    * reproducible doubles — bit-identical cross-engine, asserted not
    * assumed. */
  def hllIntersectReport(df: DataFrame, textCol: String, groupCol: String,
                         p: Int): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4, 16], got $p")
    val m = 1 << p
    val sh = Materialize.cut(
      shingleHashRows(df, textCol, Seq(groupCol)).distinct())
    val regs = sh.groupBy(col(groupCol).as("g"))
      .agg(graft.functions.Sketches.hllRegisters(col("__h"), p).as("regs"))
    // groups are a mixture config, not data — the pair frame is tiny
    val pairs = regs.select(col("g").as("g_a"), col("regs").as("regs_a"))
      .crossJoin(broadcast(
        regs.select(col("g").as("g_b"), col("regs").as("regs_b"))))
      .where(col("g_a") < col("g_b"))
      .withColumn("regs_u",
        zip_with(col("regs_a"), col("regs_b"), (a, b) => greatest(a, b)))
    val pow2Dec = array((0 to 64).map(k =>
      lit(new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(64 - k)))
        .cast("decimal(38,0)")): _*)
    def est(regsCol: Column): Column = {
      val denom = aggregate(regsCol,
        lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"),
        (acc, r) => (acc + element_at(pow2Dec, r + 1)).cast("decimal(38,0)"))
      lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble)) *
        lit(m.toDouble * m.toDouble) * pow(lit(2.0), lit(64.0)) /
        denom.cast("double")
    }
    val exact = sh.select(col(groupCol).as("g_a"), col("__h"))
      .join(sh.select(col(groupCol).as("g_b"), col("__h")), Seq("__h"))
      .where(col("g_a") < col("g_b"))
      .groupBy("g_a", "g_b")
      .agg(countDistinct(col("__h")).as("n_exact_intersect"))
    pairs.select(col("g_a"), col("g_b"),
        est(col("regs_a")).as("est_a"), est(col("regs_b")).as("est_b"),
        est(col("regs_u")).as("est_union"),
        (est(col("regs_a")) + est(col("regs_b")) - est(col("regs_u")))
          .as("est_intersect"))
      .join(exact, Seq("g_a", "g_b"), "left")
      .na.fill(0L, Seq("n_exact_intersect"))
  }

  /** Count-Min-sketch heavy hitters (Cormode & Muthukrishnan 2005) with an
    * exact verification pass — the "which tokens dominate the corpus"
    * report a mixture tuner reads before reweighting.
    *
    * Three corpus passes, none of which ever shuffles token text at volume:
    *
    *  1. SKETCH BUILD: every occurrence hashes into `depth` (row, cell)
    *     buckets — `pmod(xxhash64(j, token), width)`, Spark's chained-seed
    *     multi-arg hash — and a map-side-combinable count aggregates them.
    *     After partial aggregation at most `depth × width` cells per task
    *     cross the shuffle, independent of corpus size: THE reason to
    *     sketch at 100 TB instead of exact-counting 10^9 distinct tokens.
    *  2. PROBE: each distinct token's estimate is `min` over its `depth`
    *     cells, read via a broadcast join against the (tiny, aggregated)
    *     sketch; candidates are those with estimate ≥ `minCount`. CMS never
    *     under-counts, so this candidate set has NO false negatives.
    *  3. VERIFY: candidates broadcast back as a semi-join filter and only
    *     their occurrences are exactly counted — O(heavy tokens), not
    *     O(vocabulary) — eliminating the sketch's collision over-counts.
    *
    * Output per heavy token: the sketch estimate, the exact count, and the
    * collision overcount (`cms_est - n_exact`, always ≥ 0). All-integer —
    * bit-exact against the DuckDB oracle replica. */
  def heavyHitters(df: DataFrame, textCol: String, depth: Int, width: Int,
                   minCount: Long): DataFrame = {
    val toks = cmsTokens(df, textCol)
    cmsProbeVerify(toks, cmsSketch(toks, depth, width),
      depth, width, minCount)
  }

  /** Non-empty token stream for the CMS stages. */
  def cmsTokens(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TF.tokens(col(textCol))).as("token"))
      .where(col("token") =!= "")

  /** The depth (row, cell) CMS coordinates of one token, as one array
    * expression — `pmod(xxhash64(j, token), width)`, Spark's chained-seed
    * multi-arg hash. */
  def cmsCells(token: Column, depth: Int, width: Int): Column =
    array((0 until depth).map { j =>
      struct(lit(j).as("j"),
             pmod(xxhash64(lit(j.toLong), token), lit(width.toLong))
               .as("cell"))
    }: _*)

  /** CMS SKETCH BUILD (stage 1 of [[heavyHitters]]) as a standalone
    * aggregation so a STREAMING query can maintain it incrementally —
    * counts are mergeable (plain sums per cell), which is the whole
    * deployability story of the sketch on a firehose. */
  def cmsSketch(toks: DataFrame, depth: Int, width: Int): DataFrame = {
    require(depth >= 1, s"depth must be >= 1, got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    toks
      .select(explode(cmsCells(col("token"), depth, width)).as("jc"))
      .groupBy(col("jc.j").as("j"), col("jc.cell").as("cell"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** CMS PROBE + exact VERIFY (stages 2–3 of [[heavyHitters]]) against an
    * already-built sketch — batch-built or streamed, the cells are the
    * same table. */
  def cmsProbeVerify(toks: DataFrame, sketch: DataFrame, depth: Int,
                     width: Int, minCount: Long): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val candidates = toks.distinct()
      .select(col("token"),
        explode(cmsCells(col("token"), depth, width)).as("jc"))
      .select(col("token"), col("jc.j").as("j"), col("jc.cell").as("cell"))
      .join(broadcast(sketch), Seq("j", "cell"))
      .groupBy(col("token")).agg(min(col("cnt")).as("cms_est"))
      .where(col("cms_est") >= minCount)
    val exact = toks
      .join(broadcast(candidates.select("token")), Seq("token"), "left_semi")
      .groupBy(col("token")).agg(count(lit(1)).as("n_exact"))
    candidates.join(exact, Seq("token"))
      .select(col("token"), col("cms_est"), col("n_exact"),
              (col("cms_est") - col("n_exact")).as("overcount"))
  }

  /** Per-document n-gram novelty: the fraction (ppm) of a document's
    * distinct shingles that appear in NO other document — the inverse of
    * boilerplate, and the cheap "is this document adding anything new"
    * signal a curation pass ranks by next to quality and dedup scores
    * (high duplicate overlap ⇒ low novelty; a unique document scores
    * 1 000 000). Integer ppm floor, bit-reproducible.
    *
    * Scale shape: the posting table is slim (doc, shingle-hash) rows;
    * document frequency reduces it with one map-side-combinable
    * aggregate, and the novelty rollup is a second aggregate over the
    * joined slim rows — bodies never shuffle, no pair join anywhere
    * (this is the operator to run when the corpus is too big for even
    * blocked pair generation). */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3): DataFrame = {
    val posting = df.select(col(idCol).as("id"),
        explode(TF.shingleHashes(col(textCol), shingleN)).as("h"))
    val dfreq = posting.groupBy("h").agg(count(lit(1)).as("dfh"))
    posting.join(dfreq, "h")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_shingles"),
           count_if(col("dfh") === 1L).as("n_unique"))
      .withColumn("novelty_ppm",
        expr("n_unique * 1000000 DIV n_shingles"))
  }

  /** Per-group calibrated quality report: the heuristic quality score is
    * rank-normalized WITHIN each group (language, source) via
    * `percent_rank`, and the keep decision applies to the percentile, not
    * the raw score — fixing the cross-group bias of one global threshold
    * (the stopword component of the raw score structurally favors the
    * stopword-table languages, so a global cut would silently skew the
    * corpus toward them; per-language percentile cuts keep the same
    * FRACTION of every language). Emits the full decision report
    * (score, percentile, kept) rather than just survivors, because the
    * calibration curve itself is what a pipeline owner audits.
    *
    * Determinism: percent_rank = (rank−1)/(n−1) is an exact integer
    * ratio (single IEEE division, bit-equal cross-engine) and the
    * (score, id) ordering is total. Scale shape: one hash exchange on
    * the group key; the window input is the slim (id, group, score)
    * projection, never bodies. Skew note: a group's rows funnel through
    * one task — groups here are languages/sources (dozens to
    * thousands), each well under task size at any corpus scale; for
    * pathological single-group corpora, calibrate on a deterministic
    * hash-sample instead. */
  def calibratedQualityFilter(df: DataFrame, idCol: String, textCol: String,
                              groupCol: String,
                              keepFrac: Double = 0.5): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"keepFrac must be in (0, 1], got $keepFrac")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("quality"), col(idCol))
    df.select(col(idCol), col(groupCol),
        TF.qualityScore(col(textCol)).as("quality"))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("kept", col("pct_rank") >= lit(1.0 - keepFrac))
  }

  /** Per-document language-mixture report: the text is segmented into
    * fixed `window`-token chunks, each chunk language-identified
    * independently, and the per-doc segment-language histogram is rolled
    * up into the code-switching signals a multilingual curation pipeline
    * filters on — dominant language, its segment share (ppm), distinct
    * language count, and a mixed flag. Catches the documents a whole-doc
    * langid hides: boilerplate in one language wrapping content in
    * another, concatenated translations, code-switched forum text.
    *
    * Determinism: segmentation is a pure function of the normalized token
    * sequence; per-segment langid is the deterministic stopword argmax
    * ([[TF.langId]] — max score, then max language code lexicographically);
    * the dominant language breaks count ties by max code; the share is
    * integer ppm. Bit-replayable cross-engine.
    *
    * Scale shape: chunking + langid are narrow (scan-bound; the chunk
    * strings exist only inside the exploded projection, never shuffled
    * with bodies); the only shuffle carries slim (id, seg_lang, n) rows
    * — at most one per (doc, language) — and the two per-doc windows
    * share one partitioning. */
  def langMixtureReport(df: DataFrame, idCol: String, textCol: String,
                        window: Int = 12): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val tk = TF.tokens(col(textCol))
    val nChunks = greatest(
      floor((size(tk) + lit(window - 1)) / lit(window)).cast("int"), lit(1))
    val segs = transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(tk, i * lit(window) + lit(1), lit(window)), " "))
    val segLang = df
      .select(col(idCol).as("id"), explode(segs).as("seg"))
      .select(col("id"), TF.langId(col("seg")).as("seg_lang"))
      .groupBy("id", "seg_lang").agg(count(lit(1)).as("n"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
    val rank = byDoc.orderBy(col("n").desc, col("seg_lang").desc)
    segLang
      .withColumn("rk", row_number().over(rank))
      .withColumn("n_seg", sum(col("n")).over(byDoc))
      .withColumn("n_langs", count(lit(1)).over(byDoc))
      .where(col("rk") === 1)
      .select(col("id").as(idCol), col("n_seg"), col("n_langs"),
              col("seg_lang").as("dom_lang"),
              expr("n * 1000000 DIV n_seg").as("dom_ppm"),
              (col("n_langs") > 1).as("mixed"))
  }
}
