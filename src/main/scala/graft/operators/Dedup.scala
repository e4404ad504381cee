package graft.operators

import graft.functions.{LongParam, TextFunctions => TF, VectorFunctions => VF}
import graft.util.Materialize

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus deduplication operators for large-scale training-data pipelines
  * (SURVEY.md §7 phase 5). All variants follow the same contract:
  *
  *   - pair finders return the dup-candidate pair list `(id_a, id_b, score)`
  *     with `id_a < id_b` (deterministic orientation, no double counting);
  *   - `survivors*` reduce pairs to the kept set with the greedy rule
  *     "drop any doc that duplicates a smaller id" — deterministic,
  *     single-pass, and at scale a semi-join instead of an iterative
  *     connected-components (which would need O(diameter) shuffles).
  *
  * Scale design (100 TB): every method is built so the pair space is pruned
  * *before* any shuffle — exact dedup groups on a 128-bit hash (no full-text
  * shuffle), MinHash/SimHash block on LSH band keys / hash fragments so the
  * candidate join is equi-join-able, and verification runs only on
  * candidates. No method materializes the O(n²) pair matrix: oversized
  * blocking buckets (boilerplate/empty docs sharing a band key — the classic
  * skew killer) degrade to linear star-pairing instead of quadratic
  * all-pairs (see `cappedCandidatePairs`).
  */
object Dedup {

  /** Exact dedup: one survivor (min id) per identical text. Grouping is on
    * `md5(text)` so at scale the shuffle carries a 128-bit key + id, not the
    * document body (the body column is pruned from the exchange). A false
    * positive requires an md5 collision on the *same corpus*; acceptable for
    * training-data dedup (and the same trade the reference corpus tooling
    * makes). */
  def exactSurvivors(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Exact near-dup on *normalized* text (case/punct/whitespace-insensitive). */
  def normalizedSurvivors(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(to_binary(TF.normText(col(textCol)), lit("utf-8"))).as("text_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** The ingest LOOPS are incompatible with the plan-inspection
    * materialize mode by design: each step's survivor set must be CUT
    * before its postings extend the index, or a later consumption of the
    * returned (lazy) plan re-probes the index AFTER the appends — every
    * accepted row then meets its own postings and silently flips to
    * dropped. Loud failure beats a silently empty result. */
  private[graft] def requireMaterializing(spark: org.apache.spark.sql.SparkSession,
                                   op: String): Unit =
    require(Materialize.mode(spark) != Materialize.Lazy,
      s"$op mutates the index between steps and needs its per-step results " +
      s"cut: ${Materialize.ConfKey}=none (plan-inspection mode) would " +
      "re-execute each step's plan against the grown index and return an " +
      "empty survivor set — unset it, or inspect the one-step operators")

  /** Skew-capped blocked self-join over a SLIM `(id, key)` projection.
    * `blocked` must contain exactly the `id` column and the blocking key
    * `key` — callers project heavy payloads (signature arrays, vectors) OUT
    * before blocking and re-join them onto the small candidate set
    * afterwards. (Round-2 lesson, measured: dragging the 128-long minhash
    * signature through the bucket-sizing window shuffle and its persist cost
    * +81% on `dedup_minhash`; the identical capped join over 8-byte simhash
    * keys ran 7× faster.) Emits DISTINCT `(id_a, id_b)` with `id_a < id_b`,
    * restricted per bucket:
    *
    *   - buckets with ≤ `cap` members: exact all-pairs (unchanged output on
    *     a normal corpus);
    *   - oversized buckets: star-pairing — only the bucket's MIN id pairs
    *     with the rest. Linear in bucket size instead of quadratic, and
    *     sufficient for survivor reduction: every member still meets a
    *     smaller id, and two genuine dup-cluster members that straddle a
    *     polluted bucket still meet through the bucket of some other
    *     band/fragment where their cluster is alone. Downstream score
    *     verification (sig agreement / Hamming / cosine) discards any
    *     false positives the star introduces.
    *
    * The two regimes are split BEFORE the join so the hot bucket's
    * quadratic match set is never generated inside the join operator.
    * The window-sized intermediate is persisted in the caller's scope. */
  private def cappedCandidatePairs(blocked: DataFrame, key: String,
                                   cap: Long): DataFrame = {
    val w = Window.partitionBy(col(key))
    val sized = Materialize.persist(blocked.select(col("id"), col(key))
      .withColumn("__bsz", count(lit(1)).over(w))
      .withColumn("__bmin", min(col("id")).over(w)))
    // each side packed into one struct column so the small/star unions have
    // a clean 2-column schema; `col("a.id")` etc. resolve as struct fields
    val a = sized.select(struct(col("*")).as("a"))
    val b = sized.select(struct(col("*")).as("b"))
    val cond = col(s"a.$key") === col(s"b.$key") && col("a.id") < col("b.id")
    val smallPairs = a.where(col("a.__bsz") <= cap)
      .join(b.where(col("b.__bsz") <= cap), cond)
    val bigPairs = a.where(col("a.__bsz") > cap && col("a.id") === col("a.__bmin"))
      .join(b.where(col("b.__bsz") > cap), cond)
    val pairs = smallPairs.unionByName(bigPairs)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    pairs
  }

  /** MinHash+LSH near-dup candidates: shingle → 64-bit hash set → k-perm
    * MinHash signature → banded LSH keys → equi-join on (band, key) →
    * estimated Jaccard from signature agreement. Only bucket-mates are ever
    * paired; with b bands of r rows the match probability is the standard
    * `1-(1-s^r)^b` S-curve. Returns pairs with `est_jaccard >= threshold`.
    * `maxBucketSize` caps per-band-bucket join fan-out (skew guard) — see
    * `cappedCandidatePairs`. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 128, bands: Int = 16,
                      threshold: Double = 0.7, shingleN: Int = 3,
                      maxBucketSize: Long = 4096L): DataFrame = Materialize.scope {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands) — a " +
      "truncated signature tail would silently weaken the LSH S-curve")
    val rows = numHashes / bands
    // persist() is load-bearing: without it CollapseProject inlines the full
    // 128-perm signature expression into the band-key lambda (evaluated per
    // band) and again into both join sides — measured 500× slower. One
    // materialization, reused by the explode and both sides of the join.
    val sigs = Materialize.persist(df.select(
        col(idCol).as("id"),
        TF.minhashSignature(TF.shingleHashes(col(textCol), shingleN), numHashes).as("sig")))
    // blocking runs over (id, band) ONLY — signatures re-join onto the small
    // candidate set below, so the 128-long arrays never transit the sizing
    // window shuffle or its persist (the round-2 dedup_minhash regression)
    val banded = sigs.select(col("id"),
      explode(TF.lshBandKeys(col("sig"), bands, rows)).as("band"))
    val cand = cappedCandidatePairs(banded, "band", maxBucketSize)
    val out = cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("agree", {
        import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
        column(graft.functions.SigAgree(expression(col("sig_a")),
                                        expression(col("sig_b"))))
      })
      .withColumn("est_jaccard", col("agree").cast("double") / numHashes)
      .where(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
    Materialize.result(out)
  }

  /** IDF-weighted Jaccard near-dup pairs: shingles weighted by the
    * integer inverse document frequency `w(h) = N DIV df(h)`, so shared
    * BOILERPLATE shingles (site chrome, licence lines — high df, weight
    * ≈ 1..k) barely move the score while shared RARE content dominates —
    * the fix for unweighted Jaccard's failure mode where two different
    * articles on the same template look like near-dups. The integer
    * weight (vs the conventional log-idf) keeps every sum a BIGINT —
    * order-free, bit-reproducible cross-engine; log-idf would be a
    * float sum whose value depends on reduction order.
    *
    * Score: `Σ_{h∈A∩B} w(h) / (W_A + W_B − Σ_shared)` — weighted
    * Jaccard over sets. Same inverted-index shape as
    * [[ngramJaccardPairs]]: slim `(id, h, w)` postings equi-join, one
    * aggregate per candidate pair, bodies never shuffle; the df
    * reduction adds one map-side-combinable aggregate over the posting
    * table and N rides a broadcast.
    *
    * `maxDocFreq` prunes postings whose document frequency exceeds the
    * cap BEFORE the self-join — the same IR posting-list pruning as
    * [[ngramJaccardPairs]], and load-bearing at scale: a single
    * boilerplate shingle with df = d produces O(d²) candidate rows in
    * the equi-join even though its weight `N DIV d` is ~1, so without
    * the cap the operator's own motivating case (site chrome shared by
    * millions of pages) is a quadratic shuffle blow-up. The prune is
    * applied consistently to BOTH the shared sum and the per-doc totals,
    * so the score is exact weighted Jaccard over the pruned vocabulary;
    * since a pruned shingle's weight is by construction ≤ N/maxDocFreq,
    * the score shift vs the unpruned space is bounded and tiny for any
    * reasonable cap. */
  def weightedJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                           shingleN: Int = 3, threshold: Double = 0.5,
                           maxDocFreq: Long = 1000L): DataFrame = Materialize.scope {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val nd = df.agg(count(lit(1)).as("n_docs"))
    // posting table consumed by df-reduction AND both join sides
    val sets = Materialize.persist(df.select(col(idCol).as("id"),
        TF.shingleHashes(col(textCol), shingleN).as("hs")))
    val posting = sets.select(col("id"), explode(col("hs")).as("h"))
    val dfreq = posting.groupBy("h").agg(count(lit(1)).as("dfh"))
    val wpost = posting.join(dfreq, "h")
      .where(col("dfh") <= maxDocFreq)
      .crossJoin(broadcast(nd))
      .select(col("id"), col("h"), expr("n_docs DIV dfh").as("w"))
    val docw = wpost.groupBy("id").agg(sum(col("w")).as("wt"))
    val out = wpost.as("a").join(wpost.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(sum(col("a.w")).as("shared_w"))
      .join(docw.select(col("id").as("id_a"), col("wt").as("wa")), "id_a")
      .join(docw.select(col("id").as("id_b"), col("wt").as("wb")), "id_b")
      .withColumn("wjaccard", col("shared_w").cast("double") /
        (col("wa") + col("wb") - col("shared_w")).cast("double"))
      .where(col("wjaccard") >= threshold)
      .select("id_a", "id_b", "shared_w", "wjaccard")
    Materialize.result(out)
  }

  /** Weighted MinHash near-dup pairs — the SKETCH counterpart of
    * [[weightedJaccardPairs]], for the corpus scale where even the
    * df-capped exact posting join is too big. Uses the integer-weight
    * multiset-expansion construction: a shingle with IDF weight
    * `w = min(N DIV df, capWeight)` contributes `w` salted copies
    * `h XOR salt_j` to the document's hash multiset, and plain MinHash
    * over the expanded multiset is then an unbiased estimator of the
    * weighted Jaccard `Σ_shared w / (W_A + W_B − Σ_shared w)` — the
    * SAME score [[weightedJaccardPairs]] computes exactly, because both
    * documents see the same global weight for a shared shingle, so
    * their expanded copies coincide element-for-element. (Integer
    * weights make the classic expansion exact; no Ioffe-style
    * continuous-weight machinery — or its float/log hazards — needed.)
    *
    * Scale shape: identical to [[minhashLshPairs]] after the expansion —
    * slim `(id, band)` blocking, skew-capped buckets, signatures
    * re-joined onto candidates only. The expansion multiplies posting
    * rows by ≤ `capWeight`; per-doc signature input is bounded by
    * n_shingles · capWeight values, collected unordered (the min-fold
    * signature is order-invariant, so collect_list's nondeterministic
    * order cannot reach the output). */
  def weightedMinhashPairs(df: DataFrame, idCol: String, textCol: String,
                           numHashes: Int = 128, bands: Int = 16,
                           threshold: Double = 0.4, shingleN: Int = 3,
                           capWeight: Int = 8, maxBucketSize: Long = 4096L): DataFrame =
    weightedMinhashPairsFrom(
      weightedPostings(df, idCol, textCol, shingleN, capWeight),
      numHashes, bands, threshold, capWeight, maxBucketSize)

  /** Capped-IDF weighted postings `(id, h, w)` with
    * `w = min(n_docs DIV df(h), capWeight)` — the ONE shingle pass + ONE
    * document-frequency aggregate the weighted family shares: the sketch
    * expansion and the exact verification both start here, so the
    * verified operator scans the corpus once, not once per stage. */
  private def weightedPostings(df: DataFrame, idCol: String, textCol: String,
                               shingleN: Int, capWeight: Int): DataFrame = {
    require(capWeight >= 1 && capWeight <= 64,
      s"capWeight must be in [1, 64], got $capWeight")
    val nd = df.agg(count(lit(1)).as("n_docs"))
    val posting = df.select(col(idCol).as("id"),
        explode(TF.shingleHashes(col(textCol), shingleN)).as("h"))
    val dfreq = posting.groupBy("h").agg(count(lit(1)).as("dfh"))
    posting.join(dfreq, "h")
      .crossJoin(broadcast(nd))
      .select(col("id"), col("h"),
        least(expr("n_docs DIV dfh"), lit(capWeight.toLong)).as("w"))
  }

  /** [[weightedMinhashPairs]] from a prebuilt `(id, h, w)` weighted
    * posting table (shared with the verify stage; never unpersisted
    * here — the caller owns `wpost`). */
  private def weightedMinhashPairsFrom(wpost: DataFrame, numHashes: Int,
                                       bands: Int, threshold: Double,
                                       capWeight: Int, maxBucketSize: Long): DataFrame = Materialize.scope {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    require(capWeight >= 1 && capWeight <= 64,
      s"capWeight must be in [1, 64], got $capWeight")
    val rows = numHashes / bands
    val salts = WeightSalts.take(capWeight)
    val expanded = wpost
      .select(col("id"),
        explode(transform(sequence(lit(0), (col("w") - 1L).cast("int")),
          j => col("h").bitwiseXOR(element_at(lit(salts), j + 1)))).as("v"))
    // persist() load-bearing for the same CollapseProject reason as
    // minhashLshPairs: one signature materialization feeds the band
    // explode and both join sides
    val sigs = Materialize.persist(expanded.groupBy("id")
      .agg(collect_list(col("v")).as("vs"))
      .select(col("id"), TF.minhashSignature(col("vs"), numHashes).as("sig")))
    val banded = sigs.select(col("id"),
      explode(TF.lshBandKeys(col("sig"), bands, rows)).as("band"))
    val cand = cappedCandidatePairs(banded, "band", maxBucketSize)
    val out = cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("agree", {
        import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
        column(graft.functions.SigAgree(expression(col("sig_a")),
                                        expression(col("sig_b"))))
      })
      .withColumn("est_wjaccard", col("agree").cast("double") / numHashes)
      .where(col("est_wjaccard") >= threshold)
      .select("id_a", "id_b", "est_wjaccard")
    Materialize.result(out)
  }

  /** Weighted MinHash candidates VERIFIED by the exact capped-weight
    * Jaccard — the production cut of the weighted family: LSH banding
    * proposes (cheap, recall-tuned via `candidateThreshold`), then the
    * exact score over the candidates' postings decides (`threshold`),
    * discarding both estimator noise and the skew-cap star-pairing
    * artifacts. The verify join touches ONLY candidate pairs (broadcast
    * of the small pair set onto the slim weighted posting table), so its
    * cost is O(candidates · doc shingles), never corpus-quadratic.
    * Weights use the SAME `min(N DIV df, capWeight)` space the sketch
    * estimates, keeping the two stages coherent. */
  def weightedMinhashVerifiedPairs(df: DataFrame, idCol: String,
                                   textCol: String, numHashes: Int = 128,
                                   bands: Int = 16,
                                   candidateThreshold: Double = 0.3,
                                   threshold: Double = 0.4,
                                   shingleN: Int = 3, capWeight: Int = 8,
                                   maxBucketSize: Long = 4096L): DataFrame = Materialize.scope {
    // ONE weighted posting table serves both stages — the sketch's
    // multiset expansion and the exact verification used to each run
    // their own shingle pass + document-frequency aggregate over the
    // corpus (two full scans; guide §1.2 step 1: don't compute twice)
    // consumed by the expansion, the totals AND both verify probes
    val wpost = Materialize.persist(weightedPostings(df, idCol, textCol, shingleN, capWeight))
    val cand = weightedMinhashPairsFrom(wpost, numHashes, bands,
        candidateThreshold, capWeight, maxBucketSize)
      .select("id_a", "id_b")
    val docw = wpost.groupBy("id").agg(sum(col("w")).as("wt"))
    val out = broadcast(cand)
      .join(wpost.select(col("id").as("id_a"), col("h"), col("w")), "id_a")
      .join(wpost.select(col("id").as("id_b"), col("h").as("hb")), "id_b")
      .where(col("h") === col("hb"))
      .groupBy("id_a", "id_b")
      .agg(sum(col("w")).as("shared_w"))
      .join(docw.select(col("id").as("id_a"), col("wt").as("wa")), "id_a")
      .join(docw.select(col("id").as("id_b"), col("wt").as("wb")), "id_b")
      .withColumn("wjaccard", col("shared_w").cast("double") /
        (col("wa") + col("wb") - col("shared_w")).cast("double"))
      .where(col("wjaccard") >= threshold)
      .select("id_a", "id_b", "shared_w", "wjaccard")
    Materialize.result(out)
  }

  /** Per-copy XOR salts for the weighted-minhash multiset expansion:
    * j · (odd golden-ratio constant) with JVM wraparound, precomputed so
    * neither engine multiplies at runtime (ANSI Spark would throw on the
    * overflow; the DuckDB replica embeds the same literals). Salt 0 is 0
    * — copy 0 is the unsalted hash, so capWeight = 1 degrades to plain
    * MinHash exactly. */
  private[graft] val WeightSalts: Array[Long] =
    Array.tabulate(64)(j => j.toLong * -7046029254386353131L)

  /** 1-bit (b-bit) MinHash scoring — Li & König's storage-compressed
    * estimator: each of the 128 permutation minima keeps only its parity
    * bit, packing the whole signature into TWO 64-bit words (64× smaller
    * than the long-vector signature a scoring state must otherwise hold).
    * A bit matches with probability (1+J)/2, so Ĵ = 2·agree/k − 1; the
    * scoring cost is two XOR+popcounts per candidate pair.
    *
    * Candidates still come from the full-signature LSH banding (banding
    * needs the un-compressed band keys); what the compression buys at
    * scale is the VERIFY side — the packed words are what ships to the
    * pair-scoring shuffle, not the 128-long arrays. Output
    * `(id_a, id_b, est_jaccard_b1)` with the estimator thresholded at
    * `threshold`. */
  def minhashBBitPairs(df: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 128, bands: Int = 16,
                       threshold: Double = 0.4, shingleN: Int = 3,
                       maxBucketSize: Long = 4096L): DataFrame = Materialize.scope {
    require(numHashes == 128, "the 2-word packing is specified for k = 128")
    val sigs = Materialize.persist(df.select(
        col(idCol).as("id"),
        TF.minhashSignature(TF.shingleHashes(col(textCol), shingleN), numHashes).as("sig")))
    // pack parity bits: word 0 = perms 0..63, word 1 = perms 64..127
    def word(off: Int): Column = expr(
      s"""aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, i) ->
            acc | shiftleft(element_at(sig, i + ${off + 1}) % 2, CAST(i AS INT)))""")
    val packed = sigs.select(col("id"), word(0).as("w0"), word(64).as("w1"))
    val banded = sigs.select(col("id"),
      explode(TF.lshBandKeys(col("sig"), bands, numHashes / bands)).as("band"))
    val cand = cappedCandidatePairs(banded, "band", maxBucketSize)
    val out = cand
      .join(packed.select(col("id").as("id_a"), col("w0").as("a0"), col("w1").as("a1")), "id_a")
      .join(packed.select(col("id").as("id_b"), col("w0").as("b0"), col("w1").as("b1")), "id_b")
      .withColumn("agree", lit(numHashes) -
        bit_count(col("a0").bitwiseXOR(col("b0"))).cast("long") -
        bit_count(col("a1").bitwiseXOR(col("b1"))).cast("long"))
      .withColumn("est_jaccard_b1",
        (col("agree") * 2L - numHashes).cast("double") / numHashes)
      .where(col("est_jaccard_b1") >= threshold)
      .select("id_a", "id_b", "est_jaccard_b1")
    Materialize.result(out)
  }

  /** MinHash-LSH candidate generation followed by EXACT n-gram Jaccard
    * verification on the candidates only — the production shape for
    * "approximate blocking, exact output". The output is SQL-expressible
    * (it equals the exact all-pairs Jaccard result whenever LSH recall is
    * complete), unlike the estimate-scored `minhashLshPairs`. Default
    * 64 bands × 2 rows puts candidate recall at `1-(1-s²)^64` ≈ 1-1e-8 for
    * s ≥ 0.5 — the exact verify then discards the extra candidates the
    * aggressive banding lets through. */
  def minhashVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
                           numHashes: Int = 128, bands: Int = 64,
                           threshold: Double = 0.5, shingleN: Int = 3,
                           maxBucketSize: Long = 4096L): DataFrame = Materialize.scope {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    // barrier + reused by signature build and both verify joins
    val sets = Materialize.persist(df.select(col(idCol).as("id"),
                         TF.shingleHashes(col(textCol), shingleN).as("hs"))
      .withColumn("n", size(col("hs"))))
    val sigs = Materialize.persist(sets.select(col("id"),
        TF.minhashSignature(col("hs"), numHashes).as("sig")))
    val banded = sigs.select(col("id"),
      explode(TF.lshBandKeys(col("sig"), bands, numHashes / bands)).as("band"))
    val cand = cappedCandidatePairs(banded, "band", maxBucketSize)
    val out = verifyExactJaccard(cand, sets, threshold)
    Materialize.result(out)
  }

  /** The verification tail every "approximate candidates, exact output"
    * dedup shares: join candidate pairs back onto the shingle sets
    * (`(id, hs, n)`), prune with the classic SIZE FILTER (J ≥ t forces
    * `min(na,nb) ≥ t·max(na,nb)` — a row-local predicate, so it cuts
    * before the `array_intersect` touches the arrays), then keep exact
    * n-gram Jaccard ≥ `threshold`. The ε on the size filter keeps the
    * rounding direction safe: float noise only ever ADMITS a borderline
    * pair, and the exact jaccard predicate then decides it. */
  private def verifyExactJaccard(cand: DataFrame, sets: DataFrame,
                                 threshold: Double): DataFrame =
    cand
      // REDUNDANT defense in depth, not the fix: one full-sweep run
      // (2026-08-15, 4-thread Verify) emitted the verified output with the
      // PRE-dedup band-collision multiset (each true pair ~63x under 64
      // bands, identical jaccard per copy, 1.3s runtime = concurrent
      // queries' plan-equal sigs/sets caches reused) — the cross-query
      // CacheManager share + mid-flight-unpersist race. The CLASS is now
      // fixed at the source: every operator-internal persist is salted
      // per-invocation ([[graft.util.Materialize.persist]]), so plan-equal sharing
      // can no longer happen. This boundary re-dedup on the tiny candidate
      // set (one micro-shuffle) stays as a belt-and-braces invariant.
      .dropDuplicates("id_a", "id_b")
      .join(sets.select(col("id").as("id_a"), col("hs").as("hs_a"),
                        col("n").as("na")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("hs").as("hs_b"),
                        col("n").as("nb")), "id_b")
      .where(least(col("na"), col("nb")).cast("double") >=
             greatest(col("na"), col("nb")) * lit(threshold) - lit(1e-9))
      .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b")))
        .cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** SimHash near-dup: 64-bit simhash over token hashes; Hamming distance ≤
    * `maxHamming` found by the pigeonhole blocking trick — split the 64 bits
    * into `maxHamming+1` fragments; any pair within distance k must agree
    * exactly on ≥1 fragment, so candidates come from an equi-join on
    * (fragment_idx, fragment_bits), never a cross join. Oversized fragment
    * blocks (near-identical boilerplate) are skew-capped the same way as
    * the minhash band buckets. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucketSize: Long = 4096L): DataFrame = {
    // pigeonhole blocking needs >= 2 fragments (maxHamming = 0 would give
    // bitsPer = 64, where (1L << 64) == 1 in JVM shift semantics and the
    // mask silently becomes 0 — every doc in ONE bucket, recall collapses);
    // beyond 31 the fragments get too narrow to block on at all
    require(maxHamming >= 1 && maxHamming <= 31,
      s"maxHamming must be in [1, 31], got $maxHamming")
    val hashed = df.select(col(idCol).as("id"),
      TF.simhash64(transform(TF.tokens(col(textCol)), t => xxhash64(t))).as("sh"))
    hammingPairs64(hashed, maxHamming, maxBucketSize)
  }

  /** Pigeonhole hamming join over ANY 64-bit fingerprint column — the
    * blocking kernel [[simhashPairs]] uses, exposed for other fingerprint
    * families (perceptual image hashes, audio chromaprints): split the 64
    * bits into `maxHamming + 1` fragments; two fingerprints within
    * `maxHamming` must agree on at least one fragment (pigeonhole), so
    * fragment-equality buckets are a recall-lossless candidate space.
    * Input: `(id, sh)` rows. Output: `(id_a, id_b, hamming)` pairs with
    * `hamming <= maxHamming`. Scale shape: candidates are bucket-bounded
    * (skew-capped at `maxBucketSize`), never all-pairs. */
  def hammingPairs64(hashes: DataFrame, maxHamming: Int,
                     maxBucketSize: Long = 4096L,
                     keepAllCandidates: Boolean = false): DataFrame =
    hammingPairs64Impl(hashes, grpCol = None, maxHamming, maxBucketSize,
      keepAllCandidates)

  /** [[hammingPairs64]] with a GROUP key: fingerprints only pair within
    * the same group (modality family, tenant, shard...) because the group
    * rides inside the blocking key — ONE blocked equi-join + ONE shuffle
    * for the whole corpus, instead of one join per group over filtered
    * slices (the composed multimodal ingest runs image/audio/video
    * near-dup as a single pass this way). Input: `(id, sh, grp)` rows;
    * ids must be unique across groups. Output:
    * `(grp, id_a, id_b, hamming)`. */
  def hammingPairs64Keyed(hashes: DataFrame, maxHamming: Int,
                          maxBucketSize: Long = 4096L,
                          keepAllCandidates: Boolean = false): DataFrame =
    hammingPairs64Impl(hashes, grpCol = Some("grp"), maxHamming,
      maxBucketSize, keepAllCandidates)

  private def hammingPairs64Impl(hashes: DataFrame, grpCol: Option[String],
                                 maxHamming: Int, maxBucketSize: Long,
                                 keepAllCandidates: Boolean): DataFrame = Materialize.scope {
    require(maxHamming >= 1 && maxHamming <= 31,
      s"maxHamming must be in [1, 31], got $maxHamming")
    val nBlocks = maxHamming + 1
    val bitsPer = 64 / nBlocks
    // reused by both join sides — see minhashLshPairs note
    val hashed = Materialize.persist(hashes
      .select(col("id") +: col("sh") +: grpCol.map(col).toSeq: _*))
    val blocked = hashed.select(col("id"), explode(
      transform(sequence(lit(0), lit(nBlocks - 1)), i => {
        val bits = call_function("shiftrightunsigned", col("sh"), i * bitsPer)
          .bitwiseAND(lit((1L << bitsPer) - 1)).as("bits")
        // the group is part of the bucket identity: cross-group rows can
        // never meet in the equi-join, and the skew cap sizes per-group
        grpCol match {
          case Some(g) => struct(col(g).as("g"), i.as("i"), bits)
          case None    => struct(i.as("i"), bits)
        }
      })).as("blk"))
    val cand = cappedCandidatePairs(blocked, "blk", maxBucketSize)
    val aSide = hashed.select(
      col("id").as("id_a") +: col("sh").as("sh_a") +: grpCol.map(col).toSeq: _*)
    val out = cand
      .join(aSide, "id_a")
      .join(hashed.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(grpCol.map(col).toSeq ++ Seq(col("id_a"), col("id_b"),
              TF.hammingDist64(col("sh_a"), col("sh_b")).as("hamming")): _*)
    // keepAllCandidates = the blocking-recall diagnostic: every banded
    // candidate with its exact hamming, unthresholded
    val cut = if (keepAllCandidates) out else out.where(col("hamming") <= maxHamming)
    Materialize.result(cut)
  }

  // ==== persisted fragment-bucketed hamming index (fingerprint ingest) ====

  /** The packed pigeonhole fragment key of a 64-bit fingerprint: for
    * fragment `i`, `bk = i * 2^bitsPer + bits(i)` — one Long that carries
    * both the fragment index and its bit content, so a bucketed layout on
    * ONE column is the full blocking identity. */
  private def fragmentKeys(sh: Column, maxHamming: Int): Column = {
    val nBlocks = maxHamming + 1
    val bitsPer = 64 / nBlocks
    transform(sequence(lit(0), lit(nBlocks - 1)), i =>
      i.cast("long") * (1L << bitsPer) +
      call_function("shiftrightunsigned", sh, i * bitsPer)
        .bitwiseAND(lit((1L << bitsPer) - 1)))
  }

  /** Fragment postings of a fingerprint corpus — `(id, sh, bk)`, one row
    * per pigeonhole fragment ([[hammingPairs64]]'s blocking scheme as a
    * TABLE): persist with `Relational.bucketMaterialize(_, table, "bk",
    * buckets, path)` and every later ingest batch probes it with zero
    * index-side exchange. The modality twin of [[buildPostingIndex]]
    * (shingles → 64-bit fragments). */
  def buildHammingPostings(hashes: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 31,
      s"maxHamming must be in [1, 31], got $maxHamming")
    hashes.select(col("id"), col("sh"),
      explode(fragmentKeys(col("sh"), maxHamming)).as("bk"))
  }

  /** Empty fragment-index table with the bucket layout the ingest loop
    * appends into. */
  def initHammingIndex(like: DataFrame, table: String, path: String,
                       buckets: Int = 8, maxHamming: Int = 3): DataFrame =
    Relational.bucketMaterialize(
      buildHammingPostings(like.where(lit(false))
        .select(col("id"), col("sh")), maxHamming),
      table, "bk", buckets, path)

  /** Append a batch's accepted fingerprints to the bucketed fragment
    * index (bucket spec must match [[initHammingIndex]]). */
  def appendHammingIndex(hashes: DataFrame, table: String,
                         buckets: Int = 8, maxHamming: Int = 3): Unit =
    buildHammingPostings(hashes, maxHamming)
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "bk").sortBy("bk")
      .saveAsTable(table)

  /** Incremental fingerprint near-dup against a PERSISTED fragment index —
    * the modality twin of [[incrementalSurvivorsIndexed]]: per incoming
    * fingerprint, how many ACCEPTED corpus fingerprints and how many
    * smaller-id batch fingerprints sit within `maxHamming`, and whether
    * the row survives (both zero; greedy keep-first within the batch,
    * the [[incrementalSurvivors]] convention). Input `(id, sh)`; ids
    * unique across corpus and batch. Output
    * `(id, sh, n_dup_corpus, n_dup_batch, survives)` — a per-row ingest
    * DECISION record, not just the survivor cut.
    *
    * Scale shape: the corpus side is the bucketed table, scanned in
    * bucket order with NO exchange (PlanSpec-pinned); only the batch's
    * `(id, sh, bk)` postings shuffle — O(batch) per ingest step, never
    * O(corpus). Pathological fragments (all-black images, digital
    * silence) make hot buckets exactly like stopword shingles; this exact
    * operator carries them (the decision record must be exact) —
    * production bounds them UPSTREAM by dropping degenerate payloads at
    * decode (the quality-filter stage), not by pruning the index. */
  def hammingSurvivorsIndexed(incoming: DataFrame, index: DataFrame,
                              maxHamming: Int = 3): DataFrame = Materialize.scope {
    Materialize.result(hammingSurvivorsIndexedLazy(incoming, index, maxHamming))
  }

  /** [[hammingSurvivorsIndexed]] WITHOUT the eager cut: returns the lazy
    * decision plan; its persisted intermediates belong to the caller's
    * scope, which frees them once ITS materialization barrier has run.
    * Used by the streaming ingest steps, whose epoch parquet write IS the
    * barrier — cutting first would run one extra job per epoch just to
    * hand the write already-materialized rows (round-16 verdict: the top
    * remaining ingest cost). The persists MUST outlive the first
    * consumption (the CollapseProject blowup they exist to prevent). */
  private[graft] def hammingSurvivorsIndexedLazy(
      incoming: DataFrame, index: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 31,
      s"maxHamming must be in [1, 31], got $maxHamming")
    val inc = Materialize.persist(incoming.select(col("id"), col("sh")))
    val incPost = buildHammingPostings(inc, maxHamming)
    val cross = incPost.as("a").join(index.as("b"), col("a.bk") === col("b.bk"))
      .where(TF.hammingDist64(col("a.sh"), col("b.sh")) <= maxHamming)
      .select(col("a.id").as("id"), col("b.id").as("cid")).distinct()
      .groupBy("id").agg(count(lit(1)).as("n_dup_corpus"))
    val intra = incPost.as("a").join(incPost.as("b"),
        col("a.bk") === col("b.bk") && col("b.id") < col("a.id"))
      .where(TF.hammingDist64(col("a.sh"), col("b.sh")) <= maxHamming)
      .select(col("a.id").as("id"), col("b.id").as("bid")).distinct()
      .groupBy("id").agg(count(lit(1)).as("n_dup_batch"))
    val out = inc
      .join(cross, Seq("id"), "left")
      .join(intra, Seq("id"), "left")
      .select(col("id"), col("sh"),
        coalesce(col("n_dup_corpus"), lit(0L)).as("n_dup_corpus"),
        coalesce(col("n_dup_batch"), lit(0L)).as("n_dup_batch"),
        (coalesce(col("n_dup_corpus"), lit(0L)) === 0L &&
         coalesce(col("n_dup_batch"), lit(0L)) === 0L).as("survives"))
    out
  }

  /** [[buildHammingPostings]] with a GROUP key carried beside the packed
    * fragment key — the composed-ingest index layout: one bucketed table
    * serves every modality family, the bucket stays `bk`, and group
    * equality rides as a cheap residual join predicate (families collide
    * on `bk` only by chance, so the residual filters a sliver). */
  def buildHammingPostingsKeyed(hashes: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 31,
      s"maxHamming must be in [1, 31], got $maxHamming")
    hashes.select(col("id"), col("sh"), col("grp"),
      explode(fragmentKeys(col("sh"), maxHamming)).as("bk"))
  }

  // ==== epoch-stamped index layout (exactly-once streaming ingest) ====
  //
  // The streaming ingest sinks (graft.streaming.EpochIngest) are foreachBatch
  // writers — at-least-once by contract: a crash between the epoch's side
  // effects and the checkpoint commit REPLAYS the whole batch. The epoch
  // column turns that into effective exactly-once:
  //   1. every index append is stamped with the writing batchId;
  //   2. the probe filters the index to `epoch < batchId`, so a replayed
  //      batch never sees its own crashed attempt's postings and computes
  //      the IDENTICAL survivor decision the first attempt did (prior
  //      epochs are committed-by-construction — the query only advances
  //      past an epoch once its writes finished);
  //   3. the survivor output goes to `outPath/epoch=<batchId>` with
  //      overwrite — a replay rewrites the same rows in place, zero
  //      duplicates (partition-discovery readers see one `epoch` column,
  //      which gate/consumer projections simply drop);
  //   4. the index append itself is replay-GUARDED by a per-epoch COMMIT
  //      MARKER ([[EpochMarkers]], the GenIndex._COMMITTED pattern per
  //      epoch): the marker is created only after the append job returns,
  //      so a marked epoch is complete (skip — postings are never
  //      duplicated, which the Jaccard probe's intersection COUNTS
  //      require). An ATTEMPT marker is written before each append
  //      starts; attempted-but-uncommitted rows are a crashed mid-commit
  //      append — deleted and re-appended ([[repairPartialEpoch]]) before
  //      the epoch finally commits, while a brand-new epoch (no attempt)
  //      pays only filesystem stats, never a scan. The one state the
  //      attempt gate cannot see — rows with NEITHER marker, i.e. a
  //      pre-marker-era index — is settled once per writer lifetime by
  //      the first-batch repair probe in GenIndex.validateFirstBatch.
  //      Row existence alone would trust the multi-file parquet append
  //      to commit atomically, which it does not: a JVM loss
  //      mid-job-commit leaves a partial posting set that a
  //      row-existence guard would accept forever.
  // Batch-loop tables (hammingIngest / dedupIngest) keep the slimmer
  // unstamped layout — their loops are driver-sequential, no replay.

  /** Empty epoch-stamped index table: `postings`' schema (only the schema
    * is used) plus `epoch`, bucketed on `key` — the one init every index
    * kind of the streaming ingest loop shares. `gen = false` is the
    * single-path layout at `path`; it also clears any stale epoch/run
    * markers there — init means a FRESH index, and a leftover marker would
    * make the replay guard skip the new run's appends. `gen = true` is the
    * crash-safe GENERATIONAL layout ([[GenIndex.init]]: `path/gen-0` +
    * committed marker), which periodic compaction requires. */
  def initEpochIndex(postings: DataFrame, table: String, path: String,
                     key: String, buckets: Int, gen: Boolean = false): Unit = {
    val empty = postings.where(lit(false)).withColumn("epoch", lit(-1L))
    if (gen) GenIndex.init(empty, table, path, key, buckets)
    else {
      Relational.bucketMaterialize(empty, table, key, buckets, path)
      EpochMarkers.reset(postings.sparkSession, path)
    }
  }

  /** True iff `epoch`'s append COMMITTED — the replay guard, now a
    * per-epoch marker stat ([[EpochMarkers.epochMarked]]): one filesystem
    * exists() call, no scan, and — unlike the row-existence guard this
    * replaces — immune to a crash inside the append job's own multi-file
    * commit (a marked epoch is complete by construction; unmarked rows
    * are a partial append that [[repairPartialEpoch]] removes). The old
    * row-stat-skip cost argument is moot: a marker stat is O(1)
    * regardless of how compaction has folded epochs across files. */
  def epochAppended(spark: org.apache.spark.sql.SparkSession,
                    table: String, epoch: Long): Boolean =
    EpochMarkers.epochMarked(spark, table, epoch)

  /** Remove a crashed mid-commit append's PARTIAL epoch from the index:
    * every data file holding rows stamped `epoch` is deleted. Sound
    * because a file can only hold this epoch's rows exclusively — each
    * append job stamps exactly one epoch, and compaction (which folds
    * epochs across files) only ever runs after the epoch's marker exists
    * (ingest steps append-then-compact, and replays repair BEFORE the
    * batch's own compaction hook) — verified loudly before any delete.
    * Only runs on the replay-of-unmarked-rows path, never per batch. */
  def repairPartialEpoch(spark: org.apache.spark.sql.SparkSession,
                         table: String, epoch: Long): Unit = {
    val files = spark.table(table).where(col("epoch") === epoch)
      .select(col("_metadata.file_path")).distinct()
      .collect().map(_.getString(0))
    if (files.nonEmpty) {
      require(spark.read.parquet(files.toIndexedSeq: _*)
          .where(col("epoch") =!= epoch).isEmpty,
        s"index '$table': files holding uncommitted epoch $epoch also hold " +
        "other epochs — the epoch-per-append-file invariant is broken; " +
        "refusing to repair by deletion. If this index predates the " +
        "marker era and was compacted after this epoch's append, the " +
        "epoch necessarily completed — mark it committed with " +
        "EpochMarkers.backfill(spark, table, includeNewest = true) and " +
        "resume; otherwise the index was rewritten outside the ingest " +
        "loop and must be rebuilt.")
      val conf = spark.sessionState.newHadoopConf()
      files.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(conf).delete(p, false)
      }
      spark.catalog.refreshTable(table)
    }
  }

  /** Replay-guarded append of `postings` stamped `epoch` to an index from
    * [[initEpochIndex]]: committed epoch → skip; attempted-but-uncommitted
    * → repair the possible partial; then write-ahead the attempt, append,
    * and commit the marker (the single atomic durable step). The attempt
    * marker is what keeps the repair probe — a Spark job over the index —
    * OFF the per-batch hot path: a brand-new epoch has no attempt marker
    * and pays two filesystem stats plus one create, never a scan; only a
    * true replay over a crashed attempt scans. */
  def appendEpochIndex(postings: DataFrame, table: String, key: String,
                       buckets: Int, epoch: Long): Unit = {
    val spark = postings.sparkSession
    if (!epochAppended(spark, table, epoch)) {
      if (EpochMarkers.epochAttempted(spark, table, epoch))
        repairPartialEpoch(spark, table, epoch)
      EpochMarkers.markAttempt(spark, table, epoch)
      postings.withColumn("epoch", LongParam.column(epoch))
        .write.mode("append").format("parquet")
        .bucketBy(buckets, key).sortBy(key)
        .saveAsTable(table)
      EpochMarkers.markEpoch(spark, table, epoch)
      // bound the marker-file count on STREAMS that never compact
      // (compactEvery = 0, or a flat layout that cannot). Streaming-only
      // (round-16 ADVICE): a streaming writer can never legally revisit an
      // epoch below the max (requireEpochAhead rejects batchId < maxEpoch),
      // so pruning below the max is safe there — whereas a DIRECT caller
      // replaying a driver-sequential loop from epoch 0 relies on every
      // epoch's marker for replay-skip, which pruning would revoke.
      // Streaming batchIds are checkpoint-contiguous, so the residue
      // cadence cannot be skipped by sparse epoch numbering (the other
      // round-16 ADVICE hazard); one extra listing every 16 appends keeps
      // the directory O(16). compactSwap additionally prunes per swap.
      if (epoch % 16L == 15L &&
          EpochMarkers.currentQueryId(spark).isDefined)
        EpochMarkers.pruneToMax(spark, table)
    }
  }

  /** Rewrite the bucketed hamming fragment index into one compact file
    * set per bucket — the modality twin of [[compactPostingIndex]], and
    * the small-files maintenance [[appendHammingIndex]] needs: every
    * micro-batch append lays down a fresh file set per bucket, so a
    * long-running ingest stream accumulates O(batches) files that the
    * probe's bucket-ordered scan must all open. The rewrite is O(index)
    * (schema-preserving `select *`, lineage-cut so overwriting the
    * table's own path is safe), so production runs it every N batches
    * (`compactEvery` on the ingest entry points), not per batch. Probe
    * results are byte-identical before and after (spec-pinned). */
  def compactHammingIndex(spark: org.apache.spark.sql.SparkSession,
                          table: String, path: String,
                          buckets: Int = 8): Unit =
    // same rewrite as the posting index, key `bk` — the derived-key
    // rationale lives on compactPostingIndexFiles
    compactPostingIndexFiles(spark, table, path, buckets, key = "bk")

  /** [[hammingSurvivorsIndexed]] with a GROUP key: incoming fingerprints
    * only dedup against corpus/batch fingerprints of the SAME group
    * (modality family) — the per-batch probe step of the composed live
    * ingest. Input `(id, sh, grp)`; index from
    * [[buildHammingPostingsKeyed]] bucketed on `bk`. Output adds `grp`. */
  def hammingSurvivorsIndexedKeyed(incoming: DataFrame, index: DataFrame,
                                   maxHamming: Int = 3): DataFrame = Materialize.scope {
    Materialize.result(hammingSurvivorsIndexedKeyedLazy(incoming, index, maxHamming))
  }

  /** Lazy twin of [[hammingSurvivorsIndexedKeyed]] — see
    * [[hammingSurvivorsIndexedLazy]] for the contract. */
  private[graft] def hammingSurvivorsIndexedKeyedLazy(
      incoming: DataFrame, index: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 31,
      s"maxHamming must be in [1, 31], got $maxHamming")
    val inc = Materialize.persist(incoming.select(col("id"), col("sh"), col("grp")))
    val incPost = buildHammingPostingsKeyed(inc, maxHamming)
    val cross = incPost.as("a").join(index.as("b"),
        col("a.bk") === col("b.bk") && col("a.grp") === col("b.grp"))
      .where(TF.hammingDist64(col("a.sh"), col("b.sh")) <= maxHamming)
      .select(col("a.id").as("id"), col("b.id").as("cid")).distinct()
      .groupBy("id").agg(count(lit(1)).as("n_dup_corpus"))
    val intra = incPost.as("a").join(incPost.as("b"),
        col("a.bk") === col("b.bk") && col("a.grp") === col("b.grp") &&
        col("b.id") < col("a.id"))
      .where(TF.hammingDist64(col("a.sh"), col("b.sh")) <= maxHamming)
      .select(col("a.id").as("id"), col("b.id").as("bid")).distinct()
      .groupBy("id").agg(count(lit(1)).as("n_dup_batch"))
    val out = inc
      .join(cross, Seq("id"), "left")
      .join(intra, Seq("id"), "left")
      .select(col("id"), col("sh"), col("grp"),
        coalesce(col("n_dup_corpus"), lit(0L)).as("n_dup_corpus"),
        coalesce(col("n_dup_batch"), lit(0L)).as("n_dup_batch"),
        (coalesce(col("n_dup_corpus"), lit(0L)) === 0L &&
         coalesce(col("n_dup_batch"), lit(0L)) === 0L).as("survives"))
    out
  }

  /** Fingerprint ingest loop — the modality twin of [[dedupIngest]]:
    * ordered batches of `(id, sh)` fingerprints, each probed against the
    * fingerprints ACCEPTED so far via the bucketed fragment index, each
    * batch's survivors extending the index before the next batch probes
    * it. Returns the accepted rows. */
  def hammingIngest(batches: Seq[DataFrame], table: String, path: String,
                    buckets: Int = 8, maxHamming: Int = 3): DataFrame = {
    require(batches.nonEmpty, "need at least one batch")
    val spark = batches.head.sparkSession
    requireMaterializing(spark, "hammingIngest")
    initHammingIndex(batches.head, table, path, buckets, maxHamming)
    batches.map { b =>
      // the decision record is localCheckpoint'd by hammingSurvivorsIndexed,
      // so the index append and the accumulated result read materialized
      // blocks, not a recompute racing the append
      val surv = hammingSurvivorsIndexed(b, spark.table(table), maxHamming)
        .where(col("survives")).select(col("id"), col("sh"))
      appendHammingIndex(surv, table, buckets, maxHamming)
      surv
    }.reduce(_ unionByName _)
  }

  /** Exact n-gram Jaccard pairs via inverted-index join: explode distinct
    * shingle hashes, equi-join on shingle, count shared shingles per pair,
    * Jaccard = |∩| / (|A|+|B|−|∩|). Exact (not estimated) — the candidate
    * space is bounded by shared-shingle pairs, which is the inverted-index
    * bound, not n². Hot shingles can be skew — at scale cap them
    * (`maxDocFreq`) exactly like IR posting-list pruning. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, threshold: Double = 0.5,
                        maxDocFreq: Long = 1000L): DataFrame = Materialize.scope {
    val sets = Materialize.persist(df.select(col(idCol).as("id"),
                         TF.shingleHashes(col(textCol), shingleN).as("hs"))
      .withColumn("n", size(col("hs")))) // shingle sets reused by both join sides
    val posting = sets.select(col("id"), col("n"), explode(col("hs")).as("h"))
    // prune pathological shingles (stopword-only n-grams at corpus scale);
    // skipped entirely when unbounded so the exact/oracle config pays no
    // extra shuffle for the doc-frequency window
    val rare =
      if (maxDocFreq == Long.MaxValue) posting
      else posting.withColumn("df", count(lit(1)).over(
          Window.partitionBy(col("h"))))
        .where(col("df") <= maxDocFreq).drop("df")
    val out = rare.as("a").join(rare.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"),
           first(col("a.n")).as("na"), first(col("b.n")).as("nb"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    Materialize.result(out)
  }

  /** LSH S-curve calibration: recall of the banded MinHash candidate set
    * per exact-Jaccard decile — the report that shows WHERE the sketch's
    * recall cliff sits (theory for r rows × b bands:
    * P[caught] = 1-(1-j^r)^b), so threshold/band tuning is informed by
    * measurement instead of guessed. The exact side runs down to
    * `exactFloor` to expose the below-threshold deciles the aggregate
    * precision/recall rollup never sees. `decile = least(floor(j·10), 9)`
    * is two IEEE exact-rounded ops on exact-integer inputs — identical in
    * both engines.
    *
    * Diagnostic operator: the exact side is the same inverted-index join
    * as [[ngramJaccardPairs]] with an UNCAPPED doc frequency (it is the
    * truth being measured against) — that arm is quadratic in hot-shingle
    * document frequency, so at 100 TB it MUST run on a corpus sample:
    * set `sampleFraction` < 1 (seeded, deterministic for a fixed input
    * partitioning) so both arms run over the same sampled docs. Recall per
    * decile is a ratio, so its expectation is unchanged by uniform
    * sampling; only the per-decile counts shrink. The gate runs
    * `sampleFraction = 1.0` (exact, oracle-matched). */
  def lshRecallCurve(df: DataFrame, idCol: String, textCol: String,
                     numHashes: Int = 128, bands: Int = 16,
                     lshThreshold: Double = 0.4, exactFloor: Double = 0.1,
                     shingleN: Int = 3, sampleFraction: Double = 1.0,
                     sampleSeed: Long = 42L): DataFrame = {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    val base =
      if (sampleFraction >= 1.0) df
      else df.sample(withReplacement = false, sampleFraction, sampleSeed)
    val lsh = minhashLshPairs(base, idCol, textCol, numHashes = numHashes,
        bands = bands, threshold = lshThreshold)
      .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
    val exact = ngramJaccardPairs(base, idCol, textCol, shingleN = shingleN,
        threshold = exactFloor, maxDocFreq = Long.MaxValue)
    exact.join(lsh, Seq("id_a", "id_b"), "left")
      .groupBy(least(floor(col("jaccard") * 10).cast("long"), lit(9L))
        .as("decile"))
      .agg(count(lit(1)).as("n_exact"),
           sum(coalesce(col("hit"), lit(0L))).as("n_caught"))
      .select(col("decile"), col("n_exact"), col("n_caught"),
        when(col("n_exact") === 0, lit(null).cast("double"))
          .otherwise(col("n_caught").cast("double") /
                     col("n_exact").cast("double")).as("recall"))
  }

  /** Asymmetric containment pairs — near-SUBSET duplication, the case
    * symmetric Jaccard is blind to: a short document quoted wholesale
    * inside a much longer one has containment |A∩B|/|A| ≈ 1 while
    * Jaccard |A∩B|/|A∪B| ≈ |A|/|B| → 0. (Syndicated articles inside
    * aggregator pages, README/licence bodies inside larger files, quoted
    * posts inside threads.) Emits one row per qualifying pair oriented by
    * the rule a dedup pass acts on: `contained_id` is the smaller shingle
    * set (ties: the larger id — keep-first convention), `container_id` the
    * other, `containment = inter / |contained| ≥ threshold`.
    *
    * Scale: identical shape to [[ngramJaccardPairs]] — inverted-index
    * equi-join over slim `(id, n, h)` postings with the same `maxDocFreq`
    * stopword-shingle pruning, one count aggregate per candidate pair;
    * bodies never shuffle. The only change is the scoring formula, which
    * touches aggregated pair rows only. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, threshold: Double = 0.8,
                       maxDocFreq: Long = 1000L): DataFrame = Materialize.scope {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val sets = Materialize.persist(df.select(col(idCol).as("id"),
                         TF.shingleHashes(col(textCol), shingleN).as("hs"))
      .withColumn("n", size(col("hs"))))
    val posting = sets.select(col("id"), col("n"), explode(col("hs")).as("h"))
    val rare =
      if (maxDocFreq == Long.MaxValue) posting
      else posting.withColumn("df", count(lit(1)).over(
          Window.partitionBy(col("h"))))
        .where(col("df") <= maxDocFreq).drop("df")
    val out = rare.as("a").join(rare.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"),
           first(col("a.n")).as("na"), first(col("b.n")).as("nb"))
      .withColumn("containment",
        col("inter").cast("double") / least(col("na"), col("nb")))
      .where(col("containment") >= threshold)
      .select(
        when(col("na") < col("nb"), col("id_a")).otherwise(col("id_b"))
          .as("contained_id"),
        when(col("na") < col("nb"), col("id_b")).otherwise(col("id_a"))
          .as("container_id"),
        col("containment"))
    Materialize.result(out)
  }

  /** Edit-distance (Levenshtein) near-dup pairs over SHORT normalized
    * texts — the dedup tool for titles, queries, and boilerplate lines
    * where token-set measures are too coarse (a one-word swap is invisible
    * to 3-gram Jaccard at scale but is exactly distance ≈ word length
    * here). Docs longer than `maxLen` normalized chars are excluded: O(n·k)
    * banded DP per candidate pair is a short-string budget by design.
    *
    * Scale shape: dist ≤ k implies |len(a) − len(b)| ≤ k, so blocking on
    * length bands of width `bandWidth > k` is LOSSLESS — every qualifying
    * pair lands in the same or adjacent band. Each doc emits two block
    * keys (band, band+1); the pair is counted exactly ONCE by keeping
    * only the match at `blk = max(band_a, band_b)` (no distinct — a
    * distinct here would shuffle candidate TEXT pairs). Two pre-filters
    * run before any DP, both lossless lower bounds on edit distance:
    * |Δlen| ≤ k, and the character-histogram bound L1(hist_a, hist_b)/2
    * ≤ dist (an insert/delete moves one count, a substitution two — so
    * L1 > 2k proves dist > k). The histogram is 19 SCALAR int columns
    * (alphabet chars folded into 19 groups, each counted with one
    * codegen'd `translate` scan per doc behind a persist barrier) — an
    * array column with a zip_with/aggregate lambda would put an
    * INTERPRETED CodegenFallback HOF on the per-pair hot path, which
    * measured slower than the DP it was guarding; 19 scalar abs-diffs
    * stay inside whole-stage codegen. Only histogram survivors pay the
    * DP, and that DP is Spark's thresholded `levenshtein(a, b, k)`
    * (banded, early-exit −1) — never the full O(n²) matrix. This is
    * what holds the operator together under length-skew: a corpus
    * whose docs pile into one band generates quadratic candidates
    * (measured 770k at sf0.1), and the ~19-op codegen'd reject (→ 43k
    * survivors) is what keeps them from reaching the ~16k-op DP. */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        maxDist: Int = 16, maxLen: Int = 512,
                        bandWidth: Int = 32): DataFrame = Materialize.scope {
    require(maxDist >= 1 && maxDist < bandWidth,
      s"need 1 <= maxDist < bandWidth, got maxDist=$maxDist bandWidth=$bandWidth")
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 "
    val nGroups = 19
    val groups = (0 until nGroups).map(g =>
      alphabet.zipWithIndex.collect { case (c, i) if i % nGroups == g => c }.mkString)
    val histCols = groups.zipWithIndex.map { case (chars, g) =>
      (length(col("t")) - length(expr(s"translate(t, '$chars', '')")))
        .as(s"h$g")
    }
    val s = df.select(col(idCol).as("id"), TF.normText(col(textCol)).as("t"))
      .withColumn("l", length(col("t")))
      .withColumn("band", (col("l") / bandWidth).cast("int"))
    // the length cut rides the block explode (a null array emits no rows):
    // a filter on `l` would be pushed below the projection with `t`
    // inlined and normalize every document twice
    val blocks = Materialize.persist(s.select(
        (Seq(col("id"), col("t"), col("l"), col("band"),
             explode(when(col("l") <= maxLen,
               array(col("band"), col("band") + 1))).as("blk")) ++
         histCols): _*)) // barrier: group counts computed once per doc, not per pair
    val l1 = (0 until nGroups).map(g =>
      abs(col(s"a.h$g") - col(s"b.h$g"))).reduce(_ + _)
    // Everything rides the JOIN CONDITION in explicit cheap-first order —
    // the equi-key, then the row-local int rejects, the ~19-op histogram
    // bound, and ONLY THEN the ~16k-op DP. A separate .where() is NOT
    // equivalent: PushPredicateThroughJoin merges it into the join
    // condition in its own order, and the measured effect was the DP
    // running before the histogram reject on every raw candidate
    // (8.1 s vs 0.6 s for the DP on bound-survivors at sf0.1). The
    // conjunction as written short-circuits left-to-right in codegen.
    // The DP re-evaluates once more in the projection — on final
    // survivors only, which is noise.
    val out = blocks.as("a").join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id") &&
        col("a.blk") === greatest(col("a.band"), col("b.band")) &&
        abs(col("a.l") - col("b.l")) <= maxDist &&
        l1 <= 2 * maxDist &&
        levenshtein(col("a.t"), col("b.t"), maxDist) >= 0)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
              levenshtein(col("a.t"), col("b.t"), maxDist).as("dist"))
    Materialize.result(out)
  }

  /** Sorted-neighborhood (SNM, Hernandez & Stolfo 1995) near-dup pairs:
    * documents are globally ordered by a cheap sort key (the first
    * `keyLen` chars of the normalized text, id tie-break) and only rows
    * whose global ranks differ by at most `window` become candidates,
    * which exact Jaccard then verifies. The classic blocking alternative
    * to hashing families: near-dups that share a PREFIX (title
    * boilerplate, versioned copies, OCR rescans) sort adjacent, so the
    * candidate count is O(n·window) regardless of how hot any one prefix
    * is — there is no bucket to skew, which is SNM's advantage over
    * key-equality blocking on template-heavy corpora (and its recall
    * limit: near-dups whose difference is at the FRONT of the text sort
    * apart; production runs multi-pass SNM with rotated keys).
    *
    * Scale shape: the global rank uses the same two-pass trick as the
    * packing family — range-repartition by (key, id), per-partition
    * counts (one tiny row each) become cumulative bases, rank = base +
    * within-partition row_number; no single-task global window. The
    * neighborhood join buckets ranks into `window`-sized blocks: a row
    * joins its own block and the next (rb − ra ≤ window ⇒ blocks differ
    * by ≤ 1), so every candidate is generated exactly once by an
    * equi-join whose per-key fan-out is ≤ 2·window. Shuffles carry
    * `(id, rank, shingle-hash array)` — bounded per row, never bodies. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, textCol: String,
                              window: Int = 8, keyLen: Int = 24,
                              shingleN: Int = 3, threshold: Double = 0.3,
                              keyStart: Int = 1): DataFrame =
    sortedNeighborhoodPairsFromBase(
      snmBase(df, idCol, textCol, shingleN),
      window, keyLen, threshold, keyStart)

  /** The per-document state every SNM pass shares: id, NORMALIZED text
    * (each pass's sort key is a substring of it) and the shingle-hash set
    * with its size (the verify arithmetic). Multi-pass SNM persists this
    * once so only the first pass pays the normalization + shingling scan
    * (guide §1.2 step 1 — the per-pass sort keys differ, but the expensive
    * per-row work does not). */
  private def snmBase(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int): DataFrame =
    df.select(col(idCol).as("id"),
        TF.normText(col(textCol)).as("norm"),
        TF.shingleHashes(col(textCol), shingleN).as("hs"))
      .withColumn("n", size(col("hs")))

  private def requireSnmArgs(window: Int, keyLen: Int, threshold: Double,
                             keyStart: Int): Unit = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(keyLen >= 1, s"keyLen must be >= 1, got $keyLen")
    require(keyStart >= 1, s"keyStart must be >= 1, got $keyStart")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
  }

  /** One SNM pass over a prebuilt [[snmBase]] frame — byte-identical
    * output to the public entry point (the key is the same substring of
    * the same normalized text). */
  private def sortedNeighborhoodPairsFromBase(base: DataFrame, window: Int,
                                              keyLen: Int, threshold: Double,
                                              keyStart: Int): DataFrame = Materialize.scope {
    requireSnmArgs(window, keyLen, threshold, keyStart)
    // two passes: partition counts, then the ranked join
    val keyed = Materialize.persist(base.select(col("id"),
        substring(col("norm"), keyStart, keyLen).as("k"),
        col("hs"), col("n"))
      .repartitionByRange(col("k"), col("id"))
      .sortWithinPartitions(col("k"), col("id"))
      .withColumn("__pid", spark_partition_id()))
    // pass 1: per-partition row counts -> cumulative rank bases (one tiny
    // row per partition, driver-bounded)
    val counts = keyed.groupBy("__pid").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val baseOf = counts.map(_._1).zip(
      counts.scanLeft(0L)((acc, pc) => acc + pc._2).dropRight(1)).toMap
    val baseCol =
      if (baseOf.isEmpty) lit(0L)
      else coalesce(
        element_at(
          map(baseOf.toSeq.flatMap { case (p, b) => Seq(lit(p), lit(b)) }: _*),
          col("__pid")),
        lit(0L))
    // pass 2: global 0-based rank = partition base + local row_number
    val wRank = Window.partitionBy("__pid").orderBy(col("k"), col("id"))
    val ranked = keyed
      .withColumn("rank", baseCol + row_number().over(wRank).cast("long") - 1L)
      .withColumn("bkt", expr(s"rank DIV $window"))
    val left = ranked
      .select(col("id").as("id_a"), col("rank").as("ra"),
              col("hs").as("hs_a"), col("n").as("na"),
              explode(array(col("bkt"), col("bkt") + 1L)).as("bkt"))
    val right = ranked
      .select(col("id").as("id_b"), col("rank").as("rb"),
              col("hs").as("hs_b"), col("n").as("nb"), col("bkt"))
    val out = left.join(right, "bkt")
      .where(col("rb") > col("ra") && col("rb") - col("ra") <= window)
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
              greatest(col("id_a"), col("id_b")).as("id_b"), col("jaccard"))
    Materialize.result(out)
  }

  /** Multi-pass SNM: union of [[sortedNeighborhoodPairs]] over `passes`
    * sort keys taken at different character offsets of the normalized
    * text (pass p keys on chars `[1 + p·stride, …]`). Single-pass SNM's
    * documented recall limit is pairs whose difference sits at the FRONT
    * of the text (they sort apart); a later-offset key starts INSIDE the
    * shared region, so those pairs sort adjacent in a later pass — the
    * standard production configuration of the algorithm. Each pass is
    * independently linear (O(n·window) candidates), so the union is too;
    * the pair sets are deduplicated on (id_a, id_b). */
  def sortedNeighborhoodMultiPass(df: DataFrame, idCol: String,
                                  textCol: String, passes: Int = 2,
                                  stride: Int = 16, window: Int = 8,
                                  keyLen: Int = 24, shingleN: Int = 3,
                                  threshold: Double = 0.3): DataFrame = Materialize.scope {
    require(passes >= 1 && passes <= 8, s"passes must be in [1, 8], got $passes")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    // validate before the shared base is persisted, so a bad argument
    // cannot leave it cached
    requireSnmArgs(window, keyLen, threshold, keyStart = 1)
    // ONE normalization + shingling scan feeds every pass (the passes
    // differ only in the sort-key offset — guide §1.2 step 1); each pass
    // still pays its own range-sort, which IS the algorithm
    val base = Materialize.persist(snmBase(df, idCol, textCol, shingleN))
    val all = (0 until passes).map { p =>
      sortedNeighborhoodPairsFromBase(base, window, keyLen, threshold,
        keyStart = 1 + p * stride)
    }
    // same pair found by two passes carries the same exact jaccard, so
    // the distinct is a pure pair-set dedup
    Materialize.result(all.reduce(_ unionByName _).distinct())
  }

  /** The minimum shingle overlap a partner can have with a size-`n` set
    * under Jaccard ≥ t: J = I/(nа+nb−I) ≥ t ⟹ I ≥ t·max(na,nb), so any
    * qualifying partner shares ≥ ⌈t·n⌉ shingles with this doc. The 1e-9
    * guard protects the UNSAFE rounding direction only: float noise pushing
    * t·n just *above* an integer would overstate α and shorten the prefix
    * (lost pairs = lost exactness); noise pushing it below merely lengthens
    * the prefix (extra candidates, identical output after verification). */
  private def jaccardMinOverlap(n: Column, threshold: Double): Column =
    ceil(n * lit(threshold) - lit(1e-9)).cast("int")

  /** Each doc's shingles in GLOBAL rare-first order, truncated to the
    * AllPairs prefix `|x| − α(x) + 1` where `α(x) = ⌈t·|x|⌉`: if the
    * rarest `|x| − α + 1` shingles of a doc share nothing with a partner's
    * full set, the overlap is at most the suffix size `α − 1 < α`, so the
    * pair cannot reach Jaccard ≥ t. Exposed package-private so specs can
    * measure the index-size reduction directly. */
  private[graft] def ngramPrefixPostings(sets: DataFrame,
                                         threshold: Double): DataFrame = {
    val posting = sets.select(col("id"), explode(col("hs")).as("h"))
    // document frequency per shingle — ONE map-side-combinable aggregation
    // defines the global order; hash value breaks df ties deterministically
    val dfreq = posting.groupBy(col("h")).agg(count(lit(1)).as("df"))
    posting.join(dfreq, "h")
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("df"), col("h")))).as("ord"))
      .withColumn("n", size(col("ord")))
      .select(col("id"), explode(slice(
        transform(col("ord"), s => s.getField("h")),
        lit(1),
        col("n") - jaccardMinOverlap(col("n"), threshold) + lit(1))).as("h"))
  }

  /** Exact n-gram Jaccard pairs with an AllPairs-style PREFIX FILTER
    * (Bayardo/Ma/Srikant, WWW'07): identical output to
    * [[ngramJaccardPairs]] with unbounded `maxDocFreq`, from a much
    * smaller join. Shingles get a global rare-first total order (by corpus
    * doc-frequency); the inverted index is built over each doc's PREFIX
    * only — its `|x| − ⌈t·|x|⌉ + 1` rarest shingles — and probed with full
    * sets. One-sided soundness proof (no reliance on the subtler two-sided
    * prefix lemma): a qualifying pair (A,B) has overlap ≥ ⌈t·|A|⌉, A's
    * suffix holds only ⌈t·|A|⌉ − 1 shingles, so some shared shingle sits in
    * A's prefix and the prefix⋈full join emits the pair.
    *
    * The 100 TB arithmetic: the full inverted-index join materializes
    * Σ_h df(h)² match rows and aggregates them; here the join side that
    * explodes into candidates is (a) ~(1−t)× smaller overall and (b) made
    * of each doc's RAREST shingles, so hot boilerplate shingles — the skew
    * killers with df in the millions — fall out of the index entirely
    * unless a doc has nothing rarer, without the recall caveat that
    * `maxDocFreq` pruning carries. Candidates then pass the classic size
    * filter (`min(na,nb) ≥ t·max(na,nb)`) before the exact
    * `array_intersect` verification, which touches only surviving pairs.
    *
    * Measured crossover (be honest about it): on the benign gate fixture
    * (near-uniform shingle df, no boilerplate) the plain join wins —
    * 1.9 s vs 2.5 s at sf0.1 — because the prefix pays two extra
    * aggregation shuffles (df count, per-doc rare-first sort) that its
    * candidate reduction doesn't earn back. The prefix pays off exactly
    * when df is heavy-tailed (web boilerplate, licence headers), where
    * Σ df(h)² in the plain join grows quadratically in the hot shingles'
    * frequency while the prefix index sheds those shingles entirely. */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                              shingleN: Int = 3, threshold: Double = 0.5): DataFrame = Materialize.scope {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold — the prefix length " +
      "|x| - ceil(t*|x|) + 1 is only a valid filter there")
    // reused by the prefix build, the probe side and verification
    val sets = Materialize.persist(df.select(col(idCol).as("id"),
                         TF.shingleHashes(col(textCol), shingleN).as("hs"))
      .withColumn("n", size(col("hs"))))
    val pref = ngramPrefixPostings(sets, threshold)
    val full = sets.select(col("id"), explode(col("hs")).as("h"))
    // the guaranteed shared shingle is in ONE side's prefix, so the join is
    // prefix × full with the pair normalized afterwards (not prefix × prefix,
    // which would need the two-sided lemma and frequency-aligned truncation)
    val cand = pref.as("p").join(full.as("f"),
        col("p.h") === col("f.h") && col("p.id") =!= col("f.id"))
      .select(least(col("p.id"), col("f.id")).as("id_a"),
              greatest(col("p.id"), col("f.id")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val out = verifyExactJaccard(cand, sets, threshold)
    Materialize.result(out)
  }

  /** Cross-source near-duplicate OVERLAP MATRIX: given a candidate pair
    * list from any pair finder, count pairs (and distinct docs involved)
    * per unordered source pair — the curation question "how much does
    * source A duplicate source B" that decides which source to drop
    * content from. The pair list is tiny relative to the corpus, so the
    * only corpus-sized work is the slim `(id, source)` projection joined
    * onto it (body columns never shuffle). */
  def sourceOverlapMatrix(df: DataFrame, pairs: DataFrame,
                          idCol: String, srcCol: String): DataFrame = {
    val src = df.select(col(idCol).as("__sid"), col(srcCol).as("__src"))
    pairs
      .join(src, col("id_a") === col("__sid"))
      .withColumnRenamed("__src", "src_a").drop("__sid")
      .join(src, col("id_b") === col("__sid"))
      .withColumnRenamed("__src", "src_b").drop("__sid")
      // one row per pair ENDPOINT: n_pairs = rows/2 (exact — the count is
      // always even), n_docs = distinct endpoints. Keeps the aggregation
      // state constant-size; a collect_list of ids would hold one
      // 2·n_pairs array per source pair in a single buffer, which is an
      // executor OOM when two snapshots share tens of millions of pairs.
      .select(least(col("src_a"), col("src_b")).as("source_a"),
              greatest(col("src_a"), col("src_b")).as("source_b"),
              explode(array(col("id_a"), col("id_b"))).as("__d"))
      .groupBy(col("source_a"), col("source_b"))
      .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
           count_distinct(col("__d")).as("n_docs"))
  }

  /** Winnow-fingerprint near-dup candidates (what MOSS actually reports):
    * document pairs sharing ≥ `minShared` DISTINCT winnow fingerprints,
    * with the shared count, each side's fingerprint-set size, and
    * `overlap = shared / min(na, nb)` (containment — robust when a short
    * doc is embedded in a long one; an exact-rounded IEEE division of
    * BIGINTs, so engine-exact). The winnowing guarantee turns this into a
    * recall contract: any shared passage of ≥ window+n-1 tokens contributes
    * at least one shared fingerprint — at ~2/(window+1) of the index size
    * `ngramJaccardPairs` pays for exact Jaccard. That storage factor is the
    * 100 TB point: the posting table this joins is winnowed BEFORE the
    * shuffle, by a narrow codegen'd expression.
    *
    * Same scale shape as the n-gram variant: slim `(id, hash)` postings,
    * `maxDocFreq` pruning of pathological fingerprints, equi-join on the
    * hash. */
  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int = 4, window: Int = 8,
                         minShared: Long = 2L,
                         maxDocFreq: Long = 1000L): DataFrame = Materialize.scope {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    // the distinct fingerprint SET per doc (a repeated passage can
    // re-select the same hash at several positions; overlap counting is
    // set semantics, MOSS) — built BEFORE exploding so the set size is
    // `size(hs)` at zero shuffle cost, the ngramJaccardPairs shape (a
    // window over the exploded postings would re-shuffle the whole table)
    val fpArr = column(graft.functions.WinnowFingerprints(
      expression(TF.normText(col(textCol))), shingleN, window))
    val sets = Materialize.persist(df.select(col(idCol).as("id"),
        array_distinct(transform(fpArr, fp => fp.getField("hash"))).as("hs"))
      .withColumn("nf", size(col("hs")).cast("long"))) // feeds both join sides
    val posting = sets.select(col("id"), col("nf"), explode(col("hs")).as("h"))
    val rare =
      if (maxDocFreq == Long.MaxValue) posting
      else posting.withColumn("df", count(lit(1)).over(
          Window.partitionBy(col("h"))))
        .where(col("df") <= maxDocFreq).drop("df")
    val out = rare.as("a").join(rare.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"),
           first(col("a.nf")).as("na"), first(col("b.nf")).as("nb"))
      .where(col("shared") >= minShared)
      .withColumn("overlap",
        col("shared").cast("double") / least(col("na"), col("nb")).cast("double"))
      .select("id_a", "id_b", "shared", "na", "nb", "overlap")
    Materialize.result(out)
  }

  /** Embedding near-dup: pairs with cosine ≥ threshold. Candidate generation
    * via random-hyperplane LSH buckets (see `Similarity.hyperplaneBuckets`)
    * keeps it off the n² path, with the same oversized-bucket star-pairing
    * guard as the other LSH variants; `bruteForce = true` skips blocking
    * (exact, for small corpora / oracle verification). */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
                           threshold: Double = 0.95,
                           bruteForce: Boolean = false,
                           lshBits: Int = 8, dim: Int = 64,
                           maxBucketSize: Long = 4096L): DataFrame = Materialize.scope {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    if (bruteForce) {
      v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
                VF.cosineSim(col("a.vec"), col("b.vec")).as("cosine"))
        .where(col("cosine") >= threshold)
    } else {
      val bucketed = Materialize.persist(v.withColumn("bucket",
        Similarity.hyperplaneBucket(col("vec"), lshBits, dim)))
      val cand = cappedCandidatePairs(
        bucketed.select(col("id"), col("bucket")), "bucket", maxBucketSize)
      val out = cand
        .join(bucketed.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
        .join(bucketed.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
        .select(col("id_a"), col("id_b"),
                VF.cosineSim(col("vec_a"), col("vec_b")).as("cosine"))
        .where(col("cosine") >= threshold)
      Materialize.result(out)
    }
  }

  /** Incremental EMBEDDING dedup — [[incrementalSurvivors]] in the
    * embedding modality, the batch-ingestion shape ("does tonight's crawl
    * add anything the accepted corpus doesn't already cover
    * semantically"): drop every incoming vector whose cosine to any
    * ACCEPTED vector, or to a smaller-id vector of its own batch (greedy
    * keep-first), meets `threshold`. Blocking is the same hyperplane-LSH
    * bucket as [[embeddingCosinePairs]] — both sides bucket with the same
    * fixed hyperplanes, so at scale the accepted side's `(id, bucket,
    * vec)` projection is a build-once artifact (persist it bucketed on
    * `bucket` exactly like the posting index of
    * [[incrementalSurvivorsIndexed]]) and the per-batch cost is
    * O(incoming) bucketing + an equi-join that touches only bucket-mates.
    * Only the drop-id set is collected per batch; survivors are a
    * `left_anti` on the incoming frame, so the accepted corpus never
    * re-shuffles. Recall is the LSH contract: cross-bucket near-dups are
    * missed (raise `lshBits`' complement — fewer bits, bigger buckets —
    * to trade cost for recall). */
  def incrementalEmbedSurvivors(incoming: DataFrame, existing: DataFrame,
                                idCol: String, vecCol: String,
                                threshold: Double = 0.95,
                                lshBits: Int = 8, dim: Int = 64): DataFrame = Materialize.scope {
    def bucketed(d: DataFrame, isInc: Boolean) =
      d.select(col(idCol).as("id"), col(vecCol).as("vec"),
               lit(isInc).as("is_inc"))
        .withColumn("bucket",
          Similarity.hyperplaneBucket(col("vec"), lshBits, dim))
    val all = Materialize.persist(bucketed(incoming, isInc = true)
      .unionByName(bucketed(existing, isInc = false))) // reused by both sides of the bucket join
    val dropped = all.where(col("is_inc")).as("a")
      .join(all.as("b"),
        col("a.bucket") === col("b.bucket") &&
        (!col("b.is_inc") || col("b.id") < col("a.id")))
      .where(VF.cosineSim(col("a.vec"), col("b.vec")) >= threshold)
      .select(col("a.id").as(idCol)).distinct()
    val out = incoming.join(dropped, Seq(idCol), "left_anti")
    Materialize.result(out)
  }

  // ==== persisted embedding LSH index (embedding ingest loop) ====
  //
  // The build-once artifact [[incrementalEmbedSurvivors]]'s scaladoc
  // promises, completing the persisted-index ingest triad: text (Jaccard
  // posting index on `h`), modality fingerprints (hamming fragment index
  // on `bk`), and now embeddings (hyperplane-LSH index on `bucket`).
  // Corpus and batch bucket with the SAME fixed hyperplanes, the accepted
  // side persists bucketed on `bucket`, and the per-batch probe is an
  // equi-join that reads the index in place — zero index-side exchange
  // (PlanSpec-pinned), per-batch shuffle O(batch). Same epoch-stamped /
  // generational layout options as the other two indexes.

  /** Slim LSH rows `(id, vec, bucket)` for the persisted embedding index.
    * Input `(id, vec)`; one bucket per vector (the hyperplane sign
    * signature), so unlike the hamming FRAGMENT index a candidate pair
    * meets on at most one posting row and needs no dedup. */
  def buildEmbedPostings(vecs: DataFrame, lshBits: Int = 8,
                         dim: Int = 64): DataFrame =
    vecs.select(col("id"), col("vec"),
      Similarity.hyperplaneBucket(col("vec"), lshBits, dim).as("bucket"))

  /** Empty bucketed embedding-index table (batch-loop layout). */
  def initEmbedIndex(like: DataFrame, table: String, path: String,
                     buckets: Int = 8, lshBits: Int = 8,
                     dim: Int = 64): DataFrame =
    Relational.bucketMaterialize(
      buildEmbedPostings(like.where(lit(false)).select(col("id"), col("vec")),
        lshBits, dim),
      table, "bucket", buckets, path)

  /** Append a batch's accepted `(id, vec)` vectors to the bucketed index. */
  def appendEmbedIndex(vecs: DataFrame, table: String, buckets: Int = 8,
                       lshBits: Int = 8, dim: Int = 64): Unit =
    buildEmbedPostings(vecs, lshBits, dim)
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "bucket").sortBy("bucket")
      .saveAsTable(table)

  /** Incremental embedding dedup against the PERSISTED LSH index — the
    * embedding twin of [[hammingSurvivorsIndexed]]: per incoming vector,
    * how many ACCEPTED corpus vectors and how many smaller-id batch
    * vectors share its bucket with cosine ≥ `threshold`, and whether the
    * row survives (both zero; greedy keep-first within the batch). Input
    * `(id, vec)`; ids unique across corpus and batch. Output
    * `(id, vec, n_dup_corpus, n_dup_batch, survives)`.
    *
    * Recall is the LSH contract ([[incrementalEmbedSurvivors]]): a
    * cross-bucket near-dup is missed; fewer `lshBits` trades cost for
    * recall. No `distinct` before the counts — one bucket per vector
    * means a candidate pair can only meet once.
    *
    * Hot-bucket cost shape (spec-pinned on an adversarial >= 50%
    * single-bucket corpus): a semantic-dedup stream is near-identical
    * embeddings by construction, so one hyperplane bucket capturing a
    * large fraction of the corpus is the EXPECTED regime, not an edge
    * case. The candidate join then degrades to |hot-batch| × |hot-corpus|
    * cosine evaluations — this exact operator carries it (the decision
    * record must be exact), the same contract as the hamming probe's
    * degenerate fragments: production bounds the hot bucket UPSTREAM
    * (more `lshBits` as the corpus grows — constant expected bucket
    * size, the scale record's bits ∝ log2(corpus) rule — plus quality
    * filters dropping degenerate all-same embeddings at encode), never
    * by pruning the index. */
  def embedSurvivorsIndexed(incoming: DataFrame, index: DataFrame,
                            threshold: Double = 0.95, lshBits: Int = 8,
                            dim: Int = 64): DataFrame = Materialize.scope {
    Materialize.result(embedSurvivorsIndexedLazy(incoming, index, threshold, lshBits, dim))
  }

  /** Lazy twin of [[embedSurvivorsIndexed]] — see
    * [[hammingSurvivorsIndexedLazy]] for the contract. */
  private[graft] def embedSurvivorsIndexedLazy(
      incoming: DataFrame, index: DataFrame,
      threshold: Double = 0.95, lshBits: Int = 8,
      dim: Int = 64): DataFrame = {
    val inc = Materialize.persist(incoming.select(col("id"), col("vec")))
    val incPost = buildEmbedPostings(inc, lshBits, dim)
    val cross = incPost.as("a").join(index.as("b"),
        col("a.bucket") === col("b.bucket"))
      .where(VF.cosineSim(col("a.vec"), col("b.vec")) >= threshold)
      .select(col("a.id").as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_dup_corpus"))
    val intra = incPost.as("a").join(incPost.as("b"),
        col("a.bucket") === col("b.bucket") && col("b.id") < col("a.id"))
      .where(VF.cosineSim(col("a.vec"), col("b.vec")) >= threshold)
      .select(col("a.id").as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_dup_batch"))
    val out = inc
      .join(cross, Seq("id"), "left")
      .join(intra, Seq("id"), "left")
      .select(col("id"), col("vec"),
        coalesce(col("n_dup_corpus"), lit(0L)).as("n_dup_corpus"),
        coalesce(col("n_dup_batch"), lit(0L)).as("n_dup_batch"),
        (coalesce(col("n_dup_corpus"), lit(0L)) === 0L &&
         coalesce(col("n_dup_batch"), lit(0L)) === 0L).as("survives"))
    out
  }

  /** Embedding ingest loop — the semantic twin of [[hammingIngest]]:
    * ordered batches of `(id, vec)` vectors, each probed against the
    * vectors ACCEPTED so far via the bucketed LSH index, each batch's
    * survivors extending the index before the next batch probes it.
    * Returns the accepted rows. */
  def embedIngest(batches: Seq[DataFrame], table: String, path: String,
                  buckets: Int = 8, threshold: Double = 0.95,
                  lshBits: Int = 8, dim: Int = 64): DataFrame = {
    require(batches.nonEmpty, "need at least one batch")
    val spark = batches.head.sparkSession
    requireMaterializing(spark, "embedIngest")
    initEmbedIndex(batches.head, table, path, buckets, lshBits, dim)
    batches.map { b =>
      val surv = embedSurvivorsIndexed(b, spark.table(table),
          threshold, lshBits, dim)
        .where(col("survives")).select(col("id"), col("vec"))
      appendEmbedIndex(surv, table, buckets, lshBits, dim)
      surv
    }.reduce(_ unionByName _)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster embeddings by nearest k-means centroid, then drop every doc
    * whose cosine to a SMALLER-id doc in the same cluster meets
    * `threshold`. Returns the surviving `(idCol, cluster)` rows.
    *
    * Scale shape: the cluster id is the blocking key, so candidate
    * generation is the standard skew-capped equi-join over a slim
    * `(id, cluster)` projection — vectors re-join onto the candidate set
    * only (never fan out through the blocking join), and a degenerate
    * centroid that attracts a huge cluster degrades to linear star-pairing
    * instead of a quadratic blow-up. Centroids are passed in (fixed
    * literals for the oracle-checked gate; `Similarity.trainCentroids` for
    * production) and ride to executors as one broadcast-referenced codegen
    * object, so assignment is a narrow scan-bound stage. */
  def semanticSurvivors(df: DataFrame, idCol: String, vecCol: String,
                        centroids: Array[Array[Float]],
                        threshold: Double = 0.95,
                        maxClusterSize: Long = 4096L): DataFrame = Materialize.scope {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val assigned = Materialize.persist(df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("cluster", element_at(
        column(graft.functions.NearestCentroids(expression(col("vec")), centroids, 1)),
        1).cast("long")))
    val cand = cappedCandidatePairs(
      assigned.select(col("id"), col("cluster")), "cluster", maxClusterSize)
    val dupIds = cand
      .join(assigned.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(assigned.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .where(VF.cosineSim(col("vec_a"), col("vec_b")) >= threshold)
      .select(col("id_b").as("id"))
      .distinct()
    val out = assigned.select(col("id"), col("cluster"))
      .join(dupIds, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("cluster"))
    Materialize.result(out)
  }

  /** Greedy survivor reduction: drop every id that appears as the *larger*
    * member of a dup pair; keep the rest. One anti-join — no iteration. */
  def survivors(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    df.join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Create a fresh EMPTY bucketed posting index with [[buildPostingIndex]]'s
    * schema — the starting state of a crawl-ingestion loop ([[dedupIngest]]
    * and the streaming twin append survivor postings into it). */
  def initPostingIndex(df: DataFrame, idCol: String, textCol: String,
                       table: String, path: String, buckets: Int = 8,
                       shingleN: Int = 3): DataFrame =
    Relational.bucketMaterialize(
      buildPostingIndex(df.where(lit(false)), idCol, textCol, shingleN),
      table, "h", buckets, path)

  /** Append a batch's survivor postings to the bucketed index (bucket spec
    * must match the [[initPostingIndex]] layout — validated by Spark).
    * NOTE: the `df` column appended here is the batch-LOCAL document
    * frequency, not the global one; run the loop with pruning off
    * (`maxDocFreq = Long.MaxValue`, the default) unless a periodic
    * compaction refreshes `df` globally — stale df would silently change
    * which candidate pairs the pruning drops. */
  def appendPostingIndex(surv: DataFrame, idCol: String, textCol: String,
                         table: String, buckets: Int = 8,
                         shingleN: Int = 3): Unit =
    buildPostingIndex(surv, idCol, textCol, shingleN)
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "h").sortBy("h")
      .saveAsTable(table)

  /** [[compactHammingIndex]] for the posting index WITHOUT refreshing df —
    * the pure small-files rewrite (the epoch-stamped streaming layout
    * appends batch-local df like [[appendPostingIndex]]; a global-df
    * refresh over an epoch-stamped index is [[compactPostingIndex]]'s job
    * and orthogonal to file-count maintenance). */
  def compactPostingIndexFiles(spark: org.apache.spark.sql.SparkSession,
                               table: String, path: String,
                               buckets: Int = 8, key: String = "h"): Unit = {
    // group rows by their BUCKET ID before the write, so the rewrite
    // lands one file per non-empty bucket instead of tasks × buckets.
    // The partition key must be the DERIVED pmod(hash(key), buckets)
    // expression, not the key itself: a plain repartition(buckets, key)
    // over a bucketed scan is optimizer-removed as redundant (the scan
    // claims HashPartitioning(key)) and the planner then drops the
    // bucketed read too, leaving bin-packed file splits that mix every
    // bucket per task (measured: 16 files instead of 4). Rows sharing a
    // bucket share the derived key, so each write task holds one bucket.
    Materialize.scope {
      val fresh = Materialize.cut(spark.table(table).repartition(buckets,
        pmod(hash(col(key)), lit(buckets))))
      Relational.bucketMaterialize(fresh, table, key, buckets, path)
    }
    ()
  }

  /** Intra-document repeated-line removal — the within-ONE-document pass
    * (corpus-wide is [[lineSurvivors]]): every line whose graft-NORMALIZED
    * form already occurred earlier in the SAME document is dropped; lines
    * that normalize to empty (blank/punctuation-only) are structure, not
    * content — always kept. First occurrence survives, original order is
    * preserved.
    *
    * Output: (idCol, clean_text, n_lines_kept, n_lines_cut).
    *
    * Scale: a pure NARROW projection — one `aggregate` fold per row over
    * its own lines, no shuffle anywhere; the whole corpus pass costs
    * exactly one scan (the fold's seen-set membership is O(distinct lines)
    * per line, bounded by document size, not corpus size). */
  def intraDocLineDedup(df: DataFrame, idCol: String, textCol: String,
                        delim: String = "\n"): DataFrame = {
    require(delim.nonEmpty, "delimiter must be non-empty")
    def norm(c: Column) = graft.functions.TextFunctions.normText(c)
    val folded = aggregate(
      split(col(textCol), java.util.regex.Pattern.quote(delim)),
      struct(array().cast("array<string>").as("seen"),
             array().cast("array<string>").as("out")),
      (acc, line) =>
        when(length(norm(line)) === 0,
             struct(acc.getField("seen").as("seen"),
                    concat(acc.getField("out"), array(line)).as("out")))
        .when(array_contains(acc.getField("seen"), norm(line)), acc)
        .otherwise(
             struct(concat(acc.getField("seen"), array(norm(line))).as("seen"),
                    concat(acc.getField("out"), array(line)).as("out"))))
    df.select(col(idCol), col(textCol), folded.getField("out").as("__kept"))
      .select(col(idCol),
        array_join(col("__kept"), delim).as("clean_text"),
        size(col("__kept")).cast("long").as("n_lines_kept"),
        (size(split(col(textCol), java.util.regex.Pattern.quote(delim))) -
          size(col("__kept"))).cast("long").as("n_lines_cut"))
  }

  /** Train/val split-leakage audit: near-duplicate pairs that CROSS a
    * deterministic hash-split boundary — the documents whose val-set twin
    * would leak train data into evaluation. Candidates come from the same
    * MinHash-LSH banding as [[minhashLshPairs]]; the split assignment is
    * [[Sampling.hashSplit]]'s (pure id functions on both sides, so the
    * audit is reproducible and oracle-replicable end to end).
    *
    * Output: (id_a, id_b, split_a, split_b, est_jaccard), cross-split
    * pairs only.
    *
    * Scale shape: the pair table (near-dups) is orders of magnitude
    * smaller than the corpus — it broadcasts onto the slim (id, split)
    * projection for both attachments; the corpus never shuffles for the
    * audit beyond what the LSH banding already does. */
  def splitLeakage(df: DataFrame, idCol: String, textCol: String,
                   weights: Seq[(String, Double)],
                   numHashes: Int = 128, bands: Int = 16,
                   threshold: Double = 0.4, seed: Long = 0L): DataFrame = {
    val splits = Sampling.hashSplit(
      df.select(col(idCol)), idCol, weights, seed)
    val pairs = minhashLshPairs(df, idCol, textCol, numHashes, bands, threshold)
    val withA = broadcast(pairs)
      .join(splits.select(col(idCol).as("id_a"), col("split").as("split_a")),
            Seq("id_a"))
    broadcast(withA)
      .join(splits.select(col(idCol).as("id_b"), col("split").as("split_b")),
            Seq("id_b"))
      .where(col("split_a") =!= col("split_b"))
      .select("id_a", "id_b", "split_a", "split_b", "est_jaccard")
  }

  /** Rebuild the bucketed posting index with globally-consistent document
    * frequencies — the periodic maintenance that makes `maxDocFreq`
    * pruning safe in the ingest loop ([[appendPostingIndex]] writes
    * batch-LOCAL df, which goes stale as the accepted corpus grows; see
    * its NOTE). One window aggregation over the index (a single hash
    * exchange on `h`) and one bucketed rewrite — O(index), so production
    * runs it every N batches, not per batch; [[dedupIngestCompacted]]
    * runs it per batch to keep the gate semantics exact. The input is
    * lineage-cut before the rewrite so overwriting the table's own path
    * is safe. */
  def compactPostingIndex(spark: org.apache.spark.sql.SparkSession,
                          table: String, path: String,
                          buckets: Int = 8): Unit = {
    Materialize.scope {
      val fresh = Materialize.cut(spark.table(table).select("id", "n", "h")
        .withColumn("df", count(lit(1)).over(Window.partitionBy("h"))))
      Relational.bucketMaterialize(fresh, table, "h", buckets, path)
    }
    ()
  }

  /** [[dedupIngest]] with `maxDocFreq` pruning ON and a compaction after
    * every append, so each batch prunes against globally-consistent
    * document frequencies (batch-side df + corpus-global df ≤ maxDocFreq
    * keeps the shingle) — the production configuration of the ingestion
    * loop once boilerplate shingles start dominating posting lists. */
  def dedupIngestCompacted(batches: Seq[DataFrame], idCol: String,
                           textCol: String, indexTable: String,
                           indexPath: String, buckets: Int = 8,
                           shingleN: Int = 3, threshold: Double = 0.5,
                           maxDocFreq: Long = 1000L): DataFrame = {
    require(batches.nonEmpty, "need at least one batch")
    require(maxDocFreq != Long.MaxValue,
      "pruning off — use dedupIngest, which skips the df machinery entirely")
    val spark = batches.head.sparkSession
    requireMaterializing(spark, "dedupIngestCompacted")
    initPostingIndex(batches.head, idCol, textCol, indexTable, indexPath,
      buckets, shingleN)
    batches.map { b =>
      val surv = incrementalSurvivorsIndexed(b, spark.table(indexTable),
        idCol, textCol, shingleN, threshold, maxDocFreq)
      appendPostingIndex(surv, idCol, textCol, indexTable, buckets, shingleN)
      compactPostingIndex(spark, indexTable, indexPath, buckets)
      surv
    }.reduce(_ unionByName _)
  }

  /** Crawl-ingestion dedup loop — the static twin of the streaming
    * ingestion pipeline: batches arrive in order, each batch keeps only
    * documents that near-duplicate neither the ACCEPTED corpus so far nor
    * a smaller-id document of the same batch, and each batch's survivors
    * extend the bucketed posting index before the next batch probes it.
    * This differs from one-shot [[incrementalSurvivorsIndexed]] in exactly
    * the way production ingestion does: the corpus a batch dedups against
    * is the set of documents ACCEPTED so far, not everything ever seen.
    *
    * Scale shape: per batch, one zero-exchange probe of the bucketed index
    * (O(batch) shuffle, never O(corpus) — the `dedup_incremental_indexed`
    * plan pin) plus one bucketed append of the survivors' postings; the
    * index pays its ingest shuffle once per batch for exactly the new
    * postings. */
  def dedupIngest(batches: Seq[DataFrame], idCol: String, textCol: String,
                  indexTable: String, indexPath: String, buckets: Int = 8,
                  shingleN: Int = 3, threshold: Double = 0.5,
                  maxDocFreq: Long = Long.MaxValue): DataFrame = {
    require(batches.nonEmpty, "need at least one batch")
    val spark = batches.head.sparkSession
    requireMaterializing(spark, "dedupIngest")
    // phase labels (thread-local) keep the UI/job-profile readable — a
    // 3-batch loop runs ~40 small jobs and is opaque without them
    def labeled[T](desc: String)(body: => T): T = {
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(desc)
      try body finally sc.setJobDescription(outer)
    }
    labeled(s"dedupIngest: init index $indexTable") {
      initPostingIndex(batches.head, idCol, textCol, indexTable, indexPath,
        buckets, shingleN)
    }
    batches.zipWithIndex.map { case (b, i) =>
      // survivors are materialized (localCheckpoint) by the incremental
      // step, so appending their postings AND accumulating them reads the
      // checkpointed blocks, not a recompute racing the index append
      val surv = labeled(s"dedupIngest: probe batch $i") {
        incrementalSurvivorsIndexed(b, spark.table(indexTable),
          idCol, textCol, shingleN, threshold, maxDocFreq)
      }
      labeled(s"dedupIngest: append postings $i") {
        appendPostingIndex(surv, idCol, textCol, indexTable, buckets, shingleN)
      }
      surv
    }.reduce(_ unionByName _)
  }

  /** Cluster-representative survivor cut over any near-dup pair graph —
    * the final stage of production fuzzy dedup: label transitive clusters
    * with [[connectedComponents]] (chains a~b, b~c collapse even when a,c
    * never paired), keep each cluster's min-id representative, and report
    * how many documents it absorbed. Unlike the pairwise [[survivors]]
    * (which can drop BOTH endpoints of a chain's middle links), exactly
    * one document survives per connected component — the semantics
    * MinHash-based corpus dedup pipelines ship.
    *
    * Scale shape: the clustering is the O(log n)-round pointer-jumping
    * propagation; this stage adds one count aggregate over the
    * (id, cluster) label table and one filter+join over the same slim
    * table — document bodies never move. */
  def clusterSurvivors(df: DataFrame, pairs: DataFrame,
                       idCol: String): DataFrame = {
    val cl = connectedComponents(df, pairs, idCol)
    val sizes = cl.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
    cl.where(col(idCol) === col("cluster_id"))
      .join(sizes, Seq("cluster_id"))
      .select(col(idCol), col("n_members"))
  }

  /** Keep-BEST cluster representative: instead of `clusterSurvivors`'
    * min-id cut, each duplicate cluster keeps its member with the highest
    * `scoreCol` (ties → smallest id, so the cut is total and
    * deterministic). This is the production near-dup policy: when a
    * syndicated article exists in five crawls, keep the cleanest copy,
    * not the one with the accidentally-smallest id.
    *
    * `score` is any per-doc LONG column expression over `df`'s columns
    * (e.g. [[graft.functions.TextFunctions.qualityScore]]). Output:
    * `(idCol, cluster_id, n_members, score)` — one row per kept doc,
    * singletons included (they are their own best member).
    *
    * Scale shape: the argmax is `max_by((id, score) struct)` merged
    * map-side inside the same cluster-keyed aggregation that counts
    * members — one shuffle of slim (cluster_id, id, score) rows after the
    * CC labeling; no window sort, no rejoin against document bodies. */
  def bestOfClusterSurvivors(df: DataFrame, pairs: DataFrame, idCol: String,
                             score: Column): DataFrame = {
    val scored = df.select(col(idCol), score.as("score"))
    val cl = connectedComponents(df, pairs, idCol)
      .join(scored, idCol)
    // one aggregation: member count + argmax by (score DESC, id ASC).
    // max_by's tie behavior is engine-defined, so instead max() a
    // (score, -id) struct — lexicographic struct ordering makes the
    // tie-break part of the key and the result order-insensitive.
    val best = cl.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
           max(struct(col("score"), negate(col(idCol)).as("neg_id")))
             .as("best"))
    best.select(
        negate(col("best.neg_id")).as(idCol),
        col("cluster_id"), col("n_members"),
        col("best.score").as("score"))
  }

  /** Exact substring-span dedup (the "dedup repeated n-token spans, not
    * whole documents" shape used for training corpora — boilerplate,
    * licenses, quoted passages): every token-position window of width `n`
    * is hashed, windows whose hash occurs more than once ANYWHERE in the
    * corpus are duplicate spans, and per document the overlapping/adjacent
    * duplicate windows are merged into maximal spans. The globally-first
    * occurrence (min `(id, pos)`) of each window is the canonical copy and
    * is NOT reported — the result is exactly the spans a cleaner would cut.
    *
    * Output: `(idCol, start_tok, end_tok, n_windows)` — token-index spans
    * `[start_tok, end_tok)` over the graft-normalized tokenization, ordered
    * within each doc.
    *
    * Scale design: the positional-window hashes shuffle as `(hash, id,
    * pos)` — never text. The global first/count reduction is a partial
    * (map-side combinable) aggregation, NOT a per-hash window sort, so a
    * boilerplate span occurring 10^6 times costs a combiner merge, not a
    * single-reducer sort. The only window function runs partitioned by
    * document (bounded by doc length). */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 10): DataFrame = Materialize.scope {
    require(n >= 2, s"span width n must be >= 2, got $n")
    // (id, pos, h): xxhash64 of the n-token window at token index pos —
    // a native single-pass expression (PositionalShingleHashes): the HOF
    // spelling (transform(sequence(...), i -> xxhash64(concat_ws(slice))))
    // re-evaluates the tokenizer per window element and went quadratic
    // (measured 22 s at sf0.1 vs ~1 s native; verify SKILL.md pitfall #1).
    // grams feeds both the global first/count reduction and the join's
    // probe side — persisted so the scan + normalization + hashing run
    // once, not twice (the two exchange subtrees differ, no ReuseExchange)
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val grams = Materialize.persist(df.select(col(idCol).as("id"),
        posexplode(column(graft.functions.PositionalShingleHashes(
          expression(TF.normText(col(textCol))), n))))
      .select(col("id"), col("pos").cast("long").as("pos"), col("col").as("h")))
    // global min-(id,pos) + count per hash: partial agg before the shuffle,
    // so hot (boilerplate) hashes combine map-side instead of funneling
    // into one reducer's sort buffer
    val firsts = grams.groupBy("h")
      .agg(min(struct(col("id"), col("pos"))).as("first"),
           count(lit(1)).as("cnt"))
      .where(col("cnt") > 1)
    val dup = grams.join(firsts, "h")
      .where(struct(col("id"), col("pos")) =!= col("first"))
      .select("id", "pos")
    // merge overlapping/adjacent windows per doc: break when the gap to the
    // previous duplicate window exceeds the span width
    val w = Window.partitionBy("id").orderBy("pos")
    val flagged = dup.withColumn("brk",
      when(lag(col("pos"), 1).over(w).isNull ||
           col("pos") > lag(col("pos"), 1).over(w) + n, 1).otherwise(0))
    val out = flagged.withColumn("gid", sum(col("brk")).over(w))
      .groupBy(col("id"), col("gid"))
      .agg(min(col("pos")).as("start_tok"),
           (max(col("pos")) + n).as("end_tok"),
           count(lit(1)).as("n_windows"))
      .select(col("id").as(idCol), col("start_tok"), col("end_tok"),
              col("n_windows"))
    Materialize.result(out)
  }

  /** Apply the cuts reported by [[duplicateSpans]] — the output half of
    * Lee-2021-style substring dedup: each document's graft-normalized
    * tokens with every token position inside a reported
    * `[start_tok, end_tok)` span removed, re-joined with single spaces.
    * Documents without spans pass through too, as their normalized re-join,
    * so cleaned and untouched docs live in one uniformly-normalized column.
    *
    * Output: `(idCol, clean_text, n_tokens_kept, n_tokens_cut)`.
    *
    * Scale design: spans collapse to one small array per affected doc (a
    * handful of merged spans) joined onto the corpus — at production scale
    * the span side is a broadcast. The token filter is a per-row expression
    * costing tokens × spans-per-doc; nothing but the span join shuffles and
    * the document body never does. */
  def applySpanCuts(df: DataFrame, spans: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    Seq("__graft_spans", "__graft_toks", "__graft_kept").foreach(c =>
      require(!df.columns.contains(c) && !spans.columns.contains(c),
        s"applySpanCuts: input already contains reserved column '$c'"))
    val spanAgg = spans.groupBy(col(idCol))
      .agg(collect_list(struct(col("start_tok").cast("long").as("s"),
                               col("end_tok").cast("long").as("e")))
             .as("__graft_spans"))
    // the intermediate aliases below are multi-referenced non-cheap
    // expressions, so CollapseProject keeps them evaluated once per row
    df.join(spanAgg, Seq(idCol), "left")
      .select(col(idCol), TF.tokens(col(textCol)).as("__graft_toks"),
              col("__graft_spans"))
      .select(col(idCol), col("__graft_toks"),
        when(col("__graft_spans").isNull, col("__graft_toks"))
          .otherwise(filter(col("__graft_toks"),
            (_, i) => !exists(col("__graft_spans"),
              s => i >= s("s") && i < s("e"))))
          .as("__graft_kept"))
      .select(col(idCol),
        array_join(col("__graft_kept"), " ").as("clean_text"),
        size(col("__graft_kept")).cast("long").as("n_tokens_kept"),
        (size(col("__graft_toks")) - size(col("__graft_kept")))
          .cast("long").as("n_tokens_cut"))
  }

  /** Incremental (crawl-over-crawl) dedup — the production corpus-refresh
    * flow: `existing` is the already-curated corpus (never modified),
    * `incoming` the new batch; keep the incoming docs that are NOT
    * near-duplicates (exact n-gram Jaccard ≥ `threshold`) of any existing
    * doc or of a smaller-id incoming doc. Returns the surviving incoming
    * rows with their original columns.
    *
    * One inverted-index equi-join over the union's postings, with the
    * victim side restricted to incoming BEFORE the join — existing×existing
    * candidates are never generated, so the cost is the cross-batch and
    * intra-batch candidates only (at steady state `incoming` ≪ `existing`
    * and the posting join is bounded by the incoming side's shingles).
    * `maxDocFreq` prunes pathological shingles exactly as
    * [[ngramJaccardPairs]]. Ids must be unique across both inputs. */
  def incrementalSurvivors(incoming: DataFrame, existing: DataFrame,
                           idCol: String, textCol: String,
                           shingleN: Int = 3, threshold: Double = 0.5,
                           maxDocFreq: Long = 1000L): DataFrame = Materialize.scope {
    def shingled(d: DataFrame, isInc: Boolean) =
      d.select(col(idCol).as("id"),
               TF.shingleHashes(col(textCol), shingleN).as("hs"),
               lit(isInc).as("is_inc"))
    val sets = Materialize.persist(shingled(incoming, isInc = true)
      .unionByName(shingled(existing, isInc = false))
      .withColumn("n", size(col("hs")))) // shingle sets reused by both posting sides
    val posting = sets.select(col("id"), col("is_inc"), col("n"),
                              explode(col("hs")).as("h"))
    val rare =
      if (maxDocFreq == Long.MaxValue) posting
      else posting.withColumn("df", count(lit(1)).over(
          Window.partitionBy(col("h"))))
        .where(col("df") <= maxDocFreq).drop("df")
    // victim (a) = incoming; source (b) = any existing doc, or an incoming
    // doc with a smaller id (greedy keep-first within the batch)
    val dropped = rare.where(col("is_inc")).as("a")
      .join(rare.as("b"),
        col("a.h") === col("b.h") &&
        (!col("b.is_inc") || col("b.id") < col("a.id")))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"),
           first(col("a.n")).as("na"), first(col("b.n")).as("nb"))
      .where(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")) >= threshold)
      .select(col("id_a").as(idCol)).distinct()
    val out = incoming.join(dropped, Seq(idCol), "left_anti")
    Materialize.result(out)
  }

  /** The corpus posting index consumed by [[incrementalSurvivorsIndexed]]:
    * one row per `(doc, shingle)` with the doc's set size and the shingle's
    * corpus document frequency baked in. Built ONCE per corpus refresh and
    * persisted bucketed on `h` (`Relational.bucketMaterialize(idx, table,
    * "h", buckets, path)`) so every subsequent batch joins against it
    * without re-shingling or re-shuffling the corpus — the per-batch cost
    * becomes O(incoming)-shuffle + an exchange-free index-side scan instead
    * of the O(corpus) re-shuffle [[incrementalSurvivors]] pays. */
  def buildPostingIndex(existing: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3): DataFrame =
    shinglePostings(existing, idCol, textCol, shingleN)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("h")))

  /** `(id, n, h)`: one row per (doc, distinct shingle) with the doc's set
    * size, the shingle kernel evaluated ONCE per row. A plain `explode` of
    * the projected array would let `InferFiltersFromGenerate` add a
    * `size(shingle_hashes(..)) > 0` filter below it, which re-runs the
    * whole normalize-and-hash per row; `explode_outer` gets no inferred
    * filter, and dropping its null row is the same result, since the
    * array has no null elements and is never empty for non-null text.
    * `KnownNotNull` gives `h` back the non-null type `explode` had, so the
    * index files keep their parquet schema. */
  private def shinglePostings(df: DataFrame, idCol: String, textCol: String,
                              shingleN: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.KnownNotNull
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    df.select(col(idCol).as("id"),
        TF.shingleHashes(col(textCol), shingleN).as("hs"))
      .select(col("id"), size(col("hs")).cast("long").as("n"),
              explode_outer(col("hs")).as("h"))
      .where(col("h").isNotNull)
      .select(col("id"), col("n"), column(KnownNotNull(expression(col("h")))).as("h"))
  }

  /** [[incrementalSurvivors]] against a PERSISTED posting index instead of
    * the raw corpus — same semantics (keep incoming docs that near-dup
    * neither a corpus doc nor a smaller-id incoming doc, df computed over
    * corpus + batch combined), production shape: the corpus side is the
    * bucketed table from [[buildPostingIndex]], scanned in bucket order
    * with NO exchange (PlanSpec-pinned); only the incoming batch's postings
    * shuffle. Ids must be unique across the corpus and the batch. */
  def incrementalSurvivorsIndexed(incoming: DataFrame, index: DataFrame,
                                  idCol: String, textCol: String,
                                  shingleN: Int = 3, threshold: Double = 0.5,
                                  maxDocFreq: Long = 1000L): DataFrame = Materialize.scope {
    Materialize.result(incrementalSurvivorsIndexedLazy(incoming, index,
      idCol, textCol, shingleN, threshold, maxDocFreq))
  }

  /** Lazy twin of [[incrementalSurvivorsIndexed]] — see
    * [[hammingSurvivorsIndexedLazy]] for the contract. */
  private[graft] def incrementalSurvivorsIndexedLazy(
      incoming: DataFrame, index: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5,
      maxDocFreq: Long = 1000L): DataFrame = {
    val incBase = shinglePostings(incoming, idCol, textCol, shingleN)
    // batch-side df; combined df for a shingle = dfi + corpus df (exactly
    // the union-window df of the non-indexed variant). With pruning off the
    // window (a shuffle over the batch) is skipped entirely.
    val inc = Materialize.persist(
      if (maxDocFreq == Long.MaxValue) incBase.withColumn("dfi", lit(0L))
      else incBase.withColumn("dfi", count(lit(1)).over(Window.partitionBy("h"))))
    // cross-batch candidates: batch postings probe the bucketed index
    val crossRaw = inc.as("a").join(index.as("b"), col("a.h") === col("b.h"))
      .select(col("a.id").as("id_a"), col("a.n").as("na"),
              col("a.dfi").as("dfi"), col("b.id").as("id_b"),
              col("b.n").as("nb"), col("b.df").as("dfc"), col("a.h").as("h"))
    // with pruning on, the raw candidate postings feed two consumers (the
    // pair aggregation + the per-shingle corpus-df map for intra-batch
    // pruning) — persist so the index scan runs once (no ReuseExchange
    // across the two different subtrees; see memory: recurring plan trap)
    val crossSrc = if (maxDocFreq == Long.MaxValue) crossRaw
                   else Materialize.persist(crossRaw)
    val cross = (if (maxDocFreq == Long.MaxValue) crossSrc
                 else crossSrc.where(col("dfi") + col("dfc") <= maxDocFreq))
      .select("id_a", "id_b", "na", "nb")
    // intra-batch: smaller-id incoming docs are dedup sources too; both
    // sides of the self-join see the same combined-df pruning
    val intraRare =
      if (maxDocFreq == Long.MaxValue) inc
      else inc.join(crossSrc.select(col("h"), col("dfc")).distinct(),
                    Seq("h"), "left")
        .where(col("dfi") + coalesce(col("dfc"), lit(0L)) <= maxDocFreq)
        .select("id", "n", "h")
    val intra = intraRare.as("a")
      .join(intraRare.as("b"),
        col("a.h") === col("b.h") && col("b.id") < col("a.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
              col("a.n").as("na"), col("b.n").as("nb"))
    // ONE pair-scoring aggregation over both candidate sets: ids are
    // unique across corpus and batch, so no (id_a, id_b) pair comes from
    // both branches and each group's count is that pair's intersection
    val dropped = cross.unionByName(intra)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"),
           first(col("na")).as("na"), first(col("nb")).as("nb"))
      .where(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")) >= threshold)
      .select(col("id_a").as(idCol))
    // the anti-join needs no distinct ids; the dropped side is one slim id
    // per batch doc's pair over threshold (a few per near-copy), so it is
    // broadcast instead of shuffled
    incoming.join(broadcast(dropped), Seq(idCol), "left_anti")
  }

  /** The normalized form of every line, positions kept ([[lineSurvivors]],
    * [[boilerplateSurvivors]]). */
  private def normLines(lines: Column): Column = transform(lines, l => TF.normText(l))

  /** Corpus-wide line-level dedup with reassembly (the RefinedWeb /
    * CCNet "remove duplicated lines" pass — boilerplate nav bars, cookie
    * banners, repeated headers): documents split on `delim`, every line
    * whose graft-NORMALIZED form occurs at least `minRepeats` times across
    * the whole corpus is removed EXCEPT its globally-first occurrence
    * (min `(id, position)`), and each document is re-joined from its kept
    * lines. Lines that normalize to empty (blank/punctuation-only) are
    * structure, not content — never deduplicated, always kept.
    *
    * Output: `(idCol, clean_text, n_lines_kept, n_lines_cut)` — every
    * input document appears, cut or not.
    *
    * Scale: lines shuffle as slim `(xxhash64(norm), id, pos)` rows — never
    * text; the global first/count reduction is a map-side-combinable
    * partial aggregate (a banner repeated 10^8 times costs a combiner
    * merge, not a single-reducer sort — same shape as [[duplicateSpans]]);
    * cut positions collapse to one small per-doc array re-joined onto the
    * corpus (broadcastable at production skew), and the line filter is a
    * per-row expression — document bodies never cross a shuffle. */
  def lineSurvivors(df: DataFrame, idCol: String, textCol: String,
                    delim: String = "\n", minRepeats: Long = 2L): DataFrame = Materialize.scope {
    require(delim.nonEmpty, "delimiter must be non-empty")
    require(minRepeats >= 2L, s"minRepeats must be >= 2, got $minRepeats")
    Seq("__graft_lines", "__graft_cuts", "__graft_kept").foreach(c =>
      require(!df.columns.contains(c),
        s"lineSurvivors: input already contains reserved column '$c'"))
    val qdelim = java.util.regex.Pattern.quote(delim)
    val linesOf = split(coalesce(col(textCol), lit("")), qdelim, -1)
    // (h, id, pos): normalized-line hashes at their original line index —
    // empty-norm lines are excluded here (never dedup candidates) but keep
    // their positions occupied, so cut indices line up with the raw split.
    // Lines are normalized inside the generator: a filter on a normalized
    // column projected above it would be pushed below the projection with
    // the kernel inlined, normalizing every line twice
    val exploded = df
      .select(col(idCol).as("id"), posexplode(normLines(linesOf)).as(Seq("pos", "norm")))
      .where(length(col("norm")) > 0)
      .select(col("id"), col("pos").cast("long").as("pos"),
              xxhash64(col("norm")).as("h"))
    val lines = Materialize.persist(exploded)
    val firsts = lines.groupBy("h")
      .agg(min(struct(col("id"), col("pos"))).as("first"),
           count(lit(1)).as("cnt"))
      .where(col("cnt") >= minRepeats)
    val cuts = lines.join(firsts, "h")
      .where(struct(col("id"), col("pos")) =!= col("first"))
      .groupBy(col("id").as(idCol))
      .agg(collect_list(col("pos")).as("__graft_cuts"))
    val out = df.join(cuts, Seq(idCol), "left")
      .select(col(idCol), linesOf.as("__graft_lines"), col("__graft_cuts"))
      .select(col(idCol), col("__graft_lines"),
        when(col("__graft_cuts").isNull, col("__graft_lines"))
          .otherwise(filter(col("__graft_lines"),
            (_, i) => !array_contains(col("__graft_cuts"), i.cast("long"))))
          .as("__graft_kept"))
      .select(col(idCol),
        array_join(col("__graft_kept"), delim).as("clean_text"),
        size(col("__graft_kept")).cast("long").as("n_lines_kept"),
        (size(col("__graft_lines")) - size(col("__graft_kept")))
          .cast("long").as("n_lines_cut"))
    Materialize.result(out)
  }

  /** Group-conditional boilerplate strip (the CCNet/RefinedWeb per-domain
    * pass, distinct from [[lineSurvivors]]): a line whose graft-NORMALIZED
    * form appears in at least `minDocs` DISTINCT documents of the SAME
    * group (`groupCol` — typically the domain or source) is boilerplate
    * (nav bars, footers, cookie banners templated across a site) and is
    * removed from EVERY document of that group, first occurrence included —
    * boilerplate has no "original" worth keeping, which is exactly where
    * the semantics diverge from line-level dedup. A line frequent on one
    * domain but rare on another is cut only where it is template: the
    * count is per group, so cross-domain coincidences survive. Lines that
    * normalize to empty are structure, never cut.
    *
    * Output: `(idCol, clean_text, n_lines_kept, n_lines_cut)` — every
    * input document appears.
    *
    * Scale: lines shuffle as slim `(group, xxhash64(norm), id, pos)` rows,
    * never text; the distinct-doc count is a two-level aggregate (the
    * DISTINCT collapses per-doc repeats map-side before the per-group
    * count); the boilerplate key set joins back to line occurrences on
    * `(group, hash)` — skew on a mega-domain stays an equi-join on a key
    * that the count has already collapsed to one row per distinct line.
    * Document bodies never cross a shuffle; the final cut is a per-row
    * array filter like [[lineSurvivors]]. */
  def boilerplateSurvivors(df: DataFrame, idCol: String, textCol: String,
                           groupCol: String, minDocs: Long = 3L,
                           delim: String = "\n"): DataFrame = Materialize.scope {
    require(delim.nonEmpty, "delimiter must be non-empty")
    require(minDocs >= 2L, s"minDocs must be >= 2, got $minDocs")
    Seq("__graft_lines", "__graft_cuts", "__graft_kept").foreach(c =>
      require(!df.columns.contains(c),
        s"boilerplateSurvivors: input already contains reserved column '$c'"))
    val qdelim = java.util.regex.Pattern.quote(delim)
    val linesOf = split(coalesce(col(textCol), lit("")), qdelim, -1)
    val exploded = df
      .select(col(idCol).as("id"), col(groupCol).as("grp"),
              posexplode(normLines(linesOf)).as(Seq("pos", "norm")))
      .where(length(col("norm")) > 0)
      .select(col("id"), col("grp"), col("pos").cast("long").as("pos"),
              xxhash64(col("norm")).as("h"))
    val lines = Materialize.persist(exploded)
    // distinct docs per (group, line): the inner distinct is the map-side
    // collapse (a line repeated 50× inside one doc contributes one row)
    val boiler = lines.select("grp", "h", "id").distinct()
      .groupBy("grp", "h")
      .agg(count(lit(1)).as("docs"))
      .where(col("docs") >= minDocs)
      .select("grp", "h")
    val cuts = lines.join(boiler, Seq("grp", "h"))
      .groupBy(col("id").as(idCol))
      .agg(collect_list(col("pos")).as("__graft_cuts"))
    val out = df.join(cuts, Seq(idCol), "left")
      .select(col(idCol), linesOf.as("__graft_lines"), col("__graft_cuts"))
      .select(col(idCol), col("__graft_lines"),
        when(col("__graft_cuts").isNull, col("__graft_lines"))
          .otherwise(filter(col("__graft_lines"),
            (_, i) => !array_contains(col("__graft_cuts"), i.cast("long"))))
          .as("__graft_kept"))
      .select(col(idCol),
        array_join(col("__graft_kept"), delim).as("clean_text"),
        size(col("__graft_kept")).cast("long").as("n_lines_kept"),
        (size(col("__graft_lines")) - size(col("__graft_kept")))
          .cast("long").as("n_lines_cut"))
    Materialize.result(out)
  }

  /** Snapshot diff — the crawl-over-crawl corpus delta report: classify
    * every document id across two snapshots of a corpus as `added` (new
    * side only), `removed` (old side only), `changed` (present in both
    * with different content fingerprints) or `unchanged`. Content equality
    * is md5 of the raw text by default; `normalized = true` compares
    * graft-normalized text instead, so whitespace/case churn doesn't count
    * as change. NULL text fingerprints like empty text (presence is what
    * the diff tracks — a NULL fp would misread as absence). Ids must be
    * unique within each snapshot.
    *
    * Output: `(idCol, status, old_fp, new_fp)` — fp NULL on the absent
    * side only.
    *
    * Scale: both snapshots project to slim `(id, fp)` BEFORE the single
    * full-outer id-equi-join, so document bodies never shuffle; snapshots
    * kept as bucketed tables on the id ([[graft.operators.Relational]]
    * `bucketMaterialize`) diff with zero exchanges. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                   textCol: String, normalized: Boolean = false): DataFrame = {
    def fp(df: DataFrame, out: String) = {
      val body = coalesce(col(textCol), lit(""))
      val f = if (normalized) TF.fingerprint(body)
              else md5(to_binary(body, lit("utf-8")))
      df.select(col(idCol).as("id"), f.as(out))
    }
    fp(oldDf, "old_fp").join(fp(newDf, "new_fp"), Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("old_fp").isNull, lit("added"))
          .when(col("new_fp").isNull, lit("removed"))
          .when(col("old_fp") === col("new_fp"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("old_fp"), col("new_fp"))
  }

  /** Transitive dup-cluster labeling (connected components): every doc gets
    * `cluster_id` = the MIN id reachable through the dup-pair graph
    * (singletons label themselves). The greedy `survivors` keeps a doc
    * whenever it beats its *direct* pairs; cluster labeling additionally
    * collapses chains (a~b, b~c ⇒ one cluster even if a,c never paired),
    * which is what "keep one per duplicate group" actually means for a
    * training corpus.
    *
    * Scale shape: min-label propagation with POINTER JUMPING — each round
    * takes the min over direct neighbors' labels, then compresses paths by
    * looking the label's own label up (`comp ← label[label[x]]`), giving
    * O(log n) rounds on chains instead of O(diameter). Per-round shuffle
    * budget is trimmed to the minimum (round-3 verdict item 3):
    *
    *   - the edge list carries one SELF-LOOP per doc, so a single
    *     join+aggregate computes both `min(self, neighbors)` AND the node's
    *     previous label (the self row's contribution, extracted with a
    *     conditional min) — no separate label-carry join and no
    *     change-flag join against the previous round;
    *   - edges are hash-pre-partitioned on the join key once, outside the
    *     loop, and the cut preserves that partitioning, so the per-round
    *     neighbor join never re-shuffles the (large) edge side;
    *   - the pointer-jump lookup table is the SAME aggregate re-keyed by
    *     id, whose partitioning the groupBy already established — its
    *     shuffle is exchange-reused, not recomputed.
    *
    * Labels are re-materialized per round (localCheckpoint, or reliable
    * checkpoint under `spark.graft.dedup.materialize = reliable`) so
    * lineage doesn't grow with the iteration count, and the PREVIOUS
    * round's blocks are freed as soon as the new round materializes
    * (`Materialize.release`) — live checkpoint footprint is O(1) rounds,
    * not O(rounds). The per-round driver action reads ONE aggregate (the
    * converged flag), never data. Errors loudly if `maxRounds` is hit
    * (pathological graph, raise the bound).
    *
    * Contract: every id appearing in `pairs` must be drawn from
    * `df[idCol]` (all graft pair finders guarantee this — pairs come from
    * blocking over `df` itself). */
  def connectedComponents(df: DataFrame, pairs: DataFrame, idCol: String,
                          maxRounds: Int = 25): DataFrame =
    connectedComponentsWithRounds(df, pairs, idCol, maxRounds)._1

  /** As `connectedComponents`, additionally returning the number of
    * propagation rounds run — the O(log n) claim is asserted by spec over
    * adversarial graphs (long chain, high-degree star, bridged cliques),
    * not taken on faith. */
  def connectedComponentsWithRounds(df: DataFrame, pairs: DataFrame,
                                    idCol: String, maxRounds: Int = 25): (DataFrame, Int) = {
    // symmetric edge list + one self-loop per doc (labels singletons AND
    // carries each node's own label through the neighbor-min aggregation);
    // pre-partitioned on dst so the per-round join reuses the partitioning
    val edges = Materialize.cut(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .unionByName(df.select(col(idCol).as("src"), col(idCol).as("dst")))
        .distinct()
        .repartition(col("dst")))
    // the initial label table is a trivial projection of the source (no
    // cut needed — round 1 reads it straight off the pruned scan; only
    // ROUND OUTPUTS need materialization to stop lineage growth)
    var lab = df.select(col(idCol).as("id"), col(idCol).as("comp"))
    var rounds = 0
    var converged = false
    while (!converged) {
      require(rounds < maxRounds,
        s"connectedComponents did not converge in $maxRounds rounds — " +
        "pathological pair graph; raise maxRounds")
      // ONE join + ONE aggregation per node: m = min label over
      // self+neighbors (self-loop row included), prev = the node's own
      // current label (only the self row satisfies dst = src)
      val stepped = edges
        .join(lab.select(col("id").as("dst"), col("comp").as("dcomp")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("dcomp")).as("m"),
             min(when(col("dst") === col("src"), col("dcomp"))).as("prev"))
      // pointer jump: comp ← min(m, this round's label of node m); the
      // lookup side is the same aggregate re-keyed by id (exchange-reused).
      // The change flag is OBSERVED during the cut's own materialization
      // job (CollectMetrics accumulator), so convergence costs zero extra
      // driver jobs — the eager checkpoint already runs one per round
      val jc = least(col("m"), coalesce(col("jmin"), col("m")))
      val obsName = s"graft_cc_chg_$rounds"
      val toCut = stepped
        .join(stepped.select(col("id").as("m"), col("m").as("jmin")), Seq("m"), "left")
        .select(col("id"), jc.as("comp"), (jc =!= col("prev")).as("__chg"))
        .observe(obsName, max(col("__chg")).as("any_chg"))
      val next = Materialize.cut(toCut)
      // FAIL LOUDLY if the metric is absent: a missing key (cut strategy no
      // longer materializing CollectMetrics, a Spark upgrade changing how
      // observed metrics surface) must not read as "no change" — that would
      // silently terminate the loop with un-propagated labels
      val metricRow = toCut.queryExecution.observedMetrics.getOrElse(obsName,
        sys.error(s"connectedComponents: observed metric $obsName missing " +
          "from the cut job — convergence cannot be read; the materialize " +
          "strategy no longer executes CollectMetrics"))
      // null any_chg (zero-row round: empty graph) counts as converged
      converged = !Option(metricRow.get(0)).contains(true)
      // previous ROUND's cut is dead once `next` exists — but only release
      // rounds this loop created: on the first iteration `lab` is a
      // projection of the caller's `df`, and releasing it would free a
      // checkpointed input the caller still owns (composition trap)
      if (rounds > 0) Materialize.release(lab)
      lab = next.select("id", "comp")
      rounds += 1
    }
    Materialize.release(edges) // labels converged — the edge cut is dead
    (lab.select(col("id").as(idCol), col("comp").as("cluster_id")), rounds)
  }
}
