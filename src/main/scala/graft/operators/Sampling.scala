package graft.operators

import graft.util.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Deterministic corpus curation: hash-based splits and samples.
  *
  * RNG-based sampling (`df.sample`) is partition-order-dependent and
  * unreproducible across engines or re-runs with different partitioning;
  * at corpus scale the right primitive is a pure function of the row
  * identity — `xxhash64(id)` bucketed into [0, 1e6) — so the same document
  * always lands in the same split, new data joins splits consistently, and
  * an external system (or the DuckDB oracle) can reproduce the assignment
  * bit-exactly. */
object Sampling {

  private val Buckets = 1000000L

  /** The [0, 1e6) assignment bucket for an id column (seeded — different
    * seeds give independent assignments). Spark's `xxhash64` is seed-42
    * XXH64; extra seeding is chained the same way multi-column xxhash64
    * chains, by hashing the literal seed first. */
  def bucket(idCol: Column, seed: Long = 0L): Column = {
    val h = if (seed == 0L) xxhash64(idCol) else xxhash64(lit(seed), idCol)
    pmod(h, lit(Buckets))
  }

  /** Add a `split` column assigning each row to the first name whose
    * cumulative weight bound covers its bucket. Weights must sum to 1
    * (±1e-9); bounds are exact integer thresholds on the 1e6 bucket space
    * so the assignment is integer-deterministic. */
  def hashSplit(df: DataFrame, idCol: String,
                weights: Seq[(String, Double)], seed: Long = 0L): DataFrame = {
    require(weights.nonEmpty, "need at least one split")
    require(math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1, got ${weights.map(_._2).sum}")
    val bounds = weights.scanLeft(0L) { case (acc, (_, w)) =>
      acc + math.round(w * Buckets)
    }.tail
    val b = bucket(col(idCol), seed)
    // last split takes any rounding remainder (bound forced to 1e6)
    val cases = weights.map(_._1).zip(bounds.dropRight(1) :+ Buckets)
    val expr = cases.init.foldRight(lit(cases.last._1): Column) {
      case ((name, bound), rest) => when(b < bound, lit(name)).otherwise(rest)
    }
    df.withColumn("split", expr)
  }

  /** Keep a deterministic `fraction` of rows by id hash. */
  def hashSample(df: DataFrame, idCol: String, fraction: Double,
                 seed: Long = 0L): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction in [0,1]")
    df.where(bucket(col(idCol), seed) < math.round(fraction * Buckets))
  }

  /** Stratified deterministic sampling: a different keep-fraction per
    * stratum (e.g. per-language rebalancing — downsample English, keep all
    * low-resource languages). Unlisted strata use `defaultFraction`. Pure
    * narrow filter — the per-row decision is `bucket(id) < threshold[s]`,
    * no shuffle, no state, reproducible by any engine with the XXH64
    * replica; at corpus scale this is a scan-bound predicate pushed to the
    * reader. */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       fractions: Map[String, Double],
                       defaultFraction: Double = 1.0,
                       seed: Long = 0L): DataFrame = {
    (fractions.values ++ Seq(defaultFraction)).foreach(f =>
      require(f >= 0 && f <= 1, s"fractions in [0,1], got $f"))
    val b = bucket(col(idCol), seed)
    val threshold = fractions.foldLeft(
        lit(math.round(defaultFraction * Buckets)): Column) {
      case (rest, (s, f)) =>
        when(col(stratumCol) === s, lit(math.round(f * Buckets))).otherwise(rest)
    }
    df.where(b < threshold)
  }

  /** Score-weighted deterministic sampling — the "keep with probability
    * proportional to a per-document signal" soft-filter move (quality
    * scores, classifier confidences, language probabilities): each row is
    * kept iff its XXH64 bucket falls under a PER-ROW ppm threshold given by
    * `ratePpm`, an arbitrary integer column expression clamped to
    * [0, 1e6]. Unlike [[stratifiedSample]] (one rate per stratum) the rate
    * here varies row by row, so a continuous score maps directly to a keep
    * probability with no bucketing step. A NULL rate drops the row
    * (documents with no signal don't pass a sampling gate by accident).
    *
    * The decision stays a pure function of (row identity, row signals):
    * deterministic, engine-reproducible, incremental-safe, and monotone —
    * a row kept at rate r is kept at every rate ≥ r (same bucket, higher
    * threshold), so tightening/loosening a policy yields nested samples.
    *
    * Scale: a narrow per-row filter, no shuffle, no state; with a
    * column-backed rate the predicate is scan-bound and whole-stage
    * codegen'd. */
  def weightedSample(df: DataFrame, idCol: String, ratePpm: Column,
                     seed: Long = 0L): DataFrame =
    // NULL handled explicitly — Spark's least/greatest SKIP nulls, so an
    // unguarded clamp would promote a NULL rate to the 1e6 ceiling and
    // keep every signal-less row
    df.where(bucket(col(idCol), seed) <
      greatest(lit(0L), least(coalesce(ratePpm.cast("long"), lit(0L)),
                              lit(Buckets))))

  /** Systematic PPS (probability-proportional-to-size) sampling — the
    * survey-statistics classic for "give me EXACTLY k documents with
    * selection probability proportional to token weight": rows in `idCol`
    * order are laid out back-to-back on the integer weight line
    * `[1, total]`, and the k boundary units `b_j = (j·total) DIV k + 1`
    * (j = 0..k-1) pick whichever row's interval contains them. Unlike the
    * Bernoulli samplers ([[hashSample]]/[[weightedSample]]) the sample
    * SIZE is exact (Σ n_slots = k by construction), and a row heavier
    * than total/k can win multiple slots (`n_slots` > 1) — the defining
    * PPS property a training-mixture builder uses for "sample k shards
    * proportional to token mass".
    *
    * Deterministic and engine-replayable: pure integer interval
    * arithmetic over the prefix sum, no RNG (the fixed boundary phase
    * stands in for the classic random start — vary `idCol` ordering or
    * pre-shuffle by [[bucket]] for fresh draws). Overflow contract:
    * `total · k < 2^63` (100 B tokens × k=10^6 still fits).
    *
    * Scale shape: the global running offset is the SAME two-pass
    * distributed prefix sum as `TextAnalysis.packingOffsets` (per-
    * partition subtotals → broadcast bases → within-partition window) —
    * never a single-task global window; the total rides a broadcast and
    * the selection is a narrow per-row filter.
    *
    * Output: the selected rows as `(idCol, weight, offset, n_slots)`. */
  def systematicSample(df: DataFrame, idCol: String, weight: Column,
                       k: Int): DataFrame = Materialize.scope {
    require(k >= 1, s"k must be >= 1, got $k")
    val offs = TextAnalysis.withPrefixOffsets(df, idCol, weight, "w")
    val tot = offs.agg(sum(col("w")).as("total"))
    Materialize.result(offs.crossJoin(broadcast(tot))
      .where(col("w") > 0 && col("total") > 0)
      .withColumn("lo_j", expr(s"(offset * $k + total - 1) DIV total"))
      .withColumn("hi_j", expr(s"((offset + w) * $k - 1) DIV total"))
      .where(col("hi_j") >= col("lo_j"))
      .select(col(idCol), col("w").as("weight"), col("offset"),
        (col("hi_j") - col("lo_j") + 1).as("n_slots")))
  }

  /** Temperature-weighted mixture resampling (the `p_g ∝ count_g^alpha`
    * rebalancing used to flatten training mixtures — alpha = 1 keeps natural
    * proportions, alpha → 0 approaches uniform-over-domains). Per domain the
    * keep rate is
    *
    *   `r_g = min(1, targetRows * count_g^alpha / Σ_h count_h^alpha / count_g)`
    *
    * floored to a ppm threshold on the XXH64 bucket space, so the selection
    * is a deterministic pure function of row identity (same contract as the
    * other samplers — reproducible across engines/runs, incremental data
    * joins the sample consistently). Rates above 1 cap (no upsampling; a
    * dominant domain downsamples, scarce domains keep everything).
    *
    * Scale: the only aggregation is the per-domain count (map-side
    * combinable; #domains is driver-bounded — a mixture config, not data),
    * the rate table broadcasts, and the per-row decision is a narrow
    * filter. Double arithmetic is sequenced identically on both engines
    * (sqrt and the left-associated `*`/`/` chain are IEEE exact-rounded;
    * the weight sum folds in domain-name order), so the ppm thresholds are
    * bit-reproducible — asserted by the DuckDB oracle, not assumed.
    *
    * Output: the kept rows with `group_rows` (domain size) and `rate_ppm`
    * attached. `alpha` = 0.5 uses `sqrt` explicitly on both engines (the
    * correctly-rounded IEEE op); other alphas use `pow`, which is
    * high-quality but not guaranteed correctly-rounded across libms — the
    * gate pins alpha = 0.5. */
  def temperatureMixture(df: DataFrame, groupCol: String, idCol: String,
                         targetRows: Long, alpha: Double = 0.5,
                         seed: Long = 0L): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0, 1], got $alpha")
    require(targetRows >= 0, s"targetRows must be >= 0, got $targetRows")
    def w(c: Long): Double =
      if (alpha == 0.5) math.sqrt(c.toDouble)
      else if (alpha == 1.0) c.toDouble
      else math.pow(c.toDouble, alpha)
    // the join key is an internal reserved name (a user frame may well
    // carry a column literally named "g"); the emitted columns must not
    // collide either
    Seq("group_rows", "rate_ppm").foreach(c => require(!df.columns.contains(c),
      s"temperatureMixture emits column '$c' but the input already has one"))
    require(!df.columns.contains(GroupKey),
      s"input may not contain the reserved column '$GroupKey'")
    // NULL domains participate as their own deterministic group (a join on
    // the raw value would silently drop them; a naive sortBy would NPE in
    // the String comparator) — coalesce to a sentinel on BOTH sides
    val gKey = coalesce(col(groupCol).cast("string"), lit(NullDomain))
    // sort by UTF-8 byte order, not String (UTF-16 code unit) order: the
    // weight sum below is a sequential float fold, and the DuckDB oracle
    // folds in byte-wise collation — supplementary-plane domain names would
    // otherwise diverge bit-wise
    val counts = df.groupBy(gKey.as(GroupKey))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortWith((a, b) => java.util.Arrays.compareUnsigned(
        a._1.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b._1.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0)
    var s = 0.0
    counts.foreach { case (_, c) => s += w(c) } // sequential, domain order
    val rates = counts.map { case (g, c) =>
      val rPpm = math.min(Buckets,
        math.floor(targetRows.toDouble * w(c) / s / c.toDouble * 1000000.0).toLong)
      org.apache.spark.sql.Row(g, c, rPpm)
    }
    val spark = df.sparkSession
    val ratesDf = spark.createDataFrame(
      spark.sparkContext.parallelize(rates.toSeq, 1),
      StructType(Seq(StructField(GroupKey, StringType, nullable = false),
                     StructField("group_rows", LongType, nullable = false),
                     StructField("rate_ppm", LongType, nullable = false))))
    df.join(broadcast(ratesDf), gKey === col(GroupKey))
      .where(bucket(col(idCol), seed) < col("rate_ppm"))
      .drop(GroupKey)
  }

  /** Per-group document cap — the diversity-capping curation move ("at most
    * N documents per domain/source"): within each group, rows are ranked by
    * the caller's deterministic preference order (quality desc, id asc, …)
    * and everything past `maxPerGroup` is dropped. The survivor set is a
    * pure function of the data — re-runs and incremental engines agree.
    *
    * Scale shape: the `row_number() <= k` filter plans as a PARTIAL
    * `WindowGroupLimit` BELOW the exchange (PlanSpec-pinned, like the ANN
    * top-k) — every map task prunes its slice of a group to `maxPerGroup`
    * rows before the shuffle, so a hot domain contributes at most
    * `maxPerGroup × mapTasks` rows to the wire instead of its full row
    * count. The final per-group rank is then a bounded sort. The rank is
    * emitted as `group_rank` (1-based) so downstream stages can
    * sub-sample further without re-ranking.
    *
    * The preference order must be total (tie-break on a unique id) or the
    * survivor SET is still deterministic only up to ties — the require on
    * callers is documented, not enforceable here. */
  def capPerGroup(df: DataFrame, groupCol: String, maxPerGroup: Int,
                  order: Seq[Column]): DataFrame = {
    require(maxPerGroup >= 1, s"maxPerGroup must be >= 1, got $maxPerGroup")
    require(order.nonEmpty, "need a deterministic preference order")
    require(!df.columns.contains("group_rank"),
      "capPerGroup emits column 'group_rank' but the input already has one")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(order: _*)
    df.withColumn("group_rank", row_number().over(w).cast("long"))
      .where(col("group_rank") <= maxPerGroup)
  }

  /** Token-budget epoch planner — the data-mixing step that turns a corpus
    * inventory into a training schedule: given per-row token counts, a
    * total token budget, and a temperature `alpha`, compute for each
    * source the temperature weight (`w_g ∝ avail_g^alpha`), its token
    * allocation from the budget, and the repeat factor ("epochs", in
    * millis) needed to fill that allocation from the available tokens —
    * capped at `maxEpochsMilli` (repeating data beyond a few epochs stops
    * helping, so a scarce source caps out and the plan reports the
    * shortfall implicitly via `planned_tokens < target_tokens`).
    *
    * Determinism contract (same as [[temperatureMixture]]): the weight sum
    * folds sequentially in UTF-8 byte order of the source names; alpha =
    * 0.5 uses IEEE-exact `sqrt`; everything after the two double divisions
    * is floored into integer space, and the epoch/planned arithmetic is
    * PURE integer (`1000·target DIV avail`, `avail·epochs DIV 1000`) so
    * the oracle reproduces every cell bit-exactly.
    *
    * Scale shape: ONE map-side-combinable aggregation over the corpus
    * (sum of a narrow token-count expression per source); the plan table
    * itself is #sources rows — a mixture config, not data. */
  def epochPlan(df: DataFrame, groupCol: String, tokenCount: Column,
                budgetTokens: Long, alpha: Double = 0.5,
                maxEpochsMilli: Long = 4000L): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0, 1], got $alpha")
    require(budgetTokens >= 0, s"budgetTokens must be >= 0, got $budgetTokens")
    require(maxEpochsMilli >= 1000L,
      s"maxEpochsMilli < 1000 would cap below one pass over the data")
    def w(c: Long): Double =
      if (alpha == 0.5) math.sqrt(c.toDouble)
      else if (alpha == 1.0) c.toDouble
      else math.pow(c.toDouble, alpha)
    val gKey = coalesce(col(groupCol).cast("string"), lit(NullDomain))
    val counts = df.groupBy(gKey.as(GroupKey))
      .agg(count(lit(1)).as("n"), sum(tokenCount.cast("long")).as("toks"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortWith((a, b) => java.util.Arrays.compareUnsigned(
        a._1.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b._1.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0)
    var s = 0.0
    counts.foreach { case (_, _, t) => s += w(t) } // sequential, name order
    val rows = counts.map { case (g, n, avail) =>
      val weightPpm = math.floor(w(avail) / s * 1000000.0).toLong
      val target = math.floor(budgetTokens.toDouble * w(avail) / s).toLong
      val epochsMilli =
        if (avail == 0L) 0L
        else math.min(maxEpochsMilli, Math.floorDiv(1000L * target, avail))
      val planned = Math.floorDiv(avail * epochsMilli, 1000L)
      org.apache.spark.sql.Row(g, n, avail, weightPpm, target, epochsMilli, planned)
    }
    val spark = df.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1),
      StructType(Seq(
        StructField(GroupKey, StringType, nullable = false),
        StructField("n_docs", LongType, nullable = false),
        StructField("avail_tokens", LongType, nullable = false),
        StructField("weight_ppm", LongType, nullable = false),
        StructField("target_tokens", LongType, nullable = false),
        StructField("epochs_milli", LongType, nullable = false),
        StructField("planned_tokens", LongType, nullable = false))))
      .withColumnRenamed(GroupKey, groupCol)
  }

  /** Deterministic training order — the reproducible global shuffle that
    * fixes the order documents are fed to training: `ord = xxhash64(id)`
    * is a pure function of row identity (re-runs, engines, and incremental
    * appends agree), and `shard` is the contiguous `ord`-range slice
    * (`floorDiv(ord, 2⁶⁴/nShards) + nShards/2`) so shard s holds exactly
    * the s-th slice of the global order — a trainer streams shards
    * sequentially and sorts only within its shard.
    *
    * Scale shape: `repartitionByRange(ord) + sortWithinPartitions` is the
    * distributed total order — a sampled RANGE exchange, never a
    * single-partition global sort (PlanSpec-pinned). The physical range
    * boundaries are sampled, so they approximate (not equal) the `shard`
    * cut points; `shard` is the logical contract, the exchange is the
    * physical one. Floor division is spelled out explicitly (`DIV` +
    * negative-remainder correction) because both engines' native integer
    * division truncates toward zero. */
  def deterministicOrder(df: DataFrame, idCol: String,
                         nShards: Int = 64, seed: Long = 0L): DataFrame = {
    require(nShards >= 2 && (nShards & (nShards - 1)) == 0 && nShards <= (1 << 20),
      s"nShards must be a power of two >= 2, got $nShards")
    Seq("ord", "shard").foreach(c => require(!df.columns.contains(c),
      s"deterministicOrder emits column '$c' but the input already has one"))
    val h = if (seed == 0L) xxhash64(col(idCol)) else xxhash64(lit(seed), col(idCol))
    val k = java.lang.Integer.numberOfTrailingZeros(nShards)
    val w = 1L << (64 - k) // exact: k >= 1 keeps the shift in range
    df.withColumn("ord", h)
      .withColumn("shard",
        expr(s"ord DIV ${w}L - (CASE WHEN ord % ${w}L < 0 THEN 1 ELSE 0 END)")
          + lit(nShards / 2))
      .repartitionByRange(nShards, col("ord"))
      .sortWithinPartitions("ord")
  }

  /** Source-interleaved deterministic training order: within each source
    * docs take a hash-shuffled rank, and the global order is
    * `(rank, source)` — round-robin across sources, so no contiguous run
    * of one source ever enters training (the batch-homogeneity failure
    * `deterministicOrder`'s plain global shuffle only makes unlikely,
    * this makes structural: position i and i+1 differ in source unless a
    * source is exhausted). Fully seed-reproducible.
    *
    * Scale shape: one window per source partition assigns ranks (state
    * bounded by the largest source); the GLOBAL position is then closed
    * form, not a global window (a single-partition row_number is the
    * classic total-order scale killer): rows before (r, s) =
    * Σ_{s'} min(c_{s'}, r−1) + |{s' < s : c_{s'} ≥ r}|, evaluated
    * row-locally over the broadcast per-source count list — integer
    * arithmetic, order-independent, no extra shuffle. */
  def interleaveBySource(df: DataFrame, idCol: String, srcCol: String,
                         seed: Long = 0L): DataFrame = {
    Seq("rank_in_source", "pos", "__src_counts").foreach(c =>
      require(!df.columns.contains(c),
        s"interleaveBySource emits column '$c' but the input already has one"))
    val h = if (seed == 0L) xxhash64(col(idCol))
            else xxhash64(lit(seed), col(idCol))
    val w = Window.partitionBy(col(srcCol)).orderBy(h, col(idCol))
    val counts = df.groupBy(col(srcCol).as("__s"))
      .agg(count(lit(1)).as("__c"))
      .agg(collect_list(struct(col("__s"), col("__c"))).as("__src_counts"))
    df.withColumn("rank_in_source", row_number().over(w).cast("long"))
      .crossJoin(broadcast(counts))
      .withColumn("pos", expr(
        s"""aggregate(__src_counts, CAST(1 AS BIGINT), (acc, x) ->
              acc + least(x.__c, rank_in_source - 1L) +
              CASE WHEN x.__s < $srcCol AND x.__c >= rank_in_source
                   THEN 1L ELSE 0L END)"""))
      .drop("__src_counts")
  }

  /** Sentinel domain name for NULL group values in `temperatureMixture`. */
  val NullDomain = "__graft_null__"

  /** Reserved internal join-key column name in `temperatureMixture`. */
  val GroupKey = "__graft_g"
}
