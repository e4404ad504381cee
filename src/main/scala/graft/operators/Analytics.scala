package graft.operators

import graft.util.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral analytics over event streams — the OLAP queries a pipeline
  * operator runs against the `events` firehose the reference ships around
  * (atiesh routes events; an analytics engine must also answer questions
  * about them): conversion funnels, cohort retention, and the
  * skew-resistant join shape those queries need at 100 TB.
  *
  * Determinism: every output is counts (exact), integer week/step indices,
  * or a single IEEE division of two exact longs — no order-dependent float
  * aggregation anywhere, so the DuckDB oracle matches bit-for-bit.
  */
object Analytics {

  /** Multi-step conversion funnel with first-touch semantics: a user
    * reaches step 1 at their EARLIEST `steps(0)` event; they reach step
    * i+1 at their earliest `steps(i+1)` event STRICTLY after their step-i
    * reach time (and within `windowMs` of it, when bounded). Earliest-
    * qualifying is the standard greedy funnel — it maximizes reach, since
    * any later step-i time only shrinks the step-i+1 candidate set.
    *
    * Output: `step` (1-based), `step_name`, `users`, `pct` (share of the
    * step-1 cohort). Scale shape: one shuffle of the (narrow) event
    * projection per step, ALL on the same `user_id` key — each stage is a
    * groupBy+join chain on the partitioning the previous stage already
    * produced, so at 1000 executors the funnel is k co-partitioned passes,
    * never a cross-user exchange. The per-step totals are a few rows.
    */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
             tsCol: String, steps: Seq[String],
             windowMs: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val ev = events.select(col(userCol).as("u"), col(typeCol).as("et"),
      col(tsCol).as("t"))
    var reach = ev.where(col("et") === steps.head)
      .groupBy("u").agg(min("t").as("t"))
    val stages = scala.collection.mutable.ArrayBuffer(
      reach.select(col("u"), lit(1).as("step"), lit(steps.head).as("step_name")))
    steps.zipWithIndex.drop(1).foreach { case (st, i) =>
      val prev = reach.select(col("u"), col("t").as("tp"))
      val bounded = windowMs.map(w => col("t") <= col("tp") + lit(w))
        .getOrElse(lit(true))
      reach = ev.where(col("et") === st)
        .join(prev, Seq("u"))
        .where(col("t") > col("tp") && bounded)
        .groupBy("u").agg(min("t").as("t"))
      stages += reach.select(col("u"), lit(i + 1).as("step"),
        lit(st).as("step_name"))
    }
    funnelSummary(stages.reduce(_.unionByName(_)))
  }

  /** Collapse per-user step-reach rows (`step`, `step_name`, one row per
    * user per step reached) to the funnel summary: users per step plus the
    * share of the step-1 cohort. Shared by the batch funnel and the
    * streaming twin ([[graft.streaming.FunnelStream]]), so both paths
    * aggregate identically. */
  def funnelSummary(reaches: DataFrame): DataFrame =
    reaches.groupBy("step", "step_name").agg(count(lit(1)).as("users"))
      .withColumn("pct", col("users").cast("double") /
        max(when(col("step") === 1, col("users")))
          .over(Window.partitionBy()).cast("double"))
      .orderBy("step")

  /** Cohort retention matrix: cohort = the user's first-activity bucket
    * (floor of epoch-ms over `bucketMs`), `offset` = how many buckets after
    * their cohort a user was active again, `active_users` = distinct users,
    * `rate` = share of the cohort (offset 0 is the cohort size by
    * construction — every user is active in their first bucket).
    *
    * Scale shape: first-seen is one groupBy on user; the activity join is
    * co-partitioned on the same key; the distinct collapses to
    * (cohort, offset, user) BEFORE the count shuffle so the final exchange
    * carries one row per user-bucket, not one per event.
    */
  def retention(events: DataFrame, userCol: String, tsCol: String,
                bucketMs: Long = 7L * 86400000L): DataFrame = {
    val ev = events.select(col(userCol).as("u"),
      expr(s"$tsCol DIV $bucketMs").as("wk"))
    val first = ev.groupBy("u").agg(min("wk").as("cohort"))
    ev.join(first, Seq("u"))
      .select(col("cohort"), (col("wk") - col("cohort")).as("offset"), col("u"))
      .distinct()
      .groupBy("cohort", "offset").agg(count(lit(1)).as("active_users"))
      .withColumn("cohort_size",
        max(when(col("offset") === 0, col("active_users")))
          .over(Window.partitionBy("cohort")))
      .withColumn("rate",
        col("active_users").cast("double") / col("cohort_size").cast("double"))
      .orderBy("cohort", "offset")
  }

  /** Robust per-group outlier detection via median absolute deviation:
    * a value is anomalous when |v - median_g(v)| > nMads · MAD_g, the
    * classic heavy-tail-safe alternative to z-scores (mean/stddev are
    * themselves dragged by the outliers they're meant to find, and their
    * float sums are order-dependent — median/MAD of exact longs are not,
    * which is what makes this gate-verifiable bit-for-bit).
    *
    * `valueCol` must be an exact integer column (e.g. money as cents).
    * Two grouped median passes + two co-partitioned joins, all on
    * `keyCol`. At 100 TB swap the exact `percentile` for
    * `approx_percentile` at the same shape — the exact form here is what
    * the oracle can replay. Output: input columns + `dev` + `mad`,
    * outliers only.
    *
    * EAGER/MATERIALIZING (round-16 ADVICE): this operator runs Spark jobs
    * at CALL time (`Materialize.result`; under the plan-inspection mode
    * `none` it returns the lazy plan over its persisted `dev`). The `dev`
    * table feeds two consumers, so an unpersisted lazy return would re-run
    * the caller's whole upstream per consumer — the 23-exchange plan this
    * fixed. Same contract holds for the per-round cuts inside
    * `markovStationary`, `Similarity.mmrTopK` and
    * `TextAnalysis.applySpanCorruption`. */
  def madOutliers(df: DataFrame, keyCol: String, valueCol: String,
                  nMads: Double = 5.0): DataFrame = Materialize.scope {
    val med = df.groupBy(col(keyCol))
      .agg(expr(s"percentile($valueCol, 0.5)").as("__med"))
    // `dev` feeds TWO consumers (the MAD aggregate and the final flag
    // join); unpersisted, the input pipeline and the median join re-run
    // per consumer — and `df` itself is often an aggregation the caller
    // built (events_seasonal_anomaly's residual table re-ran its whole
    // two-shuffle pipeline SIX times through this operator's subtrees:
    // 23 exchanges in one plan). The two median passes over `df` stay —
    // MAD needs the group median before deviations exist.
    val dev = Materialize.persist(df.join(med, Seq(keyCol))
      .withColumn("dev", abs(col(valueCol) - col("__med"))))
    val mad = dev.groupBy(col(keyCol))
      .agg(expr("percentile(dev, 0.5)").as("mad"))
    Materialize.result(dev.join(mad, Seq(keyCol))
      .where(col("dev") > lit(nMads) * col("mad"))
      .drop("__med"))
  }

  /** Per-user activity bitmaps + bit-trick retention — the roaring-bitmap
    * idea at its one-word core: a user's month of activity is ONE BIGINT
    * (bit d = active on day `day0 + d`), built by a `bit_or` aggregate
    * (map-side combinable, mergeable across shards/days like any
    * sketch). Day-over-day and week-over-week retention then cost a
    * shift-AND-popcount per USER ROW — `bit_count(mask & (mask >> o))`
    * counts exactly the day pairs (d, d+o) both active — instead of the
    * events-vs-events self-join the naive retention query does (compare
    * `events_retention`, which shuffles event pairs).
    *
    * One-word contract: the observed day span must fit 64 bits; day
    * indices ≥ 64 raise (fail-loud, never silent truncation). The 100 TB
    * variant is the same shape with a word-array column. `day0` (the
    * corpus-min day) rides a broadcast cross join. */
  def activityBitmap(events: DataFrame, userCol: String, tsMsCol: String,
                     offsets: Seq[Int] = Seq(1, 7)): DataFrame = {
    require(offsets.nonEmpty && offsets.forall(o => o >= 1 && o <= 62),
      s"offsets must be in [1, 62], got $offsets")
    val days = events.select(col(userCol).as("user_id"),
      expr(s"$tsMsCol DIV 86400000").as("day"))
    val base = days.agg(min(col("day")).as("day0"))
    // cap at bit 62: keeping the sign bit clear lets `>>` behave as the
    // unsigned shift the oracle's BIGINT `>>` is, with no edge case
    val idx = days.crossJoin(broadcast(base))
      .select(col("user_id"),
        when(col("day") - col("day0") <= 62L, col("day") - col("day0"))
          .otherwise(raise_error(lit(
            "activityBitmap: day span exceeds one 64-bit word"))).as("idx"))
    val masks = idx
      .select(col("user_id"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(idx AS INT))").as("bit"))
      .groupBy("user_id")
      .agg(expr("bit_or(bit)").as("mask"))
    offsets.foldLeft(
        masks.withColumn("n_active_days", bit_count(col("mask")).cast("long"))) {
      case (df, o) => df.withColumn(s"ret_days_$o",
        bit_count(col("mask").bitwiseAND(shiftright(col("mask"), o))).cast("long"))
    }
  }

  /** Mergeable fixed-bin histogram sketch with interpolated quantiles —
    * the STREAMING/scale path beside `q_quantiles`' exact percentiles:
    * exact grouped percentiles need the full value multiset per group on
    * one reducer, while equi-width bin counts are a pure map-side-
    * combinable aggregate (and trivially mergeable across shards, days,
    * or a streaming state store). Estimation error is bounded by
    * `width`, chosen by the caller from the domain.
    *
    * Quantile read-out: per group the cumulative bin counts locate, for
    * each q, the unique bin with `cum_before < q·n ≤ cum`; the estimate
    * interpolates linearly inside it. All arithmetic is integer bin
    * math plus a fixed sequence of IEEE exact-rounded ops — bit-equal
    * across engines (the lift/PageRank determinism discipline).
    *
    * Scale shape: stage 1 is groupBy(grp, bin) count — partial-agg
    * combining, key space = groups × occupied bins. Stage 2's window
    * sort runs over occupied BINS per group (bounded by the domain,
    * never by row count). The quantile explode multiplies only that
    * tiny bin relation. */
  def histogramQuantiles(df: DataFrame, groupCol: String, value: Column,
                         lo: Long, width: Long,
                         qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    require(width >= 1L, s"width must be >= 1, got $width")
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q < 1.0),
      s"quantiles must be in (0, 1), got $qs")
    // sign-correct floor division in pure integer ops (DIV truncates
    // toward zero; the negative branch corrects it to floor)
    quantilesFromBins(histogramBins(df, groupCol, value, lo, width),
      lo, width, qs)
  }

  /** Stage 1 of [[histogramQuantiles]]: the mergeable (grp, bin, cnt)
    * sketch itself — the relation a streaming state store or per-shard
    * rollup maintains (counts merge by addition). */
  def histogramBins(df: DataFrame, groupCol: String, value: Column,
                    lo: Long, width: Long): DataFrame = {
    require(width >= 1L, s"width must be >= 1, got $width")
    // sign-correct floor division in pure integer ops (DIV truncates
    // toward zero; the negative branch corrects it to floor)
    df.select(col(groupCol).as("grp"), value.as("v"))
      .withColumn("bin", expr(
        s"CASE WHEN v >= ${lo}L THEN (v - ${lo}L) DIV ${width}L " +
        s"ELSE -((${lo}L - v + ${width - 1}L) DIV ${width}L) END"))
      .groupBy("grp", "bin").agg(count(lit(1)).as("cnt"))
  }

  /** Stage 2 of [[histogramQuantiles]]: quantile read-out over an
    * already-built (grp, bin, cnt) sketch — shared by the batch path and
    * the streaming twin reading its state back from a sink. */
  def quantilesFromBins(bins: DataFrame, lo: Long, width: Long,
                        qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q < 1.0),
      s"quantiles must be in (0, 1), got $qs")
    val w = Window.partitionBy("grp").orderBy("bin")
    val cum = bins
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy("grp")))
    val qcol = explode(array(qs.map(lit): _*)).as("q")
    cum.select(col("grp"), col("bin"), col("cnt"), col("cum"), col("n"), qcol)
      .where(col("cum") >= col("q") * col("n") &&
             (col("cum") - col("cnt")) < col("q") * col("n"))
      .withColumn("est",
        (lit(lo) + col("bin") * width).cast("double") +
        (col("q") * col("n") - (col("cum") - col("cnt")).cast("double")) /
          col("cnt").cast("double") * width)
      .select(col("grp"), col("q"), col("est"), col("n"))
  }

  /** Skew-resistant inner equi-join: the build side is replicated across
    * `nSalts` copies and the probe side scattered by a deterministic
    * per-row salt, so a hot key's rows land on `nSalts` different tasks
    * instead of one straggler. The result set is exactly
    * `probe.join(build, key)` — salting only changes the partitioning.
    *
    * This is the manual shape for engines/configs without AQE skew
    * handling, and for build sides too large to broadcast but small enough
    * that ×nSalts replication beats one hot partition (the classic
    * fact-to-mid-size-dim case). The `shuffle_hash` hint pins the build
    * side out of both broadcast (what local test scale would pick) and
    * sort-merge (what 100 TB would pick — pointless sort, the salt already
    * bounds partition size).
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
                 nSalts: Int, saltSrc: Column): DataFrame = {
    require(nSalts >= 1, "nSalts must be >= 1")
    val p = probe.withColumn("__salt",
      pmod(saltSrc.cast("long"), lit(nSalts.toLong)).cast("int"))
    val b = build.withColumn("__salt",
      explode(sequence(lit(0), lit(nSalts - 1))))
    p.join(b.hint("shuffle_hash"), Seq(key, "__salt")).drop("__salt")
  }

  /** Winsorized (percentile-clamped) value report per group — the robust
    * preprocessing cut applied before value aggregates that a few fat-tail
    * rows would otherwise dominate. The clamp bounds are DISCRETE (type-1)
    * percentiles: the member at sorted index floor((n−1)·p) — a value the
    * group actually contains, so the bound, the clamp, and both sums stay
    * exact BIGINT end-to-end (an interpolated percentile would drag the
    * whole report into order-sensitive float summation). The single
    * `(n−1)·p` product and floor are IEEE exact-rounded — bit-equal
    * cross-engine.
    *
    * Scale shape: one hash exchange on the group key for the rank window
    * (slim (group, value) rows), the two-row-per-group bounds table rides
    * a broadcast back onto the same aggregation. Groups funnel one task
    * each — fine for the coarse group keys this targets (event types,
    * sources); salt first for a single-group corpus. */
  def winsorizedReport(df: DataFrame, groupCol: String, valueCol: String,
                       pLo: Double = 0.01, pHi: Double = 0.99): DataFrame = {
    require(pLo >= 0.0 && pHi <= 1.0 && pLo < pHi,
      s"need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    val wn = Window.partitionBy(col(groupCol))
    val ranked = df.select(col(groupCol), col(valueCol).cast("long").as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col("c"))).cast("long"))
      .withColumn("n", count(lit(1)).over(wn))
    val bounds = ranked
      .where(col("rn") - 1L === floor((col("n") - 1L) * lit(pLo)) ||
             col("rn") - 1L === floor((col("n") - 1L) * lit(pHi)))
      .groupBy(col(groupCol))
      .agg(min(col("c")).as("lo_c"), max(col("c")).as("hi_c"))
    df.select(col(groupCol), col(valueCol).cast("long").as("c"))
      .join(broadcast(bounds), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
           min(col("lo_c")).as("lo_c"), min(col("hi_c")).as("hi_c"),
           count_if(col("c") < col("lo_c")).as("n_clipped_lo"),
           count_if(col("c") > col("hi_c")).as("n_clipped_hi"),
           sum(col("c")).as("sum_raw_c"),
           sum(least(greatest(col("c"), col("lo_c")), col("hi_c")))
             .as("sum_winsor_c"))
  }

  /** Fixed-point Holt (double-exponential) smoothing over a per-group
    * time series — the level + trend state a volume-forecasting monitor
    * keeps per event type, and the third member of the anomaly family
    * (MAD = distributional outliers, z-score = pointwise spikes, Holt =
    * TREND-aware drift). alpha = beta = 1/2, so every smoothing step is
    * an integer halving:
    *
    *   l_1 = y_1·Q,  b_1 = 0
    *   l_t = (y_t·Q + l_{t−1} + b_{t−1}) >> 1
    *   b_t = (l_t − l_{t−1} + b_{t−1}) >> 1
    *
    * with Q = 2^20 fixed-point scale. `shiftright` is an ARITHMETIC
    * shift — floor division by 2 including on negative trend values —
    * matching DuckDB's `//` exactly (Spark's `DIV` truncates toward
    * zero and would diverge the moment a trend goes negative), so the
    * whole recurrence is bit-exact cross-engine.
    *
    * Scale shape: the bucket counting aggregate is map-side combinable;
    * the recurrence itself is inherently sequential PER GROUP, so each
    * group's series is assembled with sort_array(collect_list) and
    * folded in one pass — state is bounded by the series length (time
    * range / bucket width: ~10k rows per group-year at hourly buckets),
    * the standard bounded-state contract this engine documents for
    * per-group sequence folds. Groups fold in parallel. */
  def holtSmoothing(df: DataFrame, groupCol: String, bucketCol: String,
                    yCol: String, scaleBits: Int = 20): DataFrame = {
    require(scaleBits >= 0 && scaleBits <= 40,
      s"scaleBits must be in [0, 40], got $scaleBits")
    val q = 1L << scaleBits
    val series = df
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(
        col(bucketCol).cast("long").as("h"),
        col(yCol).cast("long").as("y")))).as("s"))
    def fld(acc: Column, e: Column): Column = {
      val first = acc.getField("i") === 0L
      val lNew = shiftright(e.getField("y") * q + acc.getField("l") +
                            acc.getField("b"), 1)
      val bNew = shiftright(lNew - acc.getField("l") + acc.getField("b"), 1)
      when(first, struct((e.getField("y") * q).as("l"), lit(0L).as("b"),
                         lit(1L).as("i")))
        .otherwise(struct(lNew.as("l"), bNew.as("b"),
                          (acc.getField("i") + 1L).as("i")))
    }
    val z = struct(lit(0L).as("l"), lit(0L).as("b"), lit(0L).as("i"))
    series
      .withColumn("st", aggregate(col("s"), z, fld))
      .select(col(groupCol),
              size(col("s")).cast("long").as("n_buckets"),
              col("st.l").as("level_fp"),
              col("st.b").as("trend_fp"),
              (col("st.l") + col("st.b")).as("forecast_fp"))
  }

  /** One-step-ahead backtest of [[holtSmoothing]] — "is the trend model
    * actually better than naive?": replays the same integer Holt
    * recurrence over each group's series, accumulating the absolute error
    * of the model's one-step forecast (`l + b` BEFORE seeing the bucket)
    * and of the naive last-value forecast, both at the same `2^scaleBits`
    * fixed point. A model report without an error column is a trap —
    * this is the column. Same determinism story as the smoother: pure
    * integer fold, bit-replayable cross-engine.
    *
    * Output per group: `n_buckets`, `holt_sae_fp`, `naive_sae_fp`
    * (sums of absolute one-step errors over buckets 2..n; divide by
    * `n_buckets − 1` for MAE). Same scale shape as [[holtSmoothing]]:
    * one combinable per-(group, bucket) count upstream, one per-group
    * sorted fold over a TIME-BOUNDED series. */
  def holtBacktest(df: DataFrame, groupCol: String, bucketCol: String,
                   yCol: String, scaleBits: Int = 20): DataFrame = {
    require(scaleBits >= 0 && scaleBits <= 40,
      s"scaleBits must be in [0, 40], got $scaleBits")
    val q = 1L << scaleBits
    val series = df
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(
        col(bucketCol).cast("long").as("h"),
        col(yCol).cast("long").as("y")))).as("s"))
    def fld(acc: Column, e: Column): Column = {
      val first = acc.getField("i") === 0L
      val y = e.getField("y")
      val f = acc.getField("l") + acc.getField("b")
      val err = abs(y * q - f)
      val nerr = abs(y - acc.getField("py")) * q
      val lNew = shiftright(y * q + acc.getField("l") + acc.getField("b"), 1)
      val bNew = shiftright(lNew - acc.getField("l") + acc.getField("b"), 1)
      when(first, struct((y * q).as("l"), lit(0L).as("b"), lit(1L).as("i"),
                         lit(0L).as("sae"), lit(0L).as("nsae"), y.as("py")))
        .otherwise(struct(lNew.as("l"), bNew.as("b"),
                          (acc.getField("i") + 1L).as("i"),
                          (acc.getField("sae") + err).as("sae"),
                          (acc.getField("nsae") + nerr).as("nsae"),
                          y.as("py")))
    }
    val z = struct(lit(0L).as("l"), lit(0L).as("b"), lit(0L).as("i"),
                   lit(0L).as("sae"), lit(0L).as("nsae"), lit(0L).as("py"))
    series
      .withColumn("st", aggregate(col("s"), z, fld))
      .select(col(groupCol),
              size(col("s")).cast("long").as("n_buckets"),
              col("st.sae").as("holt_sae_fp"),
              col("st.nsae").as("naive_sae_fp"))
  }

  /** Cohort lifetime-value matrix — the finance-facing companion to the
    * retention triangle: users are cohorted by first-seen time bucket
    * (default weekly), purchase revenue is rolled up per (cohort, age)
    * cell, and each cell carries the running cumulative revenue and
    * LTV-per-cohort-member in exact cents. Ages with no purchases are
    * simply absent (a sparse triangle); the cumulative at any present age
    * is still exact, because the missing cells contribute zero.
    *
    * All money stays BIGINT cents; `ltv_cents_per_user` is the truncating
    * `cum DIV cohort_size` (identical truncation in both engines).
    *
    * Scale shape: one combinable first-seen aggregate, one slim
    * user-keyed join of purchase rows against their cohort, one
    * combinable (cohort, age) rollup (the distinct buyer count is the
    * standard two-phase distinct aggregate), a per-cohort running-sum
    * window over the TIME-BOUNDED age axis, and a broadcast of the tiny
    * cohort-size table. */
  def cohortLtv(df: DataFrame, userCol: String, tsMsCol: String,
                typeCol: String, valueCentsCol: String, purchaseType: String,
                bucketMs: Long = 604800000L): DataFrame = {
    require(bucketMs > 0, s"bucketMs must be positive, got $bucketMs")
    val firstSeen = df.groupBy(col(userCol).as("u"))
      .agg(min(expr(s"$tsMsCol DIV $bucketMs")).as("cohort"))
    val sizes = firstSeen.groupBy("cohort")
      .agg(count(lit(1)).as("cohort_size"))
    val buys = df.where(col(typeCol) === purchaseType)
      .select(col(userCol).as("u"),
        expr(s"$tsMsCol DIV $bucketMs").as("bucket"),
        col(valueCentsCol).as("cents"))
    val byAge = buys.join(firstSeen, "u")
      .groupBy(col("cohort"), (col("bucket") - col("cohort")).as("age"))
      .agg(countDistinct(col("u")).as("n_buyers"),
           sum(col("cents")).as("revenue_cents"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byAge
      .withColumn("cum_revenue_cents",
        sum(col("revenue_cents")).over(w).cast("long"))
      .join(broadcast(sizes), "cohort")
      .select(col("cohort"), col("age"), col("cohort_size"), col("n_buyers"),
        col("revenue_cents"), col("cum_revenue_cents"),
        expr("cum_revenue_cents DIV cohort_size").as("ltv_cents_per_user"))
  }

  /** Deterministic A/B experiment report: users are assigned to variants
    * by a seeded hash of the user id (the industry-standard deterministic
    * bucketing — the same user always lands in the same arm, re-runs and
    * engines agree, no assignment table to store), then each arm gets the
    * conversion/revenue read-out plus a doubled Mann-Whitney rank-sum
    * statistic `u2` over per-user revenue — the nonparametric "did the
    * distribution shift" signal that a mean comparison misses under
    * heavy-tailed spend.
    *
    * `u2 = 2·U` with EXACT midrank tie handling, kept integer by the
    * doubling: a user's doubled midrank is `2·(#users with strictly
    * smaller revenue) + (#ties) + 1` — no halves, no floats, so the
    * statistic is bit-replayable cross-engine. Sanity invariant:
    * `u2_A + u2_B = 2·n_A·n_B`. (Normalizing to a z-score needs a sqrt —
    * left to the reader of the report, by the engine's no-libm rule.)
    *
    * Scale shape: one map-side-combinable per-user aggregate; midranks
    * come from a combinable count over DISTINCT revenue values plus the
    * standard two-pass distributed prefix sum (no single-task global
    * window), joined back on the slim (revenue) key; the final per-arm
    * rollup is one combinable aggregate. `Σ 2·midrank ≤ n(2n+1)` keeps
    * BIGINT to ~10^9 users (ANSI fails loudly beyond). */
  def abTestReport(df: DataFrame, userCol: String, typeCol: String,
                   valueCentsCol: String, conversionType: String,
                   seed: Long = 5L): DataFrame = Materialize.scope {
    val perUser = df.groupBy(col(userCol).as("u"))
      .agg(max(when(col(typeCol) === conversionType, 1L).otherwise(0L))
             .as("conv"),
           sum(when(col(typeCol) === conversionType, col(valueCentsCol))
             .otherwise(0L)).as("rev"))
      .withColumn("var", pmod(xxhash64(lit(seed), col("u")), lit(2L)))
    val grouped = perUser.groupBy(col("rev")).agg(count(lit(1)).as("g"))
    val offs = TextAnalysis.withPrefixOffsets(grouped, "rev", col("g"), "g")
    val ranks = Materialize.cut(
      offs.select(col("rev"), (lit(2L) * col("offset") + col("g") + 1L).as("r2")))
    Materialize.result(perUser.join(ranks, "rev")
      .groupBy(when(col("var") === 0L, "A").otherwise("B").as("variant"))
      .agg(count(lit(1)).as("n_users"),
           sum(col("conv")).as("n_conv"),
           sum(col("rev")).as("revenue_cents"),
           sum(col("r2")).as("r2"))
      .select(col("variant"), col("n_users"), col("n_conv"),
        expr("n_conv * 1000000 DIV n_users").as("conv_ppm"),
        col("revenue_cents"),
        expr("revenue_cents DIV n_users").as("arpu_cents"),
        (col("r2") - col("n_users") * (col("n_users") + 1L)).as("u2")))
  }

  /** Two-sided CUSUM changepoint detection over per-(group, bucket)
    * series — the drift detector [[madOutliers]] (point outliers) and
    * [[holtSmoothing]] (trend following) both miss: a SUSTAINED small
    * shift in volume accumulates in `S⁺ = max(0, S⁺ + y − target − slack)`
    * (and the mirrored `S⁻`) until it crosses the decision threshold, at
    * which point an alarm is counted and the accumulator resets (Page
    * 1954, the restart form). The target is the group's own series mean,
    * slack is `target DIV slackDiv`, and the threshold is one full target
    * unit — all at the `2^scaleBits` fixed point, so the fold is pure
    * integer and bit-replayable cross-engine.
    *
    * Output per group: `n_buckets`, `target_fp`, `n_up_alarms`,
    * `n_down_alarms`, `first_alarm_h` (bucket of the earliest alarm in
    * either direction; NULL when none), `max_sp_fp`, `max_sn_fp` (the
    * accumulator peaks — how close a quiet series came to alarming).
    *
    * Scale shape: same as the Holt family — one combinable (group,
    * bucket) count upstream, one combinable mean, one per-group sorted
    * fold over a TIME-BOUNDED series. */
  def cusumChangepoints(df: DataFrame, groupCol: String, bucketCol: String,
                        yCol: String, slackDiv: Long = 8L,
                        scaleBits: Int = 20,
                        fixedTargetFp: Option[Long] = None): DataFrame = {
    require(slackDiv >= 1L, s"slackDiv must be >= 1, got $slackDiv")
    require(scaleBits >= 0 && scaleBits <= 40,
      s"scaleBits must be in [0, 40], got $scaleBits")
    val q = 1L << scaleBits
    val series = df
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(
             col(bucketCol).cast("long").as("h"),
             col(yCol).cast("long").as("y")))).as("s"))
      // self-calibrating mode: integer mean at the fixed point, sum*q
      // DIV n (exact truncation). Deployed monitors pass fixedTargetFp —
      // a baseline from history — which also makes the fold streamable.
      .withColumn("target_fp", fixedTargetFp match {
        case Some(t) => lit(t)
        case None => expr(s"aggregate(s, 0L, (a, e) -> a + e.y) * $q DIV size(s)")
      })
    def fld(tgt: Column, slack: Column, h: Column)(acc: Column, e: Column): Column = {
      val yfp = e.getField("y") * q
      val spRaw = greatest(lit(0L),
        acc.getField("sp") + yfp - tgt - slack)
      val snRaw = greatest(lit(0L),
        acc.getField("sn") + tgt - slack - yfp)
      val upFire = spRaw > h
      val dnFire = snRaw > h
      val anyFire = upFire || dnFire
      struct(
        when(upFire, lit(0L)).otherwise(spRaw).as("sp"),
        when(dnFire, lit(0L)).otherwise(snRaw).as("sn"),
        (acc.getField("nup") + when(upFire, 1L).otherwise(0L)).as("nup"),
        (acc.getField("ndn") + when(dnFire, 1L).otherwise(0L)).as("ndn"),
        when(acc.getField("first") === -1L && anyFire, e.getField("h"))
          .otherwise(acc.getField("first")).as("first"),
        greatest(acc.getField("msp"), spRaw).as("msp"),
        greatest(acc.getField("msn"), snRaw).as("msn"))
    }
    val z = struct(lit(0L).as("sp"), lit(0L).as("sn"), lit(0L).as("nup"),
      lit(0L).as("ndn"), lit(-1L).as("first"), lit(0L).as("msp"),
      lit(0L).as("msn"))
    val slack = expr(s"target_fp DIV $slackDiv")
    series
      .withColumn("st", aggregate(col("s"), z,
        fld(col("target_fp"), slack, col("target_fp"))))
      .select(col(groupCol), size(col("s")).cast("long").as("n_buckets"),
        col("target_fp"),
        col("st.nup").as("n_up_alarms"), col("st.ndn").as("n_down_alarms"),
        when(col("st.first") === -1L, lit(null).cast("long"))
          .otherwise(col("st.first")).as("first_alarm_h"),
        col("st.msp").as("max_sp_fp"), col("st.msn").as("max_sn_fp"))
  }

  /** Stationary distribution of the first-order Markov chain defined by a
    * (from, to, count) transition table — "where does a user session
    * spend its time in the long run", the summary the raw transition
    * matrix doesn't directly give. Fixed-point power iteration, all
    * BIGINT: row-stochastic probabilities at `pScale`, the distribution
    * at `piScale`, per-step mass `pi * p DIV pScale` (bounded by
    * piScale·pScale = 10^18 < 2^63 — ANSI mode would fail loudly on an
    * overflow, not wrap). Integer sums are order-independent, so the
    * result is deterministic under any scheduling and replayable
    * cross-engine; truncation bleeds < n_states ulp of mass per round at
    * piScale 10^12 — invisible.
    *
    * The chain is closed over states WITH outgoing transitions (a
    * to-only state would silently leak mass each round instead of
    * redistributing it). Scale shape: the transition table is
    * O(|types|²) regardless of corpus size — the heavy stage is the
    * upstream transition COUNT (one sessionized window + combinable
    * aggregate, gated separately as `events_transitions`); the iteration
    * itself joins tiny tables a fixed `iters` times. */
  def markovStationary(transitions: DataFrame, fromCol: String, toCol: String,
                       cntCol: String, iters: Int = 8,
                       pScale: Long = 1000000L,
                       piScale: Long = 1000000000000L): DataFrame = Materialize.scope {
    require(iters >= 1 && iters <= 50, s"iters must be in [1, 50], got $iters")
    // cut the (#states²-row) transition counts ONCE: `tr` feeds three
    // independent subtrees (row totals, the state universe, the
    // probability table) and the caller's `transitions` is typically an
    // expensive aggregation (a session window over the event log) that
    // would otherwise re-run per subtree
    val tr = Materialize.cut(
      transitions.select(col(fromCol).as("f"), col(toCol).as("j"),
        col(cntCol).cast("long").as("c")))
    val tot = tr.groupBy("f").agg(sum(col("c")).as("t"))
    val states = tr.select(col("f").as("st")).distinct()
    val p = Materialize.persist(tr
      .join(states.withColumnRenamed("st", "j"), Seq("j"), "left_semi")
      .join(tot, "f")
      .select(col("f"), col("j"), expr(s"c * $pScale DIV t").as("p")))
    val n = states.agg(count(lit(1)).as("n"))
    var pi = states.crossJoin(broadcast(n))
      .select(col("st"), expr(s"CAST($piScale AS BIGINT) DIV n").as("pi"))
    for (_ <- 1 to iters) {
      pi = p.join(pi.withColumnRenamed("st", "f"), "f")
        .select(col("j"), expr(s"pi * p DIV $pScale").as("m"))
        .groupBy(col("j").as("st")).agg(sum(col("m")).as("pi"))
    }
    Materialize.result(pi.select(col("st"), col("pi")))
  }

  /** RFM (recency / frequency / monetary) segmentation — the classic
    * user-value report: per user, hours since last activity, event count,
    * and purchase revenue in exact cents, each scored 1..5 against FIXED
    * configured thresholds. Fixed cuts (not quantiles) are deliberate:
    * they make scores stable across runs and re-scorable incrementally at
    * 100 TB (a global quantile would need a full re-rank of every user on
    * every refresh, and its tie handling differs across engines).
    *
    * `rHourCuts`/`fCuts`/`mCuts` are 4 ascending thresholds each (the
    * 2..5 score boundaries); recency scores DOWN (smaller = better).
    *
    * Scale shape: one map-side-combinable per-user aggregate; the corpus
    * max timestamp rides a broadcast cross join (never a driver collect);
    * scoring is pure row-local integer arithmetic. */
  def rfmScores(events: DataFrame, userCol: String, tsMsCol: String,
                typeCol: String, valueCentsCol: String, purchaseType: String,
                rHourCuts: Seq[Long], fCuts: Seq[Long],
                mCuts: Seq[Long]): DataFrame = {
    def ascending(cuts: Seq[Long]) =
      cuts.size == 4 && cuts.zip(cuts.tail).forall { case (a, b) => a < b }
    require(ascending(rHourCuts) && ascending(fCuts) && ascending(mCuts),
      "each cut list must be 4 strictly ascending thresholds")
    def scoreUp(x: Column, cuts: Seq[Long]): Column =
      cuts.map(c => when(x >= c, 1L).otherwise(0L)).reduce(_ + _) + 1L
    def scoreDown(x: Column, cuts: Seq[Long]): Column =
      lit(5L) - cuts.map(c => when(x > c, 1L).otherwise(0L)).reduce(_ + _)
    val perUser = events.groupBy(col(userCol).as("user_id"))
      .agg(max(col(tsMsCol)).as("last_ms"),
           count(lit(1)).as("freq"),
           sum(when(col(typeCol) === purchaseType, col(valueCentsCol))
             .otherwise(lit(0L))).as("cents"))
    val maxTs = events.agg(max(col(tsMsCol)).as("corpus_max_ms"))
    perUser.crossJoin(broadcast(maxTs))
      .withColumn("r_hours",
        expr("(corpus_max_ms - last_ms) DIV 3600000"))
      .select(col("user_id"), col("r_hours"), col("freq"), col("cents"),
        scoreDown(col("r_hours"), rHourCuts).as("r_score"),
        scoreUp(col("freq"), fCuts).as("f_score"),
        scoreUp(col("cents"), mCuts).as("m_score"))
      .withColumn("segment",
        col("r_score") * 100L + col("f_score") * 10L + col("m_score"))
  }

  /** First-touch and last-touch conversion attribution: every conversion
    * event is credited to the first / most recent PRECEDING touch event
    * (e.g. click/view before a purchase) by the same user, and credit is
    * rolled up per touch type — the "which channel drives revenue" report.
    * Conversions with no prior touch are unattributable and dropped (the
    * report is about touches, and NULL rows would hash asymmetrically).
    *
    * The preceding-touch scan is `first/last(_, ignoreNulls)` over a
    * per-user ROWS window ordered by `orderCols` — callers must make that
    * ordering TOTAL within a user (e.g. timestamp + event id), because a
    * RANGE frame's peer-row order is engine-defined, which would break
    * determinism exactly on tied timestamps. `valueCentsCol` must be an
    * exact integer (money as cents) so credit sums are order-independent.
    *
    * Scale shape: ONE shuffle by user for the window (per-user history
    * sorts in parallel across partitions, the same hot-key caveat as any
    * per-key ordered scan — see [[Relational.asofJoin]]), then ONE
    * map-side-combinable aggregate whose key domain is the touch-type
    * vocabulary (tiny): each conversion explodes into a first-role and a
    * last-role row so both rollups come out of the same pass — no second
    * scan, no join. No bodies, no driver data. */
  def attribution(events: DataFrame, userCol: String, orderCols: Seq[String],
                  typeCol: String, valueCentsCol: String,
                  conversionType: String, touchTypes: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "attribution needs a total per-user order")
    require(touchTypes.nonEmpty, "attribution needs at least one touch type")
    val w = Window.partitionBy(col(userCol))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col(typeCol).isin(touchTypes: _*), col(typeCol))
    val conv = events
      .withColumn("__last", last(touch, ignoreNulls = true).over(w))
      .withColumn("__first", first(touch, ignoreNulls = true).over(w))
      .where(col(typeCol) === conversionType && col("__last").isNotNull)
    // ONE pass: exploding each conversion into a (first, role) and a
    // (last, role) row lets a single map-side-combinable aggregate build
    // both rollups — the naive two-groupBy + full-outer-join shape
    // re-scans and re-windows the whole input twice (PlanSpec pins this)
    val tall = conv.select(explode(array(
        struct(col("__first").as("touch_type"), lit(1L).as("is_first"),
               col(valueCentsCol).as("c")),
        struct(col("__last").as("touch_type"), lit(0L).as("is_first"),
               col(valueCentsCol).as("c")))).as("x"))
      .select(col("x.touch_type"), col("x.is_first"), col("x.c"))
    tall.groupBy("touch_type").agg(
      sum(col("is_first")).as("n_first"),
      sum(when(col("is_first") === 1L, col("c")).otherwise(lit(0L)))
        .as("cents_first"),
      sum(lit(1L) - col("is_first")).as("n_last"),
      sum(when(col("is_first") === 0L, col("c")).otherwise(lit(0L)))
        .as("cents_last"))
  }

  /** Market-basket association rules (Agrawal & Srikant 1994, the a-priori
    * pair pass): frequent item PAIRS over a (basket, item) relation, with
    * support / directional confidence / lift — the co-purchase signal a
    * recommender or assortment analysis reads off transactional data.
    *
    * Scale shape — the a-priori property IS the plan: an item pair can
    * only reach `minPairSupport` if both items alone do, so the basket
    * table is first semi-joined to the frequent-item list (one slim
    * (item, n) aggregate), and only then self-joined per basket. That
    * prune is what keeps the quadratic per-basket pair explosion bounded
    * by the frequent-item basket width, not the raw one. A second guard,
    * `maxBasketItems`, excludes pathological mega-baskets (a crawl cart,
    * a test account) from PAIR generation only — their unary counts still
    * contribute — the same documented skew-cap contract as the LSH bucket
    * caps in [[graft.operators.Dedup]]. Everything that shuffles is
    * (basket, item) longs; counts are map-side-combinable.
    *
    * Determinism: counts are exact BIGINTs; ratios are truncating integer
    * ppm. Lift is derived from the ALREADY-truncated confidence
    * (`conf_ab_ppm * n_baskets DIV n_b`) — one more truncation than the
    * textbook formula, but the naive `n_ab * n_baskets * 10^6` product
    * overflows BIGINT past ~3·10^6 baskets, while this form holds to
    * ~9·10^12 (documented bound: `n_baskets * 10^6 < 2^63`). Output is
    * the `topN` pairs by (n_ab DESC, item_a ASC, item_b ASC) — a total
    * order, so the cut is reproducible. */
  def basketRules(df: DataFrame, basketCol: String, itemCol: String,
                  minItemSupport: Long, minPairSupport: Long,
                  maxBasketItems: Int = 64, topN: Int = 100): DataFrame = {
    require(minItemSupport >= 1 && minPairSupport >= 1,
      "supports must be >= 1")
    require(maxBasketItems >= 2, s"maxBasketItems >= 2, got $maxBasketItems")
    require(topN >= 1, s"topN must be >= 1, got $topN")
    // the distinct basket relation feeds three consumers (item counts,
    // basket count, pair generation) and the frequent-item basket view
    // feeds BOTH sides of the self-join — cut each once
    // ([[graft.util.Materialize]]) or the dominant scan+distinct subtree
    // replans per reference (measured: the uncut plan computes fb twice)
    val baskets = Materialize.cut(df
      .select(col(basketCol).as("bk"), col(itemCol).as("it")).distinct())
    val itemN = baskets.groupBy("it").agg(count(lit(1)).as("n_item"))
    val freq = itemN.where(col("n_item") >= minItemSupport)
    val nBaskets = baskets.select(col("bk")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    // frequent-item view of each basket, mega-baskets capped OUT of pair
    // generation (width counted over frequent items only)
    val fb = Materialize.cut(baskets.join(freq, Seq("it"))
      .withColumn("__w", count(lit(1)).over(
        Window.partitionBy(col("bk"))))
      .where(col("__w") <= maxBasketItems)
      .select(col("bk"), col("it"), col("n_item")))
    val pairs = fb.as("a")
      .join(fb.as("b"), col("a.bk") === col("b.bk") &&
        col("a.it") < col("b.it"))
      .groupBy(col("a.it").as("item_a"), col("b.it").as("item_b"),
               col("a.n_item").as("n_a"), col("b.n_item").as("n_b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minPairSupport)
    pairs.crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("n_a"), col("n_b"),
        col("n_ab"),
        expr("n_ab * 1000000 DIV n_baskets").as("support_ppm"),
        expr("n_ab * 1000000 DIV n_a").as("conf_ab_ppm"),
        expr("n_ab * 1000000 DIV n_b").as("conf_ba_ppm"),
        expr("(n_ab * 1000000 DIV n_a) * n_baskets DIV n_b").as("lift_ppm"))
      .orderBy(col("n_ab").desc, col("item_a").asc, col("item_b").asc)
      .limit(topN)
  }
}
