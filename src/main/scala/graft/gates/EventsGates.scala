package graft.gates

import graft.OracleXX
import graft.operators.{Analytics, TextAnalysis}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import GateSupport._
import OracleCtes._

/** Behavioral-analytics gates over the event stream: funnels, retention,
  * sessions, anomaly and forecasting reports. */
object EventsGates {
  private val family = "events"

  val gates: Seq[GateQuery] = Seq(
    /** Conversion funnel signup → view → click → purchase, 7-day bound
      * between consecutive steps — first-touch semantics; see
      * [[graft.operators.Analytics.funnel]] for the co-partitioned per-step
      * chaining that keeps every stage on the `user_id` partitioning. */
    GateQuery("events_funnel", family,
      build = (s, dir) =>
        Analytics.funnel(events(s, dir), "user_id", "event_type", "ts_ms",
          Seq("signup", "view", "click", "purchase"),
          windowMs = Some(7L * 86400000L)),
      oracleSql = funnelOracle),
    /** Weekly cohort retention matrix over the event stream (cohort = first-
      * activity week, distinct-user activity per week offset). */
    GateQuery("events_retention", family,
      build = (s, dir) =>
        Analytics.retention(events(s, dir), "user_id", "ts_ms"),
      // weekly cohort retention; offset-0 actives ARE the cohort size
      oracleSql = """
      WITH ev AS (SELECT user_id AS u, epoch_ms(ts) // 604800000 AS wk
                  FROM events),
      f AS (SELECT u, min(wk) AS cohort FROM ev GROUP BY u),
      a AS (SELECT DISTINCT cohort, ev.wk - cohort AS "offset", ev.u
            FROM ev JOIN f ON ev.u = f.u),
      g AS (SELECT cohort, "offset", count(*)::BIGINT AS active_users
            FROM a GROUP BY 1, 2),
      sized AS (SELECT cohort, "offset", active_users,
                max(CASE WHEN "offset" = 0 THEN active_users END)
                  OVER (PARTITION BY cohort) AS cohort_size FROM g)
      SELECT cohort, "offset", active_users, cohort_size,
             active_users::DOUBLE / cohort_size::DOUBLE AS rate
      FROM sized ORDER BY cohort, "offset""""),
    /** MAD-based robust outliers on purchase values per event type
      * ([[graft.operators.Analytics.madOutliers]]): money canonicalized to
      * exact cents first, so both median passes are over longs and the
      * deviations replay bit-exactly in the oracle. */
    GateQuery("events_anomaly", family,
      build = (s, dir) =>
        Analytics.madOutliers(
            events(s, dir).select(col("event_id"), col("event_type"),
              cents(col("value")).as("value_cents")),
            "event_type", "value_cents", nMads = 3.0)
          .select("event_id", "event_type", "value_cents", "dev", "mad")
          .orderBy("event_id"),
      oracleSql = """
      WITH e AS (SELECT event_id, event_type,
                        (value::DECIMAL(18,2) * 100)::BIGINT AS value_cents
                 FROM events),
      med AS (SELECT event_type, quantile_cont(value_cents, 0.5) AS med
              FROM e GROUP BY 1),
      dev AS (SELECT e.event_id, e.event_type, e.value_cents,
                     abs(e.value_cents - m.med) AS dev
              FROM e JOIN med m USING (event_type)),
      mad AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
              FROM dev GROUP BY 1)
      SELECT d.event_id, d.event_type, d.value_cents, d.dev, m.mad
      FROM dev d JOIN mad m USING (event_type)
      WHERE d.dev > 3.0 * m.mad ORDER BY d.event_id"""),
    /** Trend-aware volume smoothing per event type
      * ([[graft.operators.Analytics.holtSmoothing]]): hourly counts folded
      * through the fixed-point Holt recurrence; the final level/trend state
      * plus the 1-step forecast, bit-exact vs the oracle's recursive-CTE
      * replay of the same integer recurrence. */
    GateQuery("events_holt", family,
      build = (s, dir) =>
        Analytics.holtSmoothing(
            events(s, dir)
              .groupBy(col("event_type"),
                       expr("ts_ms DIV 3600000").as("hour"))
              .agg(count(lit(1)).as("y")),
            "event_type", "hour", "y")
          .orderBy("event_type"),
      // the engine's shiftright(x, 1) is floor division by 2 — identical to
      // DuckDB's BIGINT `>> 1` on negatives too (its `//` TRUNCATES), so the
      // CTE replays the integer Holt recurrence bit-exactly
      oracleSql = """
      WITH RECURSIVE ev AS (
        SELECT event_type, epoch_ms(ts) // 3600000 AS h FROM events),
      cnt AS (SELECT event_type, h, count(*)::BIGINT AS y
              FROM ev GROUP BY 1, 2),
      idx AS MATERIALIZED (SELECT event_type, h, y,
                row_number() OVER (PARTITION BY event_type ORDER BY h) AS i
              FROM cnt),
      sm AS (
        SELECT event_type, i, (y * 1048576)::BIGINT AS l, 0::BIGINT AS b
        FROM idx WHERE i = 1
        UNION ALL
        SELECT n.event_type, n.i,
               ((n.y * 1048576 + s.l + s.b) >> 1)::BIGINT AS l,
               ((((n.y * 1048576 + s.l + s.b) >> 1) - s.l + s.b) >> 1)::BIGINT AS b
        FROM sm s JOIN idx n
          ON n.event_type = s.event_type AND n.i = s.i + 1),
      fin AS (SELECT event_type, max(i)::BIGINT AS n_buckets FROM sm GROUP BY 1)
      SELECT f.event_type AS event_type, f.n_buckets, s.l AS level_fp,
             s.b AS trend_fp, (s.l + s.b)::BIGINT AS forecast_fp
      FROM fin f JOIN sm s
        ON s.event_type = f.event_type AND s.i = f.n_buckets
      ORDER BY f.event_type"""),
    /** First/last-touch attribution: purchases credited to the preceding
      * click/view by the same user (total order: ts_ms, event_id), revenue
      * rolled up per touch channel in exact cents. */
    GateQuery("events_attribution", family,
      build = (s, dir) =>
        Analytics.attribution(
            events(s, dir).withColumn("value_cents", cents(col("value"))),
            "user_id", Seq("ts_ms", "event_id"), "event_type", "value_cents",
            conversionType = "purchase", touchTypes = Seq("click", "view"))
          .orderBy("touch_type"),
      // first/last preceding touch via IGNORE NULLS window scans over the
      // same (ts, event_id) total order; credit in exact cents; full outer
      // across the two rollups (a type can be first-touch yet never last)
      oracleSql = attributionOracle),
    /** RFM segmentation over the event log: per-user recency (hours since
      * corpus max), frequency, purchase cents, scored 1..5 against fixed
      * cuts drawn from the corpus quintiles. */
    GateQuery("events_rfm", family,
      build = (s, dir) =>
        Analytics.rfmScores(
            events(s, dir).withColumn("value_cents", cents(col("value"))),
            "user_id", "ts_ms", "event_type", "value_cents", "purchase",
            rHourCuts = Seq(2L, 5L, 8L, 16L),
            fCuts = Seq(59L, 64L, 69L, 74L),
            mCuts = Seq(46000L, 55000L, 64000L, 80000L))
          .orderBy("user_id"),
      // per-user aggregate + fixed-cut scoring; recency scores DOWN, the
      // corpus max rides a cross join exactly like the engine's broadcast
      oracleSql = """
      WITH u AS (
        SELECT user_id, max(epoch_ms(ts)) AS last_ms,
               count(*)::BIGINT AS freq,
               sum(CASE WHEN event_type = 'purchase'
                        THEN (value::DECIMAL(18,2) * 100)::BIGINT
                        ELSE 0 END)::BIGINT AS cents
        FROM events GROUP BY user_id),
      mx AS (SELECT max(epoch_ms(ts)) AS m FROM events),
      sc AS (
        SELECT user_id, ((m - last_ms) // 3600000)::BIGINT AS r_hours,
               freq, cents
        FROM u CROSS JOIN mx),
      s2 AS (
        SELECT user_id, r_hours, freq, cents,
               (5 - (CASE WHEN r_hours > 2 THEN 1 ELSE 0 END +
                     CASE WHEN r_hours > 5 THEN 1 ELSE 0 END +
                     CASE WHEN r_hours > 8 THEN 1 ELSE 0 END +
                     CASE WHEN r_hours > 16 THEN 1 ELSE 0 END))::BIGINT AS r_score,
               (1 + CASE WHEN freq >= 59 THEN 1 ELSE 0 END +
                    CASE WHEN freq >= 64 THEN 1 ELSE 0 END +
                    CASE WHEN freq >= 69 THEN 1 ELSE 0 END +
                    CASE WHEN freq >= 74 THEN 1 ELSE 0 END)::BIGINT AS f_score,
               (1 + CASE WHEN cents >= 46000 THEN 1 ELSE 0 END +
                    CASE WHEN cents >= 55000 THEN 1 ELSE 0 END +
                    CASE WHEN cents >= 64000 THEN 1 ELSE 0 END +
                    CASE WHEN cents >= 80000 THEN 1 ELSE 0 END)::BIGINT AS m_score
        FROM sc)
      SELECT user_id, r_hours, freq, cents, r_score, f_score, m_score,
             (r_score * 100 + f_score * 10 + m_score)::BIGINT AS segment
      FROM s2 ORDER BY user_id"""),
    /** Long-run session behavior: the stationary distribution of the
      * within-session transition chain (same counts as
      * `events_transitions`), 8 fixed-point power iterations. */
    GateQuery("events_markov", family,
      build = (s, dir) => {
        val w = Window.partitionBy("user_id", "session_seq")
          .orderBy("ts_ms", "event_id")
        val trans = sessionized(s, dir)
          .withColumn("from_type", lag("event_type", 1).over(w))
          .where(col("from_type").isNotNull)
          .groupBy(col("from_type"), col("event_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
        Analytics.markovStationary(trans, "from_type", "to_type", "n", iters = 8)
          .select(col("st").as("event_type"), col("pi").as("pi_fp"))
          .orderBy("event_type")
      },
      // p at 10^6, pi at 10^12, per-step mass (pi*p)//10^6 — * and // share
      // left-assoc precedence in both engines, so every intermediate matches
      oracleSql = s"""
      WITH s AS (
        SELECT user_id, event_id, event_type, epoch_ms(ts) AS t,
               CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                         OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
      seq AS (
        SELECT user_id, event_id, event_type, t,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM s),
      tr AS (
        SELECT lag(event_type) OVER (PARTITION BY user_id, session_seq
                 ORDER BY t, event_id) AS from_type,
               event_type AS to_type
        FROM seq),
      cnt AS (SELECT from_type, to_type, count(*)::BIGINT AS n FROM tr
              WHERE from_type IS NOT NULL GROUP BY 1, 2),
      tot AS (SELECT from_type, sum(n)::BIGINT AS t FROM cnt GROUP BY 1),
      sts AS (SELECT DISTINCT from_type AS st FROM cnt),
      p AS MATERIALIZED (
        SELECT c.from_type AS f, c.to_type AS j,
               (c.n * 1000000 // t.t)::BIGINT AS p
        FROM cnt c JOIN tot t ON t.from_type = c.from_type
        WHERE c.to_type IN (SELECT st FROM sts)),
      nn AS (SELECT count(*)::BIGINT AS n FROM sts),
      pi0 AS (SELECT st, (1000000000000 // n)::BIGINT AS pi
              FROM sts CROSS JOIN nn),
      ${(1 to 8).map(r => s"""
      pi$r AS (SELECT j AS st, sum(pi * p // 1000000)::BIGINT AS pi
               FROM p JOIN pi${r - 1} ON pi${r - 1}.st = p.f
               GROUP BY j)""").mkString(",")}
      SELECT st AS event_type, pi AS pi_fp FROM pi8 ORDER BY event_type"""),
    /** Seasonally-adjusted volume anomalies: hourly counts are first
      * de-seasonalized against the per-(type, hour-of-day) integer-mean
      * profile, then MAD-flagged on the RESIDUALS — the detector that
      * catches a quiet-hour spike a raw-volume MAD would call normal and
      * skips the daily peak it would false-alarm on. Composition of two
      * existing shapes (the `events_hourly_profile` rollup and
      * [[Analytics.madOutliers]]); two combinable aggregates plus the
      * type-keyed median windows, all on slim (type, hour, count) rows. */
    GateQuery("events_seasonal_anomaly", family,
      build = (s, dir) => {
        val hourly = events(s, dir)
          .groupBy(col("event_type"), expr("ts_ms DIV 3600000").as("hour"))
          .agg(count(lit(1)).as("y"))
          .withColumn("hod", pmod(col("hour"), lit(24L)))
        val expected = hourly.groupBy("event_type", "hod")
          .agg(expr("sum(y) DIV count(*)").as("mu"))
        // cut the residual table ONCE: madOutliers consumes its input via
        // several subtrees (median, deviation join), and the uncut residual
        // pipeline (scan + two aggregates + join) re-ran per subtree — the
        // 23-exchange plan the round-16 audit flagged
        val resid = graft.util.Materialize.cut(
          hourly.join(expected, Seq("event_type", "hod"))
            .select(col("event_type"), col("hour"), col("y"), col("mu"),
              (col("y") - col("mu")).as("resid")))
        val flagged = Analytics.madOutliers(resid, "event_type", "resid", nMads = 3.0)
        graft.util.Materialize.releaseNow(resid) // madOutliers is eager — resid is dead
        flagged
          .select("event_type", "hour", "y", "mu", "resid", "dev", "mad")
          .orderBy("event_type", "hour")
      },
      // MAD outliers: medians over exact cents (quantile_cont ≡ Spark's
      // percentile: same 1+(n-1)p linear interpolation), so dev/mad doubles
      // derive from identical arithmetic on both engines
      // de-seasonalized residual MAD: same profile rollup + MAD shapes
      oracleSql = """
      WITH h AS (SELECT event_type, epoch_ms(ts) // 3600000 AS hour,
                        count(*)::BIGINT AS y
                 FROM events GROUP BY 1, 2),
      hp AS (SELECT *, ((hour % 24) + 24) % 24 AS hod FROM h),
      ex AS (SELECT event_type, hod,
                    (sum(y)::BIGINT // count(*))::BIGINT AS mu
             FROM hp GROUP BY 1, 2),
      rs AS (SELECT p.event_type, p.hour, p.y, x.mu,
                    (p.y - x.mu)::BIGINT AS resid
             FROM hp p JOIN ex x USING (event_type, hod)),
      med AS (SELECT event_type, quantile_cont(resid, 0.5) AS med
              FROM rs GROUP BY 1),
      dv AS (SELECT r.*, abs(r.resid - m.med) AS dev
             FROM rs r JOIN med m USING (event_type)),
      md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
             FROM dv GROUP BY 1)
      SELECT d.event_type, d.hour, d.y, d.mu, d.resid, d.dev, m.mad
      FROM dv d JOIN md m USING (event_type)
      WHERE d.dev > 3.0 * m.mad ORDER BY event_type, hour"""),
    /** Frequent sequential patterns (clickstream trigrams with support) —
      * the order-k extension of the bigram `events_transitions` family:
      * which 3-step behavior paths recur across each user's full event
      * sequence, support-filtered (the gate corpus's sessions cap at 3
      * events, so session-scoped trigrams are vacuous there — user-scoped
      * paths are the meaningful mining unit). One user-keyed window shuffle
      * (the same key every events query partitions by) and a map-side-
      * combinable count; the pattern key space is |event types|^3, tiny at
      * any corpus scale. */
    GateQuery("events_seq_patterns", family,
      build = (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
        events(s, dir)
          .withColumn("e2", lead("event_type", 1).over(w))
          .withColumn("e3", lead("event_type", 2).over(w))
          .where(col("e2").isNotNull && col("e3").isNotNull)
          .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
          .agg(count(lit(1)).as("n"))
          .where(col("n") >= 20L)
          .orderBy(col("n").desc, col("e1").asc, col("e2").asc, col("e3").asc)
      },
      // trigrams via two leads over each user's (t, event_id) total
      // order, exact counts, support >= 20
      oracleSql = """
      WITH tg AS (
        SELECT event_type AS e1,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id))
      SELECT e1, e2, e3, count(*)::BIGINT AS n
      FROM tg WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      GROUP BY 1, 2, 3 HAVING count(*) >= 20
      ORDER BY n DESC, e1, e2, e3"""),
    /** One-step-ahead Holt backtest vs the naive last-value forecast, over
      * the same per-(type, hour) counts as `events_holt` — the error column
      * that tells whether the trend model earns its keep. */
    GateQuery("events_forecast_eval", family,
      build = (s, dir) =>
        Analytics.holtBacktest(
            events(s, dir)
              .groupBy(col("event_type"),
                       expr("ts_ms DIV 3600000").as("hour"))
              .agg(count(lit(1)).as("y")),
            "event_type", "hour", "y")
          .orderBy("event_type"),
      // same recurrence with error accumulators: one-step forecast l+b is
      // read BEFORE folding the bucket in; naive error uses the carried
      // previous value — both at the identical 2^20 fixed point
      oracleSql = """
      WITH RECURSIVE ev AS (
        SELECT event_type, epoch_ms(ts) // 3600000 AS h FROM events),
      cnt AS (SELECT event_type, h, count(*)::BIGINT AS y
              FROM ev GROUP BY 1, 2),
      idx AS MATERIALIZED (SELECT event_type, h, y,
                row_number() OVER (PARTITION BY event_type ORDER BY h) AS i
              FROM cnt),
      sm AS (
        SELECT event_type, i, (y * 1048576)::BIGINT AS l, 0::BIGINT AS b,
               0::BIGINT AS sae, 0::BIGINT AS nsae, y AS py
        FROM idx WHERE i = 1
        UNION ALL
        SELECT n.event_type, n.i,
               ((n.y * 1048576 + s.l + s.b) >> 1)::BIGINT AS l,
               ((((n.y * 1048576 + s.l + s.b) >> 1) - s.l + s.b) >> 1)::BIGINT AS b,
               (s.sae + abs(n.y * 1048576 - (s.l + s.b)))::BIGINT AS sae,
               (s.nsae + abs(n.y - s.py) * 1048576)::BIGINT AS nsae,
               n.y AS py
        FROM sm s JOIN idx n
          ON n.event_type = s.event_type AND n.i = s.i + 1),
      fin AS (SELECT event_type, max(i)::BIGINT AS n_buckets FROM sm GROUP BY 1)
      SELECT f.event_type AS event_type, f.n_buckets,
             s.sae AS holt_sae_fp, s.nsae AS naive_sae_fp
      FROM fin f JOIN sm s
        ON s.event_type = f.event_type AND s.i = f.n_buckets
      ORDER BY f.event_type"""),
    /** Deterministic A/B report over hash-assigned arms: conversion and
      * revenue per variant plus the doubled Mann-Whitney rank-sum `u2`
      * (exact integer midranks) over per-user purchase revenue. */
    GateQuery("events_ab_test", family,
      build = (s, dir) =>
        Analytics.abTestReport(
            events(s, dir).withColumn("value_cents", cents(col("value"))),
            "user_id", "event_type", "value_cents", "purchase")
          .orderBy("variant"),
      // hash-assigned arms; doubled midrank = 2*(strictly-less count) +
      // ties + 1 via one ordered window over DISTINCT revenue values;
      // u2 = sum(r2) - n(n+1)
      oracleSql = {
        import org.apache.spark.sql.catalyst.expressions.XXH64
        val s5 = java.lang.Long.toUnsignedString(XXH64.hashLong(5L, 42L))
        s"""
      WITH u AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS conv,
               sum(CASE WHEN event_type = 'purchase'
                        THEN (value::DECIMAL(18,2) * 100)::BIGINT
                        ELSE 0 END)::BIGINT AS rev
        FROM events GROUP BY user_id),
      v AS (SELECT user_id, conv, rev,
              ${OracleXX.xxh64LongPmod("user_id", 2L, seed = s5)} AS var
            FROM u),
      g AS (SELECT rev, count(*)::BIGINT AS g FROM v GROUP BY rev),
      rk AS (SELECT rev,
               (2 * coalesce(sum(g) OVER (ORDER BY rev
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + g + 1)::BIGINT AS r2
             FROM g),
      j AS (SELECT v.var, v.conv, v.rev, rk.r2 FROM v JOIN rk USING (rev))
      SELECT CASE WHEN var = 0 THEN 'A' ELSE 'B' END AS variant,
             count(*)::BIGINT AS n_users, sum(conv)::BIGINT AS n_conv,
             (sum(conv) * 1000000 // count(*))::BIGINT AS conv_ppm,
             sum(rev)::BIGINT AS revenue_cents,
             (sum(rev) // count(*))::BIGINT AS arpu_cents,
             (sum(r2) - count(*) * (count(*) + 1))::BIGINT AS u2
      FROM j GROUP BY 1 ORDER BY variant"""
      }),
    /** Weekly cohort LTV triangle: purchase revenue per (first-seen cohort,
      * age) cell with running cumulative cents and LTV per cohort member. */
    GateQuery("events_cohort_ltv", family,
      build = (s, dir) =>
        Analytics.cohortLtv(
            events(s, dir).withColumn("value_cents", cents(col("value"))),
            "user_id", "ts_ms", "event_type", "value_cents", "purchase")
          .orderBy("cohort", "age"),
      // first-seen weekly cohorts, sparse (cohort, age) revenue cells,
      // per-cohort running sum; // and DIV truncate identically
      oracleSql = cohortLtvOracleSql),
    /** Two-sided CUSUM drift detection over the same per-(type, hour)
      * counts as `events_holt`: sustained volume shifts accumulate to
      * alarms; pure integer fold vs the recursive-CTE replay. */
    GateQuery("events_cusum", family,
      build = (s, dir) =>
        Analytics.cusumChangepoints(
            events(s, dir)
              .groupBy(col("event_type"),
                       expr("ts_ms DIV 3600000").as("hour"))
              .agg(count(lit(1)).as("y")),
            "event_type", "hour", "y")
          .orderBy("event_type"),
      oracleSql = cusumOracleSql("sum(y) * 1048576 // count(*)")),
    /** Batch sessionization with per-session stats: sessions split on 30-min
      * inactivity gaps (same rule as `stream_sessionize`, which only counts
      * them); one ordered window pass per user assigns the running session
      * sequence, then a co-partitioned aggregate emits start/end/duration/
      * event mix per session. Deterministic ordering ties break on event_id. */
    GateQuery("events_sessions", family,
      build = (s, dir) =>
        sessionized(s, dir)
          .groupBy("user_id", "session_seq")
          .agg(min("ts_ms").as("start_ms"), max("ts_ms").as("end_ms"),
               (max("ts_ms") - min("ts_ms")).as("duration_ms"),
               count(lit(1)).as("n_events"),
               sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
                 .as("n_purchases"))
          .orderBy("user_id", "session_seq"),
      // batch sessionization: same 30-min gap rule as stream_sessionize,
      // per-session stats; ties in the ordered window break on event_id
      oracleSql = """
      WITH s AS (
        SELECT user_id, event_id, event_type, epoch_ms(ts) AS t,
               CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                         OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
      seq AS (
        SELECT user_id, event_type, t,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS UNBOUNDED PRECEDING)::BIGINT AS session_seq
        FROM s)
      SELECT user_id, session_seq, min(t) AS start_ms, max(t) AS end_ms,
             (max(t) - min(t))::BIGINT AS duration_ms,
             count(*)::BIGINT AS n_events,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
               AS n_purchases
      FROM seq GROUP BY user_id, session_seq
      ORDER BY user_id, session_seq"""),
    /** Within-session behavior-path transitions (the Markov matrix product
      * analytics builds "users go view → click → purchase" funnels from):
      * ordered lag inside each (user, session), transition counts, and each
      * source state's outgoing probability. The lag window rides the SAME
      * user-key shuffle as sessionization. */
    GateQuery("events_transitions", family,
      build = (s, dir) => {
        val w = Window.partitionBy("user_id", "session_seq")
          .orderBy("ts_ms", "event_id")
        val trans = sessionized(s, dir)
          .withColumn("from_type", lag("event_type", 1).over(w))
          .where(col("from_type").isNotNull)
          .groupBy(col("from_type"), col("event_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
        trans.withColumn("p",
            col("n").cast("double") /
              sum("n").over(Window.partitionBy("from_type")).cast("double"))
          .orderBy("from_type", "to_type")
      },
      oracleSql = """
      WITH s AS (
        SELECT user_id, event_id, event_type, epoch_ms(ts) AS t,
               CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                         OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
      seq AS (
        SELECT user_id, event_id, event_type, t,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM s),
      tr AS (
        SELECT lag(event_type) OVER (PARTITION BY user_id, session_seq
                 ORDER BY t, event_id) AS from_type,
               event_type AS to_type
        FROM seq),
      cnt AS (SELECT from_type, to_type, count(*)::BIGINT AS n FROM tr
              WHERE from_type IS NOT NULL GROUP BY 1, 2)
      SELECT from_type, to_type, n,
             n::DOUBLE / (sum(n) OVER (PARTITION BY from_type))::DOUBLE AS p
      FROM cnt ORDER BY from_type, to_type"""),
    /** Session path mining: top within-session event-type TRIGRAMS — the
      * sequence patterns the pairwise transition matrix cannot see
      * (view→click→purchase vs view→click→view tell different stories
      * with identical bigram counts). Two lag() reads on the session
      * window the sessionization already paid for, then one count
      * aggregate over slim type-triple rows; top-20 via
      * TakeOrderedAndProject. */
    GateQuery("events_paths", family,
      build = (s, dir) => {
        val w = Window.partitionBy("user_id", "session_seq")
          .orderBy("ts_ms", "event_id")
        sessionized(s, dir)
          .withColumn("t1", lag("event_type", 2).over(w))
          .withColumn("t2", lag("event_type", 1).over(w))
          .where(col("t1").isNotNull)
          .groupBy(col("t1"), col("t2"), col("event_type").as("t3"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
          .limit(20)
      },
      // within-session transition matrix over the same session assignment
      // same sessionization chain, two lags -> within-session trigrams
      oracleSql = """
      WITH s AS (
        SELECT user_id, event_id, event_type, epoch_ms(ts) AS t,
               CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                         OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
      seq AS (
        SELECT user_id, event_id, event_type, t,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM s),
      tg AS (
        SELECT lag(event_type, 2) OVER w2 AS t1,
               lag(event_type, 1) OVER w2 AS t2,
               event_type AS t3
        FROM seq
        WINDOW w2 AS (PARTITION BY user_id, session_seq ORDER BY t, event_id))
      SELECT t1, t2, t3, count(*)::BIGINT AS n FROM tg
      WHERE t1 IS NOT NULL GROUP BY 1, 2, 3
      ORDER BY n DESC, t1, t2, t3 LIMIT 20"""),
    /** Churn cohorts over the fixed 30-day window: users bucketed by
      * which half of the window they were active in — `retained` (both),
      * `churned` (first half only), `new` (second half only) — plus each
      * bucket's event volume. Two distinct-collapsed activity flags per
      * user, one aggregate; no event-pair joins. */
    GateQuery("events_churn", family,
      build = (s, dir) => {
        val ev = events(s, dir)
        // churn on the RARE signal (high-value purchases): the dense overall
        // stream has every user active in both halves — a one-cohort report
        val sig = ev.where(col("event_type") === "purchase" && col("value") > 100)
        val base = sig.crossJoin(broadcast(ev.agg(min(expr("ts_ms DIV 86400000"))
          .as("day0"))))
        val flags = base
          .withColumn("idx", expr("ts_ms DIV 86400000") - col("day0"))
          .groupBy("user_id")
          .agg(max(when(col("idx") < 15, 1L).otherwise(0L)).as("h1"),
               max(when(col("idx") >= 15, 1L).otherwise(0L)).as("h2"),
               count(lit(1)).as("n_events"))
        flags.withColumn("cohort",
            when(col("h1") === 1 && col("h2") === 1, "retained")
              .when(col("h1") === 1, "churned")
              .otherwise("new"))
          .groupBy("cohort")
          .agg(count(lit(1)).as("n_users"), sum(col("n_events")).as("n_events"))
          .orderBy("cohort")
      },
      oracleSql = """
      WITH m AS (SELECT min(epoch_ms(ts) // 86400000) AS day0 FROM events),
      d AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events
            WHERE event_type = 'purchase' AND value > 100),
      f AS (SELECT user_id,
              max(CASE WHEN day - (SELECT day0 FROM m) < 15 THEN 1 ELSE 0 END)::BIGINT AS h1,
              max(CASE WHEN day - (SELECT day0 FROM m) >= 15 THEN 1 ELSE 0 END)::BIGINT AS h2,
              count(*)::BIGINT AS n_events
            FROM d GROUP BY 1)
      SELECT CASE WHEN h1 = 1 AND h2 = 1 THEN 'retained'
                  WHEN h1 = 1 THEN 'churned' ELSE 'new' END AS cohort,
             count(*)::BIGINT AS n_users, sum(n_events)::BIGINT AS n_events
      FROM f GROUP BY 1 ORDER BY cohort"""),
    /** Daily/28-day active users and the DAU/MAU stickiness ratio. The
      * distinct (day, user) collapse happens BEFORE any join; the trailing
      * window is a broadcast non-equi join against the tiny day dimension
      * (one row per day — always broadcastable regardless of corpus size). */
    GateQuery("events_dau_mau", family,
      build = (s, dir) => {
        val pairs = events(s, dir)
          .select(expr("ts_ms DIV 86400000").as("day"), col("user_id"))
          .distinct()
        val days = pairs.select(col("day").as("d")).distinct()
        val dau = pairs.groupBy("day").agg(count(lit(1)).as("dau"))
        val mau = pairs.join(broadcast(days),
            col("day") >= col("d") - 27 && col("day") <= col("d"))
          .groupBy(col("d").as("day")).agg(countDistinct(col("user_id")).as("mau"))
        dau.join(mau, "day")
          .withColumn("stickiness", col("dau").cast("double") / col("mau").cast("double"))
          .orderBy("day")
      },
      // DAU / trailing-28-day MAU / stickiness; the day dimension is always
      // one row per day, so the trailing window is a broadcast range join
      oracleSql = """
      WITH p AS (SELECT DISTINCT epoch_ms(ts) // 86400000 AS day, user_id
                 FROM events),
      d AS (SELECT DISTINCT day AS d FROM p),
      dau AS (SELECT day, count(*)::BIGINT AS dau FROM p GROUP BY 1),
      mau AS (SELECT d.d AS day, count(DISTINCT p.user_id)::BIGINT AS mau
              FROM d JOIN p ON p.day BETWEEN d.d - 27 AND d.d GROUP BY 1)
      SELECT day, dau.dau, mau.mau,
             dau.dau::DOUBLE / mau.mau::DOUBLE AS stickiness
      FROM dau JOIN mau USING (day) ORDER BY day"""),
    /** Per-day top-3 spenders — time-sliced top-k, the leaderboard query.
      * WindowGroupLimit prunes each day's candidates before the rank
      * exchange; spend is exact cents. */
    GateQuery("events_windowed_topk", family,
      build = (s, dir) => {
        val spend = events(s, dir)
          .where(col("event_type") === "purchase")
          .groupBy(expr("ts_ms DIV 86400000").as("day"), col("user_id"))
          .agg(sum(cents(col("value"))).as("spend_c"))
        val w = Window.partitionBy("day")
          .orderBy(col("spend_c").desc, col("user_id").asc)
        spend.withColumn("rank", row_number().over(w))
          .where(col("rank") <= 3)
          .select(col("day"), col("user_id"), col("spend_c"),
                  col("rank").cast("int").as("rank"))
          .orderBy("day", "rank")
      },
      // per-day purchase-spend leaderboard, exact cents
      oracleSql = """
      WITH s AS (
        SELECT epoch_ms(ts) // 86400000 AS day, user_id,
               sum((value::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS spend_c
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      r AS (
        SELECT day, user_id, spend_c,
               row_number() OVER (PARTITION BY day
                 ORDER BY spend_c DESC, user_id ASC) AS rank
        FROM s)
      SELECT day, user_id, spend_c, rank::INT AS rank FROM r
      WHERE rank <= 3 ORDER BY day, rank"""),
    GateQuery("events_value_histogram", family,
      build = (s, dir) =>
        Analytics.histogramQuantiles(events(s, dir), "event_type",
            cents(col("value")), lo = 0L, width = 1000L)
          .withColumnRenamed("grp", "event_type")
          .orderBy("event_type", "q"),
      oracleSql = valueHistogramOracle),
    GateQuery("events_activity_bitmap", family,
      build = (s, dir) =>
        Analytics.activityBitmap(events(s, dir), "user_id", "ts_ms")
          .orderBy("user_id"),
      // bit_or the day bits, then shift-AND-popcount — same one-word bit
      // trick as Analytics.activityBitmap
      oracleSql = """
      WITH d AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
      b AS (SELECT user_id, (day - (SELECT min(day) FROM d))::INT AS idx FROM d),
      m AS (SELECT user_id, bit_or(1::BIGINT << idx) AS mask FROM b GROUP BY 1)
      SELECT user_id, mask,
             bit_count(mask)::BIGINT AS n_active_days,
             bit_count(mask & (mask >> 1))::BIGINT AS ret_days_1,
             bit_count(mask & (mask >> 7))::BIGINT AS ret_days_7
      FROM m ORDER BY user_id"""),
    /** HLL DAU — the sketch form of the exact `events_dau_mau` rollup: one
      * 2^p-byte register buffer per day answers "distinct users that day"
      * at any event volume, and buffers from different corpus partitions
      * (or days, for MAU-style unions) merge by element-wise max. Exact
      * overlay rides beside the estimate like every sketch gate row. */
    GateQuery("events_dau_hll", family,
      build = (s, dir) => {
        val ev = events(s, dir).select(expr("ts_ms DIV 86400000").as("day"),
          xxhash64(col("user_id")).as("__h"))
        val regs = ev.groupBy("day")
          .agg(graft.functions.Sketches.hllRegisters(col("__h"), 8).as("regs"))
        val exact = ev.groupBy("day").agg(countDistinct(col("__h")).as("n_exact"))
        TextAnalysis.hllReport(regs, exact, p = 8, Seq("day")).orderBy("day")
      },
      oracleSql = OracleXX.hllDauOracle(p = 8)),
    /** Hour-of-day activity profile per event type — the time-profile
      * report; pure integer bucket arithmetic. */
    GateQuery("events_hourly_profile", family,
      build = (s, dir) =>
        events(s, dir)
          .groupBy(expr("(ts_ms DIV 3600000) % 24").as("hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("share", col("n").cast("double") /
            sum("n").over(Window.partitionBy("event_type")).cast("double"))
          .orderBy("hour", "event_type"),
      oracleSql = """
      WITH c AS (
        SELECT (epoch_ms(ts) // 3600000) % 24 AS hour, event_type,
               count(*)::BIGINT AS n
        FROM events GROUP BY 1, 2)
      SELECT hour, event_type, n,
             n::DOUBLE / (sum(n) OVER (PARTITION BY event_type))::DOUBLE AS share
      FROM c ORDER BY hour, event_type"""),
    GateQuery("events_winsorized", family,
      build = (s, dir) =>
        Analytics.winsorizedReport(
            events(s, dir).select(col("event_type"),
              cents(col("value")).as("value_cents")),
            "event_type", "value_cents")
          .orderBy("event_type"),
      // discrete type-1 percentile bounds (a member value -> all-BIGINT
      // clamp and sums); floor((n-1)*p) is one exact-rounded product
      oracleSql = """
      WITH v AS (SELECT event_type,
               (value::DECIMAL(18,2) * 100)::BIGINT AS c FROM events),
      r AS (SELECT event_type, c,
              row_number() OVER (PARTITION BY event_type ORDER BY c) AS rn,
              count(*) OVER (PARTITION BY event_type) AS n FROM v),
      b AS (SELECT event_type, min(c) AS lo_c, max(c) AS hi_c FROM r
            WHERE rn - 1 = floor((n - 1) * 0.01::DOUBLE)::BIGINT
               OR rn - 1 = floor((n - 1) * 0.99::DOUBLE)::BIGINT
            GROUP BY 1)
      SELECT v.event_type AS event_type, count(*)::BIGINT AS n,
             min(lo_c) AS lo_c, min(hi_c) AS hi_c,
             sum(CASE WHEN c < lo_c THEN 1 ELSE 0 END)::BIGINT AS n_clipped_lo,
             sum(CASE WHEN c > hi_c THEN 1 ELSE 0 END)::BIGINT AS n_clipped_hi,
             sum(c)::BIGINT AS sum_raw_c,
             sum(least(greatest(c, lo_c), hi_c))::BIGINT AS sum_winsor_c
      FROM v JOIN b ON v.event_type = b.event_type
      GROUP BY 1 ORDER BY 1"""),
    GateQuery("events_json", family,
      build = (s, dir) =>
        t(s, dir, "events").select(
            col("event_id"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .orderBy("event_id"),
      oracleSql = """
      SELECT event_id, json_extract_string(props, '$.k')::BIGINT AS k
      FROM events ORDER BY event_id"""),
    /** Corrupt-record handling: ~1/7 of the JSON payloads are deterministically
      * truncated (closing brace dropped), and the parse must degrade per-row
      * to NULL + a malformed flag — never fail the job. At 100 TB corrupt
      * records are a certainty; the pipeline contract is row-level
      * quarantine, not job-level crash. */
    GateQuery("events_json_malformed", family,
      build = (s, dir) => {
        val doctored = when(pmod(col("event_id"), lit(7)) === 0,
            expr("substring(props, 1, length(props) - 1)"))
          .otherwise(col("props"))
        t(s, dir, "events").select(
            col("event_id"),
            get_json_object(doctored, "$.k").cast("long").as("k"))
          .withColumn("malformed", col("k").isNull)
          .orderBy("event_id")
      },
      oracleSql = """
      WITH d AS (
        SELECT event_id,
               CASE WHEN event_id % 7 = 0
                    THEN substr(props, 1, length(props) - 1)
                    ELSE props END AS p
        FROM events)
      SELECT event_id,
             CASE WHEN json_valid(p)
                  THEN json_extract_string(p, '$.k')::BIGINT
                  ELSE NULL END AS k,
             (CASE WHEN json_valid(p)
                   THEN json_extract_string(p, '$.k')
                   ELSE NULL END) IS NULL AS malformed
      FROM d ORDER BY event_id""")
  )

  /** Events with their running `session_seq` (30-min-gap rule, ties on
    * event_id) — the shared prefix of `events_sessions` and
    * `events_transitions`. One user-key shuffle, both window passes on it. */
  private def sessionized(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    events(s, dir)
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ms").isNull ||
             col("ts_ms") - col("prev_ms") > 1800000L, 1L).otherwise(0L))
      .withColumn("session_seq", sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }
}
