package graft.gates

import graft.streaming.{EpochIngest, IndexKind, IngestOutput, Streams}
import graft.OracleXX
import graft.operators.{Analytics, Multimodal, Similarity, TextAnalysis}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import GateSupport._
import OracleCtes._

/** Streaming-semantics gates: batch twins of the streaming operators, and
  * the live twins, which stage their input as file-stream micro-batches,
  * run the real streaming engine to completion and read the sink back,
  * gated against the same oracle as their batch form. */
object StreamGates {
  private val family = "stream"

  val gates: Seq[GateQuery] = Seq(
    GateQuery("stream_hour_window", family,
      build = (s, dir) =>
        events(s, dir)
          .groupBy((expr("ts_ms DIV 3600000") * 3600000L).as("hour_ms"),
                   col("event_type"))
          .agg(count(lit(1)).as("n"),
               sum(cents(col("value"))).as("sum_value_c"))
          .orderBy("hour_ms", "event_type"),
      oracleSql = """
      SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
             count(*)::BIGINT AS n,
             sum((value::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS sum_value_c
      FROM events GROUP BY 1, 2 ORDER BY hour_ms, event_type"""),
    GateQuery("stream_sessionize", family,
      build = (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        events(s, dir)
          .withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
          .withColumn("new_session",
            when(col("prev_ms").isNull ||
                 col("ts_ms") - col("prev_ms") > 1800000L, 1L).otherwise(0L))
          .groupBy("user_id")
          .agg(sum("new_session").as("n_sessions"), count(lit(1)).as("n_events"))
          .orderBy("user_id")
      },
      oracleSql = """
      WITH g AS (
        SELECT user_id,
               CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                         OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                    THEN 1 ELSE 0 END AS new_session
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, sum(new_session)::BIGINT AS n_sessions,
             count(*)::BIGINT AS n_events
      FROM g GROUP BY user_id ORDER BY user_id"""),
    /** Native `session_window` sessionization run LIVE: the event stream
      * arrives as three micro-batches (data, then two far-future sentinel
      * rows whose only job is to push the watermark past every real session
      * so append mode flushes them — the sentinel's own open session never
      * emits and is filtered besides), gap-merged session state under the
      * streaming store, then a per-user rollup of the emitted sessions.
      *
      * Session semantics pinned by the oracle: Spark merges an event into a
      * session iff it lands STRICTLY inside `last + gap` — a gap of exactly
      * 30 min SPLITS (oracle replays `diff >= gap` breaks; note the batch
      * `stream_sessionize` report splits on `diff > gap` — the two
      * definitions genuinely differ at the boundary and each gate row pins
      * its own). `active_ms` = last-first per session, summed per user
      * (derived from window bounds: end - start - gap). */
    GateQuery("stream_session_window", family,
      build = (s0, dir) => {
        val s = streamSession(s0)
        val work = graft.util.TempDirs.create("graft-stream-sesswin")
        val ev = events(s, dir).select(col("user_id"), col("ts_ms"))
        val maxMs = ev.agg(max("ts_ms")).head().getLong(0)
        import s.implicits._
        val incoming = stagedStream(s, work, Seq(ev,
          Seq((-1L, maxMs + 10000000L)).toDF(ev.columns: _*),
          Seq((-2L, maxMs + 20000000L)).toDF(ev.columns: _*)))
        val sessions = incoming
          .withColumn("ts", timestamp_millis(col("ts_ms")))
          .withWatermark("ts", "0 seconds")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
        runToCompletion(sessions
          .select(col("user_id"), col("n_events"),
            (unix_millis(col("session_window.end")) -
             unix_millis(col("session_window.start")) - 1800000L).as("active")),
          work)
          .where(col("user_id") >= 0)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"),
               sum("active").as("active_ms"))
          .orderBy("user_id")
      },
      // session_window twin: break at diff >= gap (Spark merges only a
      // STRICT overlap; exactly-gap splits), active = last-first per session
      oracleSql = """
      WITH o AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ms,
               lag(epoch_ms(ts)) OVER w AS prev
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      g AS (SELECT user_id, event_id, ms,
              CASE WHEN prev IS NULL OR ms - prev >= 1800000
                   THEN 1 ELSE 0 END AS brk
            FROM o),
      sid AS (SELECT user_id, ms,
                sum(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM g),
      sess AS (SELECT user_id, sid, count(*)::BIGINT AS n_events,
                 (max(ms) - min(ms))::BIGINT AS active
               FROM sid GROUP BY 1, 2)
      SELECT user_id, count(*)::BIGINT AS n_sessions,
             sum(n_events)::BIGINT AS n_events,
             sum(active)::BIGINT AS active_ms
      FROM sess GROUP BY user_id ORDER BY user_id"""),
    GateQuery("stream_dedup_events", family,
      build = (s, dir) =>
        t(s, dir, "events")
          .groupBy("user_id", "event_type")
          .agg(min("event_id").as("first_event_id"), count(lit(1)).as("n"))
          .orderBy("user_id", "event_type"),
      oracleSql = """
      SELECT user_id, event_type, min(event_id) AS first_event_id,
             count(*)::BIGINT AS n
      FROM events GROUP BY 1, 2 ORDER BY user_id, event_type"""),
    GateQuery("stream_interval_join", family,
      build = intervalJoin("inner", "purchase_id", "view_id"),
      oracleSql = """
      SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
             (epoch_ms(p.ts) - epoch_ms(v.ts))::BIGINT AS gap_ms
      FROM events p JOIN events v ON p.user_id = v.user_id
      WHERE p.event_type = 'purchase' AND v.event_type = 'view'
        AND epoch_ms(v.ts) >= epoch_ms(p.ts) - 1800000
        AND epoch_ms(v.ts) < epoch_ms(p.ts)
      ORDER BY purchase_id, view_id"""),
    /** Left-outer variant: every purchase appears; those with no preceding
      * view in the interval carry NULL view columns. In the live engine the
      * NULL-padded rows flush when the watermark passes each row's join
      * window (spec-driven); in batch they appear immediately. */
    GateQuery("stream_interval_join_left", family,
      build = intervalJoin("left_outer", "purchase_id", "view_id"),
      oracleSql = """
      SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
             (epoch_ms(p.ts) - epoch_ms(v.ts))::BIGINT AS gap_ms
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        ON p.user_id = v.user_id
        AND epoch_ms(v.ts) >= epoch_ms(p.ts) - 1800000
        AND epoch_ms(v.ts) < epoch_ms(p.ts)
      ORDER BY purchase_id, view_id"""),
    /** Full-outer variant: every purchase AND every view appears; unmatched
      * rows on either side carry NULLs for the other side's columns (the
      * key survives via the coalesce in `intervalJoin`). In the live engine
      * both sides' NULL-padded rows flush as the watermark passes their join
      * windows (spec-driven in PipelineStreamingSpec); in batch immediately. */
    GateQuery("stream_interval_join_full", family,
      build = intervalJoin("full_outer", "user_id", "purchase_id", "view_id"),
      oracleSql = """
      SELECT coalesce(p.user_id, v.user_id) AS user_id,
             p.event_id AS purchase_id, v.event_id AS view_id,
             (epoch_ms(p.ts) - epoch_ms(v.ts))::BIGINT AS gap_ms
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      FULL JOIN (SELECT * FROM events WHERE event_type = 'view') v
        ON p.user_id = v.user_id
        AND epoch_ms(v.ts) >= epoch_ms(p.ts) - 1800000
        AND epoch_ms(v.ts) < epoch_ms(p.ts)
      ORDER BY user_id, purchase_id, view_id"""),
    /** Right-outer variant: every view appears; views attributable to no
      * purchase in the interval carry NULL purchase columns. Completes the
      * gate coverage of the four interval-join types (inner/left/full have
      * rows already); live flush semantics spec'd in PipelineStreamingSpec. */
    GateQuery("stream_interval_join_right", family,
      build = intervalJoin("right_outer", "user_id", "view_id", "purchase_id"),
      oracleSql = """
      SELECT v.user_id AS user_id,
             p.event_id AS purchase_id, v.event_id AS view_id,
             (epoch_ms(p.ts) - epoch_ms(v.ts))::BIGINT AS gap_ms
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      RIGHT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        ON p.user_id = v.user_id
        AND epoch_ms(v.ts) >= epoch_ms(p.ts) - 1800000
        AND epoch_ms(v.ts) < epoch_ms(p.ts)
      ORDER BY user_id, view_id, purchase_id"""),
    /** The streaming funnel driven LIVE under the gate: the event projection
      * arrives as a file stream (one data batch, then two far-future sentinel
      * events whose only job is to push the watermark past every user's
      * quiesce timeout and trigger the timed-out state replay in a following
      * batch), per-user state buffers and replays via
      * [[graft.streaming.FunnelStream]], and the emitted reach rows aggregate
      * through the SAME `Analytics.funnelSummary` as the batch funnel — gated
      * against the identical oracle as `events_funnel`, proving
      * batch/streaming parity for order-sensitive stateful analytics. */
    GateQuery("stream_funnel", family,
      build = (s0, dir) => {
        val s = streamSession(s0)
        val steps = Seq("signup", "view", "click", "purchase")
        val work = graft.util.TempDirs.create("graft-stream-funnel")
        val ev = events(s, dir).select(col("user_id"), col("event_type"),
          col("ts_ms"))
        val maxMs = ev.agg(max("ts_ms")).head().getLong(0)
        import s.implicits._
        val incoming = stagedStream(s, work, Seq(ev,
          Seq((-1L, steps.head, maxMs + 10000000L)).toDF(ev.columns: _*),
          Seq((-2L, steps.head, maxMs + 20000000L)).toDF(ev.columns: _*)))
        val reaches = graft.streaming.FunnelStream.reaches(incoming, steps,
          windowMs = Some(7L * 86400000L), quiesceMs = 1000L)
        Analytics.funnelSummary(
          runToCompletion(reaches.toDF(), work).where(col("user_id") >= 0)
            .select("step", "step_name"))
      },
      // funnel: greedy first-touch chaining — each step's reach time is the
      // earliest qualifying event strictly after the previous step's, ≤7d
      // later; a zero-reach step yields no row in both engines.
      // stream_funnel drives the LIVE stateful streaming path over the same
      // events and must land on the identical summary — same oracle.
      oracleSql = funnelOracle),
    /** LIVE stream-static enrichment — the canonical streaming dimension
      * join: the events stream (file source, one file per micro-batch)
      * joined to the static `customer` dimension. The static side is
      * broadcast into every micro-batch — stream-static joins are
      * STATELESS in Structured Streaming (no watermark, no join state),
      * which is exactly why the enrich-then-sink shape scales to
      * unbounded streams. The sink is read back and rolled up per
      * (segment, event_type) so the gate row set is compact; the oracle
      * is the equivalent batch join + aggregate. */
    GateQuery("stream_static_join", family,
      build = (s0, dir) => {
        val s = streamSession(s0)
        val work = graft.util.TempDirs.create("graft-stream-static")
        val ev = events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), cents(col("value")).as("value_c"))
        val incoming = stagedStream(s, work,
          (0 to 2).map(i => ev.where(pmod(col("event_id"), lit(3)) === i)))
        val dim = broadcast(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")))
        runToCompletion(incoming.join(dim, col("user_id") === col("c_custkey"))
          .select("event_id", "c_mktsegment", "event_type", "value_c"), work)
          .groupBy("c_mktsegment", "event_type")
          .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_value_c"))
          .orderBy("c_mktsegment", "event_type")
      },
      oracleSql = """
      SELECT c_mktsegment, event_type, count(*)::BIGINT AS n,
             sum((value::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS sum_value_c
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY 1, 2 ORDER BY c_mktsegment, event_type"""),
    /** LIVE streaming twin of `events_value_histogram`: the (grp, bin)
      * count sketch IS the streaming state — a complete-mode aggregation
      * whose per-micro-batch merge is exactly the sketch's count addition —
      * and the quantile read-out runs batch-side over the final state from
      * the memory sink. Same bin math, same oracle as the batch path. */
    GateQuery("stream_value_histogram", family,
      build = (s0, dir) => {
        val s = streamSession(s0)
        val work = graft.util.TempDirs.create("graft-stream-hist")
        val ev = events(s, dir).select(col("event_id"), col("event_type"),
          cents(col("value")).as("value_c"))
        val incoming = stagedStream(s, work,
          (0 to 2).map(i => ev.where(pmod(col("event_id"), lit(3)) === i)))
        val bins = runToCompletion(
          Analytics.histogramBins(incoming, "event_type", col("value_c"),
            lo = 0L, width = 1000L),
          work, memoryTable = Some(s"graft_shist_${layoutTag(dir)}"))
        Analytics.quantilesFromBins(bins, lo = 0L, width = 1000L)
          .withColumnRenamed("grp", "event_type")
          .orderBy("event_type", "q")
      },
      // the streaming twin's state is the same bin sketch -> same replica
      oracleSql = valueHistogramOracle),
    /** LIVE CDC-style streaming upsert — the foreachBatch MERGE pattern:
      * each micro-batch of purchase events merges into a keyed state
      * table (latest record per user by (ts, event_id)), written as a new
      * state version and atomically adopted — the read-side never sees a
      * half-written merge, and the argmax is a lexicographic struct max
      * (the bestOfCluster discipline), so arrival order across batches
      * cannot change the result. The 100 TB shape is the same merge
      * against a bucketed state table with partition-level rewrites; the
      * versioned-directory swap here is the single-box stand-in. */
    GateQuery("stream_upsert", family,
      build = (s0, dir) => {
        val s = streamSession(s0)
        val work = graft.util.TempDirs.create("graft-stream-upsert")
        val ev = events(s, dir).where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts_ms"),
                  cents(col("value")).as("value_c"))
        val incoming = stagedStream(s, work,
          (0 to 2).map(i => ev.where(pmod(col("event_id"), lit(3)) === i)))
        val statePath = new java.util.concurrent.atomic.AtomicReference[String](null)
        val q = Streams.start(incoming)(_
          .option("checkpointLocation", work.resolve("ck").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
            val ss = batch.sparkSession
            // state rows project back to record shape before the merge union
            val merged = Option(statePath.get())
              .map(p => ss.read.parquet(p).select(
                  col("last_event_id").as("event_id"), col("user_id"),
                  col("last_ts_ms").as("ts_ms"),
                  col("last_value_c").as("value_c"))
                .unionByName(batch.toDF()))
              .getOrElse(batch.toDF())
            val best = merged.groupBy("user_id")
              .agg(max(struct(col("ts_ms"), col("event_id"), col("value_c")))
                .as("b"))
              .select(col("user_id"), col("b.ts_ms").as("last_ts_ms"),
                      col("b.event_id").as("last_event_id"),
                      col("b.value_c").as("last_value_c"))
            val next = work.resolve(s"state_$bid").toString
            best.write.mode("overwrite").parquet(next)
            statePath.set(next)
            ()
          })
        q.awaitTermination()
        s.read.parquet(statePath.get())
          .orderBy("user_id")
      },
      // latest purchase per user by (ts, event_id) — the CDC merge result
      oracleSql = """
      WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
                        (value::DECIMAL(18,2) * 100)::BIGINT AS value_c
                 FROM events WHERE event_type = 'purchase'),
      r AS (SELECT user_id, ts_ms AS last_ts_ms, event_id AS last_event_id,
                   value_c AS last_value_c,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY ts_ms DESC, event_id DESC) AS rn
            FROM p)
      SELECT user_id, last_ts_ms, last_event_id, last_value_c
      FROM r WHERE rn = 1 ORDER BY user_id"""),
    /** LIVE streaming attribution — time-sliced ingestion (three
      * micro-batches in event-time order), per-user first/last-touch state
      * carried across batches via `flatMapGroupsWithState`
      * ([[graft.streaming.Attribution]]), conversions credited as they
      * arrive, the credit stream sunk to parquet and rolled up into the
      * SAME report as `events_attribution` — gated against the identical
      * oracle, proving batch/streaming parity for the stateful fold. */
    GateQuery("stream_attribution", family,
      build = (s0, dir) => {
        val s = streamSession(s0)
        import s.implicits._
        val work = graft.util.TempDirs.create("graft-stream-attr")
        val ev = events(s, dir).select(col("user_id"), col("event_id"),
          col("ts_ms"), col("event_type"), cents(col("value")).as("value_cents"))
        val incoming = stagedStream(s, work, timeSlices(ev))
        val credits = incoming.as[graft.streaming.Attribution.In]
          .groupByKey(_.user_id)
          .flatMapGroupsWithState(
            org.apache.spark.sql.streaming.OutputMode.Append(),
            org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())(
            graft.streaming.Attribution.creditsPerGroup(
              Set("click", "view"), "purchase"))
        val em = runToCompletion(credits.toDF(), work)
        val byFirst = em.groupBy(col("first_touch").as("touch_type"))
          .agg(count(lit(1)).as("n_first"), sum(col("cents")).as("cents_first"))
        val byLast = em.groupBy(col("last_touch").as("touch_type"))
          .agg(count(lit(1)).as("n_last"), sum(col("cents")).as("cents_last"))
        byFirst.join(byLast, Seq("touch_type"), "full_outer")
          .select(col("touch_type"),
            coalesce(col("n_first"), lit(0L)).as("n_first"),
            coalesce(col("cents_first"), lit(0L)).as("cents_first"),
            coalesce(col("n_last"), lit(0L)).as("n_last"),
            coalesce(col("cents_last"), lit(0L)).as("cents_last"))
          .orderBy("touch_type")
      },
      // the LIVE stateful fold must reproduce the batch report bit-exactly
      oracleSql = attributionOracle),
    /** Live cohort-LTV twin: first-seen cohorts carried as per-user state
      * across time-sliced micro-batches, purchases emitted against the
      * carried cohort, then rolled into the SAME triangle as the batch
      * operator — gated against the identical oracle (batch/stream parity). */
    GateQuery("stream_cohort_ltv", family,
      build = (s0, dir) => {
        val s = streamSession(s0)
        import s.implicits._
        val wk = 604800000L
        val work = graft.util.TempDirs.create("graft-stream-ltv")
        val ev = events(s, dir).select(col("user_id"), col("event_id"),
          col("ts_ms"), col("event_type"), cents(col("value")).as("value_cents"))
        val incoming = stagedStream(s, work, timeSlices(ev))
        val emits = incoming.as[graft.streaming.CohortLtv.In]
          .groupByKey(_.user_id)
          .flatMapGroupsWithState(
            org.apache.spark.sql.streaming.OutputMode.Append(),
            org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())(
            graft.streaming.CohortLtv.perGroup("purchase", wk))
        val em = runToCompletion(emits.toDF(), work)
        val sizes = em.where(col("kind") === "new")
          .groupBy("cohort").agg(count(lit(1)).as("cohort_size"))
        val byAge = em.where(col("kind") === "buy")
          .groupBy(col("cohort"), (col("bucket") - col("cohort")).as("age"))
          .agg(countDistinct(col("user_id")).as("n_buyers"),
               sum(col("cents")).as("revenue_cents"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("cohort")).orderBy(col("age"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        byAge
          .withColumn("cum_revenue_cents",
            sum(col("revenue_cents")).over(w).cast("long"))
          .join(broadcast(sizes), "cohort")
          .select(col("cohort"), col("age"), col("cohort_size"), col("n_buyers"),
            col("revenue_cents"), col("cum_revenue_cents"),
            expr("cum_revenue_cents DIV cohort_size").as("ltv_cents_per_user"))
          .orderBy("cohort", "age")
      },
      // live twin gated against the SAME triangle oracle as the batch op
      oracleSql = cohortLtvOracleSql),
    /** Live CUSUM monitor twin: accumulators carried as per-type state
      * across time-sliced (hour-aligned) micro-batches against a fixed
      * 3-events/hour baseline; gated against the recursive-CTE oracle with
      * the same constant target (batch/stream parity, deployed form). */
    GateQuery("stream_cusum", family,
      build = (s0, dir) => {
        val s = streamSession(s0)
        import s.implicits._
        val targetFp = 3145728L // 3 events/hour at the 2^20 fixed point
        val work = graft.util.TempDirs.create("graft-stream-cusum")
        val incoming = stagedStream(s, work, timeSlices(events(s, dir)).map(
          _.select(col("event_type").as("group"), expr("ts_ms DIV 3600000").as("bucket"))))
        val snaps = incoming.as[graft.streaming.CusumMonitor.In]
          .groupByKey(_.group)
          .flatMapGroupsWithState(
            org.apache.spark.sql.streaming.OutputMode.Append(),
            org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())(
            graft.streaming.CusumMonitor.perGroup(targetFp, 8L, 20))
        // latest snapshot per group = the one with the most buckets folded
        runToCompletion(snaps.toDF(), work).groupBy(col("group"))
          .agg(max(struct(col("n_buckets"), col("n_up_alarms"),
            col("n_down_alarms"), col("first_alarm"), col("max_sp_fp"),
            col("max_sn_fp"))).as("m"))
          .select(col("group").as("event_type"),
            col("m.n_buckets").as("n_buckets"), lit(targetFp).as("target_fp"),
            col("m.n_up_alarms").as("n_up_alarms"),
            col("m.n_down_alarms").as("n_down_alarms"),
            when(col("m.first_alarm") === -1L, lit(null).cast("long"))
              .otherwise(col("m.first_alarm")).as("first_alarm_h"),
            col("m.max_sp_fp").as("max_sp_fp"),
            col("m.max_sn_fp").as("max_sn_fp"))
          .orderBy("event_type")
      },
      // live twin against the fixed 3-events/hour baseline (3 << 20)
      oracleSql = cusumOracleSql("3145728")),
    /** LIVE watermark late-data semantics, pinned bit-exactly: the events
      * stream arrives as three files whose rows INTERLEAVE in event time
      * (pmod split), so after micro-batch 0 the watermark already sits
      * near the stream's end and most of batches 1-2 is genuinely late.
      * A 1-hour watermark + 1-hour tumbling aggregate in append mode then
      * exercises the DUAL-watermark rules (SPARK-24634, verified against
      * the offset log and a controlled two-file probe): (1) the late-event
      * filter of micro-batch N uses batch N−1's watermark — one batch of
      * lag, so batch 1 still admits everything and batch 2 filters
      * against max(batch-0 event time) − delay; (2) eviction/emission
      * uses the CURRENT watermark, so the sink holds exactly the windows
      * the final watermark passed; (3) still-open windows are held as
      * state, not emitted, at AvailableNow termination. The oracle
      * replays this state machine from the same pmod file split. */
    GateQuery("stream_late_data", family,
      build = (s0, dir) => {
        val s = streamSession(s0)
        val work = graft.util.TempDirs.create("graft-stream-late")
        val ev = events(s, dir).select(col("event_id"),
          timestamp_millis(col("ts_ms")).as("ts"), cents(col("value")).as("value_c"))
        val incoming = stagedStream(s, work,
          (0 to 2).map(i => ev.where(pmod(col("event_id"), lit(3)) === i)))
        runToCompletion(incoming.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_value_c"))
          .select(unix_millis(col("window.start")).as("wstart_ms"),
                  col("n"), col("sum_value_c")), work)
          .orderBy("wstart_ms")
      },
      // the DUAL-watermark state machine replayed from the pmod file split
      // (SPARK-24634 semantics, confirmed against the offset log and a
      // two-file probe): the LATE-EVENT filter of batch N uses batch N-1's
      // watermark — so batch 1 filters with W=0 (admits everything) and
      // batch 2 with W = max(batch-0 ts) - delay — while EVICTION/emission
      // uses the current watermark, so the emitted set is every window the
      // FINAL watermark passed, containing exactly the admitted rows
      oracleSql = """
      WITH e AS (SELECT event_id, epoch_ms(ts) AS ts_ms,
                        (value::DECIMAL(18,2) * 100)::BIGINT AS value_c,
                        event_id % 3 AS b
                 FROM events),
      mx AS (SELECT b, max(ts_ms) AS mx FROM e GROUP BY 1),
      adm AS (SELECT e.*, ((ts_ms // 3600000) + 1) * 3600000 AS w_end FROM e),
      filt AS (SELECT * FROM adm
               WHERE b <= 1 -- batch 1's late filter lags: still W = 0
                  OR (b = 2 AND w_end >
                        (SELECT mx FROM mx WHERE b = 0) - 3600000)),
      wf AS (SELECT w_end, count(*)::BIGINT AS n,
                    sum(value_c)::BIGINT AS sum_value_c
             FROM filt GROUP BY 1)
      SELECT (w_end - 3600000)::BIGINT AS wstart_ms, n, sum_value_c
      FROM wf
      WHERE w_end <= (SELECT max(ts_ms) FROM e) - 3600000
      ORDER BY wstart_ms"""),
    /** LIVE streaming twin of `text_length_sketch` (the
      * `stream_hll_cardinality` pattern): the bottom-k buffer aggregates
      * under the streaming state store in complete mode, the exact overlay
      * is batch-side, and the result is gated against the SAME oracle —
      * batch/stream parity for the quantile sketch. */
    GateQuery("stream_length_sketch", family,
      build = (s0, dir) => {
        val s = streamSession(s0)
        val docs = t(s, dir, "documents")
        val work = graft.util.TempDirs.create("graft-stream-bk")
        val stream = tableStream(s, work, dir, "documents")
        val sk = TextAnalysis.lengthSketchRows(stream, "doc_id", "text", Seq("lang"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
               graft.functions.Sketches.bottomKSketch(col("__rh"), col("__v"), 256)
                 .as("__sk"))
        val state = runToCompletion(sk, work,
          memoryTable = Some(s"stream_bk_${layoutTag(dir)}"))
        // see `stream_hll_cardinality`: nothing lazy reads the staged files
        graft.util.TempDirs.deleteNow(work)
        val exact = TextAnalysis.lengthSketchExact(
          TextAnalysis.lengthSketchRows(docs, "doc_id", "text", Seq("lang")),
          Seq("lang"))
        TextAnalysis.lengthSketchReport(state, exact, Seq("lang"))
          .orderBy("lang")
      },
      oracleSql = lengthSketchOracle(k = 256)),
    /** Event-time WINDOWED quantile sketch under the streaming state store —
      * the hourly value/latency-distribution report at stream scale
      * (`stream_hourly_hll`'s watermarked append-mode pattern with the
      * bottom-k buffer instead of HLL registers): per event hour, the sketch
      * of value cents (sample-ranked by `mix64(event_id)`), probed for
      * p50/p90/p99 beside the exact same-rule overlay computed batch-side.
      * Sentinel batches advance the watermark so every real window is
      * emitted and its state evicted — the bounded-state contract a 100 TB
      * firehose needs from a quantile report. */
    GateQuery("stream_hourly_value_sketch", family,
      build = (s0, dir) => {
        val s = streamSession(s0)
        val work = graft.util.TempDirs.create("graft-stream-hrbk")
        val ev = events(s, dir).select(col("event_id"), col("ts_ms"),
          cents(col("value")).as("v"))
        val maxMs = ev.agg(max("ts_ms")).head().getLong(0)
        import s.implicits._
        val incoming = stagedStream(s, work, Seq(ev,
          Seq((-1L, maxMs + 10000000L, 0L)).toDF(ev.columns: _*),
          Seq((-2L, maxMs + 20000000L, 0L)).toDF(ev.columns: _*)))
        val sk = incoming
          .withColumn("ts", timestamp_millis(col("ts_ms")))
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n_docs"),
               graft.functions.Sketches.bottomKSketch(
                 graft.functions.Mix64.mix64(col("event_id"), 0L), col("v"), 256)
                 .as("__sk"))
          .select(expr("unix_millis(window.start) DIV 3600000").as("hour"),
            col("n_docs"), col("__sk"))
        val emitted = runToCompletion(sk, work)
          .where(col("hour") <= maxMs / 3600000L) // cut the sentinel windows
        val exact = TextAnalysis.lengthSketchExact(
          ev.select(expr("ts_ms DIV 3600000").as("hour"), col("v").as("__v")),
          Seq("hour"))
        TextAnalysis.lengthSketchReport(emitted, exact, Seq("hour"))
          .withColumnRenamed("n_docs", "n_events")
          .orderBy("hour")
      },
      // the windowed streaming twin: per event hour, the k smallest
      // signed-mix64(event_id) rows sample value cents; both arms use the
      // shared lower-interpolation rank rule
      oracleSql = s"""
      WITH e AS (SELECT event_id, epoch_ms(ts) AS ms,
                        (value::DECIMAL(18,2) * 100)::BIGINT AS v
                 FROM events),
      d AS MATERIALIZED (SELECT (ms // 3600000)::BIGINT AS hour, v,
                   ${OracleXX.mix64Signed("event_id", seed = 0L)} AS hh
            FROM e),
      r AS (SELECT hour, v,
                   row_number() OVER (PARTITION BY hour ORDER BY hh, v) AS rn
            FROM d),
      sq AS (SELECT hour, list_sort(list(v)) AS sv, count(*)::BIGINT AS m
             FROM r WHERE rn <= 256 GROUP BY hour),
      eq AS (SELECT hour, list_sort(list(v)) AS ev, count(*)::BIGINT AS n
             FROM d GROUP BY hour)
      SELECT eq.hour, n AS n_events, m AS sample_n,
             list_extract(sv, floor(0.5::DOUBLE  * (m - 1)::DOUBLE)::BIGINT + 1) AS p50_est,
             list_extract(sv, floor(0.9::DOUBLE  * (m - 1)::DOUBLE)::BIGINT + 1) AS p90_est,
             list_extract(sv, floor(0.99::DOUBLE * (m - 1)::DOUBLE)::BIGINT + 1) AS p99_est,
             list_extract(ev, floor(0.5::DOUBLE  * (n - 1)::DOUBLE)::BIGINT + 1) AS p50_exact,
             list_extract(ev, floor(0.9::DOUBLE  * (n - 1)::DOUBLE)::BIGINT + 1) AS p90_exact,
             list_extract(ev, floor(0.99::DOUBLE * (n - 1)::DOUBLE)::BIGINT + 1) AS p99_exact
      FROM sq JOIN eq USING (hour) ORDER BY hour"""),
    /** The HLL sketch maintained by a LIVE streaming aggregation: the
      * documents table arrives as a file stream, the custom
      * [[graft.functions.HllRegisters]] buffer aggregates under the
      * streaming state store (complete mode), and the drained register
      * table is projected through the SAME report as the batch gate (the
      * exact overlay is batch-side — distinct aggregation is unsupported in
      * streaming, and at scale the exact check is the harness's job anyway).
      * Same oracle as `text_hll_cardinality`: batch/stream parity for
      * custom TypedImperativeAggregate state. */
    GateQuery("stream_hll_cardinality", family,
      build = (s0, dir) => {
        val s = streamSession(s0)
        val docs = t(s, dir, "documents")
        val work = graft.util.TempDirs.create("graft-stream-hll")
        val stream = tableStream(s, work, dir, "documents")
        val regs = TextAnalysis.shingleHashRows(stream, "text", Seq("lang"))
          .groupBy(col("lang"))
          .agg(graft.functions.Sketches.hllRegisters(col("__h"), 8).as("regs"))
        val state = runToCompletion(regs, work,
          memoryTable = Some(s"stream_hll_${layoutTag(dir)}"))
        // the result plan reads only the in-memory sink table and the original
        // corpus dir, so the staged copy + checkpoint can go NOW — repeated
        // bench iterations otherwise accumulate corpus copies in /tmp
        graft.util.TempDirs.deleteNow(work)
        val exact = TextAnalysis.shingleHashRows(docs, "text", Seq("lang"))
          .groupBy(col("lang")).agg(countDistinct(col("__h")).as("n_exact"))
        TextAnalysis.hllReport(state, exact, p = 8, Seq("lang"))
          .orderBy("lang")
      },
      // live streaming sketch must land on the batch gate's exact bytes
      oracleSql = OracleXX.hllOracle(p = 8)),
    /** The per-hour DAU HLL maintained by a LIVE event-time-windowed
      * streaming aggregation — sketch state INSIDE a watermark-governed
      * window (the production streaming-analytics shape: fixed-size
      * distinct-user state per hour at any event volume, flushed when the
      * watermark passes the window). Events arrive as one data batch plus
      * two far-future sentinels; emitted windows are cut at the data
      * horizon so the sentinels' own (possibly unflushed) window never
      * reaches the output. Same oracle family as `events_dau_hll`, hourly. */
    GateQuery("stream_hourly_hll", family,
      build = (s0, dir) => {
        val s = streamSession(s0)
        val work = graft.util.TempDirs.create("graft-stream-hrhll")
        val ev = events(s, dir).select(col("user_id"), col("ts_ms"))
        val maxMs = ev.agg(max("ts_ms")).head().getLong(0)
        import s.implicits._
        val incoming = stagedStream(s, work, Seq(ev,
          Seq((-1L, maxMs + 10000000L)).toDF(ev.columns: _*),
          Seq((-2L, maxMs + 20000000L)).toDF(ev.columns: _*)))
        val regs = incoming
          .withColumn("ts", timestamp_millis(col("ts_ms")))
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(graft.functions.Sketches.hllRegisters(xxhash64(col("user_id")), 8)
            .as("regs"))
          .select(expr("unix_millis(window.start) DIV 3600000").as("hour"),
            col("regs"))
        val emitted = runToCompletion(regs, work)
          .where(col("hour") <= maxMs / 3600000L) // cut the sentinel window
        val exact = ev.select(expr("ts_ms DIV 3600000").as("hour"),
            xxhash64(col("user_id")).as("__h"))
          .groupBy("hour").agg(countDistinct(col("__h")).as("n_exact"))
        TextAnalysis.hllReport(emitted, exact, p = 8, Seq("hour"))
          .orderBy("hour")
      },
      oracleSql = OracleXX.hllUserBucketOracle(p = 8,
        bucketMs = 3600000L, alias = "hour")),
    /** The Bloom sketch maintained by a LIVE streaming aggregation —
      * batch/stream parity for the word-wise-OR merge under the state
      * store, exactly like `stream_hll_cardinality` pins the HLL max-merge.
      * Same oracle as `text_bloom_sketch`. */
    GateQuery("stream_bloom_sketch", family,
      build = (s0, dir) => {
        val s = streamSession(s0)
        val docs = t(s, dir, "documents")
        val work = graft.util.TempDirs.create("graft-stream-bloom")
        val stream = tableStream(s, work, dir, "documents")
        val words = TextAnalysis.shingleHashRows(stream, "text", Seq("lang"))
          .groupBy(col("lang"))
          .agg(graft.functions.Sketches.bloomBits(col("__h"), 262144, 5)
            .as("words"))
        val state = runToCompletion(words, work,
          memoryTable = Some(s"stream_bloom_${layoutTag(dir)}"))
        // result reads only the in-memory sink — the staged copy can go now
        graft.util.TempDirs.deleteNow(work)
        TextAnalysis.bloomReport(state, numBits = 262144,
            numHashes = 5, Seq("lang"))
          .orderBy("lang")
      },
      oracleSql = OracleXX.bloomSketchOracle(numBits = 262144, numHashes = 5)),
    /** Streaming twin of the Count-Min heavy-hitters report: the sketch is
      * maintained as a STREAMING aggregation (cell counts are plain sums —
      * the mergeability that makes CMS deployable on a firehose with
      * `depth × width` longs of state, independent of vocabulary size),
      * then the probe + exact-verify stages run over the streamed cells.
      * Gated against the SAME oracle as the batch `text_heavy_hitters` —
      * batch/streaming parity for the sketch family, like `stream_hll_*`
      * for HLL and `stream_cusum` for the drift detector. */
    GateQuery("stream_heavy_hitters", family,
      build = (s0, dir) => {
        val s = streamSession(s0)
        val docs = t(s, dir, "documents")
        val work = graft.util.TempDirs.create("graft-stream-cms")
        val stream = tableStream(s, work, dir, "documents")
        val cells = TextAnalysis.cmsSketch(
          TextAnalysis.cmsTokens(stream, "text"), depth = 4, width = 32)
        val state = runToCompletion(cells, work,
          memoryTable = Some(s"stream_cms_${layoutTag(dir)}"))
        // see `stream_hll_cardinality`: nothing lazy reads the staged files
        graft.util.TempDirs.deleteNow(work)
        TextAnalysis.cmsProbeVerify(
            TextAnalysis.cmsTokens(docs, "text"), state,
            depth = 4, width = 32, minCount = 100L)
          .orderBy("token")
      },
      // the streaming sketch twin must land on the identical report
      oracleSql = OracleXX.cmsOracle(depth = 4, width = 32,
                                                   minCount = 100L)),
    /** The fingerprint ingest loop run LIVE
      * ([[graft.streaming.IndexKind.hamming]]): the same three payload
      * batches arrive as parquet files through a file stream
      * (`maxFilesPerTrigger = 1`, mod-times force order), each micro-batch
      * decodes its payloads ONCE, probes the bucketed fragment index, and
      * extends it with the survivors — gated against the identical
      * sequential-loop oracle as `mm_ingest_loop`, batch/live parity for
      * the modality ingestion path. */
    GateQuery("stream_mm_ingest", family,
      build = (s0, dir) =>
        streamMmIngestImpl(s0, dir, gen = false),
      oracleSql = OracleXX.hammingIngestOracle(mmIngestBounds, maxHamming = 3)),
    /** `stream_mm_ingest` on the crash-safe GENERATIONAL index layout
      * ([[graft.operators.GenIndex]]) with a swap compaction after EVERY
      * epoch — the production maintenance path exercised end-to-end: each
      * micro-batch probes an index that was rewritten into a fresh
      * marker-committed generation since the last epoch. Same oracle as
      * `stream_mm_ingest`: the layout and its compactions must be invisible
      * to the survivor decision. */
    GateQuery("stream_mm_ingest_gen", family,
      build = (s0, dir) =>
        streamMmIngestImpl(s0, dir, gen = true),
      oracleSql = OracleXX.hammingIngestOracle(mmIngestBounds, maxHamming = 3)),
    /** The embedding ingest loop run LIVE ([[graft.streaming.IndexKind.embedLsh]]):
      * the same three vector batches arrive through a file stream
      * (`maxFilesPerTrigger = 1`, mod-times force order), each micro-batch
      * probes the bucketed LSH index of everything ACCEPTED so far and
      * extends it with its survivors — gated against the identical
      * sequential-loop oracle as `dedup_embed_ingest`. */
    GateQuery("stream_embed_ingest", family,
      build = (s0, dir) => {
        val s = streamSession(s0)
        val work = graft.util.TempDirs.create("graft-stream-embed-ingest")
        val emb = t(s, dir, "embeddings")
        val incoming = stagedStream(s, work, embedIngestBounds.map { case (lo, hi) =>
          emb.where(col("vec_id") >= lo && col("vec_id") < hi)
            .select(col("vec_id").as("id"), col("embedding").as("vec"))
        })
        ingestToCompletion(s, work, incoming,
            IndexKind.embedLsh(threshold = 0.25), "embingest", dir)
          .select(col("id").as("vec_id"))
          .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
          .orderBy("vec_id")
      },
      oracleSql = embedIngestOracle(embedIngestBounds, threshold = 0.25)),
    /** The COMPOSED ingest DAG run LIVE ([[graft.streaming.IndexKind
      * .familyHamming]]) — the streaming twin of `pipeline_mm_ingest`'s
      * front half: the same mixed-modality corpus arrives as three ordered
      * payload batches through a file stream; each micro-batch is decoded
      * ONCE (sniff-route + per-modality fingerprint in one pass), probed
      * against the single family-keyed fragment index of everything
      * ACCEPTED so far, and the survivors extend output and index before
      * the epoch commits. Gated against a sequential-loop oracle composed
      * from the three modality formula replicas — batch/live symmetry for
      * the composed pipeline itself, not just its operators. */
    GateQuery("stream_pipeline_mm_ingest", family,
      build = (s0, dir) => {
        val s = streamSession(s0)
        val work = graft.util.TempDirs.create("graft-stream-pipeline-mm")
        val docs = t(s, dir, "documents")
        val incoming = stagedStream(s, work, mmIngestBounds.map { case (lo, hi) =>
          Multimodal.renderedIngestPayloads(
            docs.where(col("doc_id") >= lo && col("doc_id") < hi), "doc_id")
        })
        ingestToCompletion(s, work, incoming,
            IndexKind.familyHamming(maxHamming = 3), "pipemm", dir)
          .select("id", "family", "phash").orderBy("id")
      },
      oracleSql = OracleXX.composedIngestLoopOracle(mmIngestBounds, maxHamming = 3)),
    /** The ACTUAL streaming path — `Pipeline.start` → `readStream` over the
      * events fixture → config-assembled interceptor chain (regex keep +
      * header enrich) → `foreachBatch` fanout → file sink — driven to
      * completion with `Trigger.AvailableNow`, then the sink directory is read
      * back as the gate result. This oracle-checks checkpointing/foreachBatch/
      * fanout itself, not a batch twin (round-2 verdict item 2). */
    GateQuery("stream_pipeline_e2e", family,
      build = (s0, dir) => {
        val s = streamSession(s0)
        val work = graft.util.TempDirs.create("graft-stream-e2e")
        val out = work.resolve("out")
        val conf = graft.config.GraftConfig.parse(s"""
      graft {
        source { ev { type = events-parquet, path = "$dir/events.parquet",
                      available-now = true, max-files-per-trigger = 4,
                      interceptors = [keep8x, tag], sinks = [fileout] } }
        interceptor {
          keep8x { fqcn = "graft.interceptor.RegexFilter", priority = 90,
                   pattern = "\\"k\\": 8\\\\d" }
          tag { fqcn = "graft.interceptor.HeaderEnrich", priority = 50,
                headers { source = graft } }
        }
        sink { fileout { type = file, path = "$out" } }
      }""")
        val ps = graft.streaming.Pipeline.start(s, conf, work.resolve("ck").toString)
        ps.foreach(_.query.awaitTermination())
        s.read.parquet(out.toString)
          .select(element_at(col("headers"), "event_id").cast("long").as("event_id"),
                  col("body"),
                  element_at(col("headers"), "source").as("source"))
          .orderBy("event_id")
      },
      // the live pipeline applies RegexFilter('"k": 8\d') + HeaderEnrich
      // (source=graft) over the events fixture — same semantics as the
      // pipe_transform batch chain, so the oracle is the same SQL
      oracleSql = transformOracle),
    /** Live streaming twin of `dedup_ingest` under `Trigger.AvailableNow`:
      * the same three [[ingestBounds]] batches arrive as three parquet files
      * through a file stream (`maxFilesPerTrigger = 1`, mod-times force the
      * batch order), each micro-batch probes-then-extends the bucketed
      * accepted-corpus index, and the survivors must match the batch twin's
      * oracle exactly — batch/streaming parity for the ingestion pipeline,
      * the way `stream_pipeline_e2e` proves it for the event pipeline. */
    GateQuery("stream_dedup_ingest", family,
      build = dedupIngestTwin("ingest", foldOutputEvery = 0),
      // batch/streaming parity: the live AvailableNow ingest must land on the
      // batch twin's exact survivor set
      oracleSql = ingestOracle(ingestBounds)),
    /** `stream_dedup_ingest` with per-epoch OUTPUT FOLDING
      * ([[graft.streaming.IngestOutput]]): every committed epoch directory
      * rewrites into the marker-committed base generation as the stream
      * runs, and the official reader must land on the identical survivor
      * set — the fold layout and its crash contract must be invisible to
      * consumers (same oracle as `stream_dedup_ingest`). */
    GateQuery("stream_dedup_ingest_folded", family,
      build = dedupIngestTwin("ingfold", foldOutputEvery = 1),
      // output folding must be invisible to consumers: the folded stream
      // reads through IngestOutput.read onto the SAME survivor set
      oracleSql = ingestOracle(ingestBounds)),
    /** LIVE streaming twin of `sim_ivf_indexed` — the query-serving shape
      * under the actual streaming machinery: query vectors arrive as two
      * micro-batches through a checkpointed file stream, each batch probes
      * the persisted bucketed IVF index `foreachBatch`-side
      * ([[graft.streaming.IvfProbe]] — broadcast batch queries, scan only
      * the probed cells, zero index-side exchange; PlanSpec pins the
      * per-batch plan), results append to the sink and are gated against
      * the SAME replica oracle as the batch row, extended to the 10-query
      * union of both batches. */
    GateQuery("stream_ivf_probe", family,
      build = (s0, dir) => {
        val s = streamSession(s0)
        val tag = layoutTag(dir)
        val emb = t(s, dir, "embeddings")
        val cents = Similarity.fixedCentroids(16, 64)
        graft.operators.Relational.bucketMaterialize(
          Similarity.buildIvfIndex(emb, "vec_id", "embedding", cents),
          s"graft_b_ivf_probe_$tag", "cluster", 8,
          s"${graft.util.Scratch.base}/graft_bucketed_$tag/ivf_probe")
        val work = graft.util.TempDirs.create("graft-stream-ivf")
        val q = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val incoming = stagedStream(s, work, Seq((0L, 5L), (5L, 10L)).map {
          case (lo, hi) => q.where(col("qid") >= lo && col("qid") < hi)
        })
        val out = work.resolve("out").toString
        val sq = graft.streaming.IvfProbe.start(incoming, "qid", "qvec",
          s"graft_b_ivf_probe_$tag", cents, out,
          checkpoint = work.resolve("ck").toString,
          k = 10, nProbe = 4, availableNow = true)
        sq.awaitTermination()
        s.read.parquet(out).orderBy("qid", "rank")
      },
      // the live twin changes HOW queries arrive (two checkpointed
      // micro-batches) and where assignments come from (the persisted
      // bucketed table), not what the retrieval computes — same replica,
      // query set extended to both batches
      oracleSql = ivfReplicaOracle(
        Similarity.fixedCentroids(16, 64), nProbe = 4, k = 10,
        queryPred = "vec_id < 10")),
    /** The DSv2 HTTP push source under the gate: a loopback client POSTs
      * deterministic fixture lines (`doc_id:md5(text)`) to the embedded
      * endpoint; the pipeline writes them to a file sink; every POST must be
      * acked 201 (which the source only releases after the epoch containing
      * the batch commits — so an ack implies the sink write is durable). The
      * sink directory read back is the gate result (round-2 verdict item 3). */
    GateQuery("http_push_e2e", family,
      build = (s, dir) => {
        import java.net.URI
        import java.net.http.{HttpClient, HttpRequest, HttpResponse}
        val work = graft.util.TempDirs.create("graft-http-e2e")
        val out = work.resolve("out")
        val port = { val ss = new java.net.ServerSocket(0)
          try ss.getLocalPort finally ss.close() }
        val lines = t(s, dir, "documents")
          .select(concat_ws(":", col("doc_id"),
            md5(to_binary(col("text"), lit("utf-8")))).as("l"))
          .orderBy("doc_id").collect().map(_.getString(0))
        val conf = graft.config.GraftConfig.parse(s"""
      graft {
        source { hp { type = http-push, listen-port = $port,
                      interceptors = [], sinks = [fileout] } }
        sink { fileout { type = file, path = "$out" } }
      }""")
        val ps = graft.streaming.Pipeline.start(s, conf, work.resolve("ck").toString)
        try {
          val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
          while (graft.sources.http.HttpPushRegistry.lookup(port).isEmpty) {
            require(System.nanoTime() < deadline, "http-push endpoint never bound")
            Thread.sleep(50)
          }
          val client = HttpClient.newHttpClient()
          // send in WAVES of <= 8 concurrent chunks — the source's default
          // max-connections admission window sheds the 9th in-flight request
          // with 503, and grouped().map is eager, so an unbounded fan-out
          // would break the gate as soon as a fixture exceeds 8000 docs
          lines.grouped(1000).grouped(8).foreach { wave =>
            val futures = wave.map { chunk =>
              client.sendAsync(
                HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/"))
                  .POST(HttpRequest.BodyPublishers.ofString(chunk.mkString("\n")))
                  .build(),
                HttpResponse.BodyHandlers.discarding())
            }
            futures.foreach { f =>
              val status = f.get(120, java.util.concurrent.TimeUnit.SECONDS).statusCode()
              require(status == 201, s"http-push POST not acked: $status")
            }
          }
        } finally ps.foreach(_.query.stop())
        s.read.parquet(out.toString)
          .select(split(col("body"), ":").getItem(0).cast("long").as("doc_id"),
                  split(col("body"), ":").getItem(1).as("text_md5"))
          .orderBy("doc_id")
      },
      // loopback POSTs carry doc_id:md5(text) lines; the sink must round-trip
      // every acked line exactly once
      oracleSql = """
      SELECT doc_id, md5(text) AS text_md5 FROM documents ORDER BY doc_id""")
  )

  /** Batch twin of the watermarked stream-stream interval join, run through
    * the SAME `StreamJoins.intervalJoin` code path the live engine uses
    * (withWatermark is a defined no-op in batch): views attributed to each
    * purchase when they precede it by < 30 minutes for the same user. The
    * live path (MemoryStream × MemoryStream, state cleanup under advancing
    * watermark) is covered in PipelineStreamingSpec.
    * `joinType` picks the variant; `orderBy` is its unique sort key. */
  private def intervalJoin(joinType: String, orderBy: String*)(
      s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
              timestamp_millis(col("ts_ms")).as("p_ts"))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
              timestamp_millis(col("ts_ms")).as("v_ts"))
    graft.streaming.StreamJoins.intervalJoin(
        purchases, "p_ts", "30 minutes",
        views, "v_ts", "30 minutes",
        "user_id", lowerMs = -1800000L, upperMs = 0L, joinType = joinType)
      .select(col("user_id"), col("purchase_id"), col("view_id"),
              (unix_millis(col("p_ts")) - unix_millis(col("v_ts"))).as("gap_ms"))
      .orderBy(orderBy.map(col): _*)
  }

  /** The dedup ingest loop run live: the three `ingestBounds` document
    * batches probe-then-extend the shingle posting index `index`, one
    * micro-batch each; `foldOutputEvery` folds the output as it runs. */
  private def dedupIngestTwin(index: String, foldOutputEvery: Int)(
      s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val work = graft.util.TempDirs.create(s"graft-stream-$index")
    val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
    val incoming = stagedStream(s, work, ingestBounds.map { case (lo, hi) =>
      docs.where(col("doc_id") >= lo && col("doc_id") < hi)
    })
    ingestToCompletion(s, work, incoming, IndexKind.textPostings("doc_id",
        "text", shingleN = 3, threshold = 0.5), index, dir,
        foldOutputEvery = foldOutputEvery)
      .select("doc_id", "lang").orderBy("doc_id")
  }

  private def streamMmIngestImpl(s0: SparkSession, dir: String,
                                 gen: Boolean): DataFrame = {
    val s = streamSession(s0)
    val work = graft.util.TempDirs.create("graft-stream-mm-ingest")
    val docs = t(s, dir, "documents")
    val incoming = stagedStream(s, work, mmIngestBounds.map { case (lo, hi) =>
      Multimodal.renderedImagePayloads(
        docs.where(col("doc_id") >= lo && col("doc_id") < hi), "doc_id")
    })
    ingestToCompletion(s, work, incoming, IndexKind.hamming(maxHamming = 3),
        "mmingest", dir, gen = gen)
      .select("id", "phash").orderBy("id")
  }

  /** Drives `incoming` to completion through the exactly-once ingest sink
    * of `kind` (`Trigger.AvailableNow`, checkpointed in `<work>/ck`) and
    * reads back the survivors from `<work>/out`. The index is the bucketed
    * table `graft_b_stream_<index>_<tag>` under the scratch base, tagged by
    * the testdata dir; with `gen` it takes the generational layout and
    * swap-compacts after every epoch. */
  private def ingestToCompletion(s: SparkSession, work: java.nio.file.Path,
      incoming: DataFrame, kind: IndexKind, index: String, dir: String,
      gen: Boolean = false, foldOutputEvery: Int = 0): DataFrame = {
    val tag = layoutTag(dir) + (if (gen) "_gen" else "")
    val table = s"graft_b_stream_${index}_$tag"
    val path = s"${graft.util.Scratch.base}/graft_bucketed_$tag/stream_$index"
    kind.init(s, table, path, gen = gen)
    val out = work.resolve("out").toString
    EpochIngest.start(incoming, kind, indexTable = table, outPath = out,
      checkpoint = work.resolve("ck").toString, availableNow = true,
      indexPath = if (gen) path else null, compactEvery = if (gen) 1 else 0,
      foldOutputEvery = foldOutputEvery).awaitTermination()
    IngestOutput.read(s, out)
  }

  /** Fixed event-time slices of `ev` (the data spans 2024-01): batch order =
    * time order, the ordering contract of the stateful streaming folds. */
  private def timeSlices(ev: DataFrame): Seq[DataFrame] = {
    val cuts = Seq(Long.MinValue, 1704931200000L, 1705795200000L, Long.MaxValue)
    (0 to 2).map(i => ev.where(col("ts_ms") >= cuts(i) && col("ts_ms") < cuts(i + 1)))
  }
}
