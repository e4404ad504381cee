package graft

import graft.util.CacheSalt.SaltedPersistOps
import graft.event.Event
import graft.functions.{Backoff, Base64Functions => B64, DumpCodec,
  GzipFunctions => GZ, TextFunctions => TF}
import graft.interceptor.{HeaderEnrich, InterceptorChain, RegexFilter, Transparent, DevNull => DevNullItp}
import graft.operators.{Analytics, Dedup, Multimodal, Sampling, Similarity, TextAnalysis}
import graft.sinks.Sinks
import graft.sources.Sources
import graft.streaming.BatchSemantics

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the §7-phase-5 training-data operators), with `oracleSql`
  * giving the DuckDB-equivalent for every SQL-expressible one.
  *
  * Cross-engine determinism rules used throughout (verified empirically):
  *  - money/sum aggregates go through DECIMAL casts (double sums are
  *    order-dependent); counts cast to BIGINT in DuckDB (its SUM(BIGINT)
  *    is HUGEINT);
  *  - integer-ratio outputs use floor() in both engines (Spark's
  *    double→long cast truncates, DuckDB's rounds);
  *  - raw `ts` values never escape (parquet ns vs µs) — epoch millis or
  *    date_trunc only;
  *  - base64 uses graft's basic codec (Spark's builtin is MIME-chunked);
  *  - every query ends in an explicit ORDER BY on a unique key.
  */
object SparkEntry {

  /** Gate-table handle, cached per (session, path). `spark.read.parquet`
    * eagerly lists the directory and reads parquet footers for schema EVERY
    * call — pure fixed overhead when 249 gate queries × 2 bench passes
    * re-open the same ~10 immutable testdata tables (measured ~0.2-0.5 s of
    * the per-query floor). The cached DataFrame is an immutable logical
    * plan: thread-safe under Verify's pool, and reusing it never shares
    * executed state between queries (no persist — see
    * [[graft.util.CacheSalt]] for why that matters). Keyed weakly by
    * session; the VALUE holds the DataFrame only SOFTLY — a Dataset
    * strongly references its session, so a strong (or even weak-map-value)
    * DataFrame would pin its own key and the weak keying would be a lie
    * (advisor round 11). Soft refs break that cycle the way a cache
    * should: a stopped session's handles become collectable under memory
    * pressure, while surviving the explicit `System.gc()` Bench issues
    * every 16 queries (a WeakReference value would be cleared by each of
    * those and forfeit the measured ~0.2-0.5 s/query footer-read saving).
    * The harness contract is that testdata paths are immutable for a
    * session's lifetime; a production driver reading mutable paths would
    * skip this cache (it is private to the gate surface, not library
    * API). */
  private val tableHandles =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, java.lang.ref.SoftReference[DataFrame]]]()
  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = tableHandles.synchronized {
      var m = tableHandles.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, java.lang.ref.SoftReference[DataFrame]]()
        tableHandles.put(s, m)
      }
      m
    }
    val key = s"$dir/$name.parquet"
    val cached = { val r = perSession.get(key); if (r == null) null else r.get }
    if (cached != null) cached
    else {
      val df = s.read.parquet(key)
      perSession.put(key, new java.lang.ref.SoftReference(df))
      df
    }
  }

  /** Cloned session for the LIVE streaming twins with state partitioning
    * sized to the twin's actual stream volume (a handful of keys over 2-4
    * micro-batches), not the session's batch-join width: every stateful
    * operator checkpoints one state-store instance PER shuffle partition
    * PER micro-batch, so at the inherited 32 partitions a twin pays ~100
    * state commits of pure fixed overhead to shuffle a few hundred rows.
    * A clone (shared SparkContext, private SQLConf) keeps the tuning away
    * from the concurrently-running batch queries — Verify's thread-safety
    * contract is "no session-conf mutation on any query path". At
    * production stream volume this knob is config, not code: state
    * partition count is sized to throughput there, exactly as here. */
  private val streamSessions =
    new java.util.WeakHashMap[SparkSession, SparkSession]()
  private def streamSession(s: SparkSession): SparkSession =
    streamSessions.synchronized {
      // ONE cached clone per parent session, not one per invocation: the
      // first stream started on a session registers its
      // StreamingQueryManager's listener bus on the shared LiveListenerBus
      // and nothing ever unregisters it, so a fresh clone per twin run
      // accumulates listener buses across a long session (4-pass soak =
      // ~50 clones). The twins share no session state beyond uniquely
      // named sinks/checkpoints, so one clone serves them all.
      var ss = streamSessions.get(s)
      if (ss == null) {
        ss = s.newSession()
        ss.conf.set("spark.sql.shuffle.partitions", "4")
        streamSessions.put(s, ss)
      }
      ss
    }

  /** events with `ts` projected to exact epoch-millis as `ts_ms`,
    * layout-adaptive (int64-nanos vs timestamp[µs] testdata generations) —
    * see [[graft.functions.EventTime]] for the exactness argument. */
  private def events(s: SparkSession, dir: String): DataFrame =
    graft.functions.EventTime.withEpochMs(t(s, dir, "events"))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  // ==== reference-parity pipeline queries =================================

  private def pipeTransform(s: SparkSession, dir: String): DataFrame = {
    // interceptor chain over the event stream: regex keep-filter (columnar
    // path) + header enrichment, then a stable projection
    val events = Sources.eventsTableAsEvents(t(s, dir, "events"))
    val chain = InterceptorChain(Seq(
      RegexFilter("keep8x", "\"k\": 8\\d", priority = 90),
      HeaderEnrich("tag", Map("source" -> "graft"), priority = 50)))
    chain(events).toDF()
      .select(element_at(col("headers"), "event_id").cast("long").as("event_id"),
              col("body"),
              element_at(col("headers"), "source").as("source"))
      .orderBy("event_id")
  }

  private def pipeRoute(s: SparkSession, dir: String): DataFrame = {
    val events = Sources.eventsTableAsEvents(t(s, dir, "events")).toDF()
    val et = element_at(col("headers"), "event_type")
    val routes = Seq(
      Sinks.Route("kafka_sink", et === "purchase"),
      Sinks.Route("syslog_sink", et === "error"),
      Sinks.Route("http_sink", lit(true)))
    Sinks.assign(events, routes, skipAcceptCheckOnSingle = false)
      .groupBy(col("__sink").as("sink")).agg(count(lit(1)).as("n"))
      .orderBy("sink")
  }

  private def pipeSplitWords(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(TF.tokens(col("text"))).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy("word")

  private def pipeB64(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
        col("event_id"),
        B64.b64(to_binary(col("props"), lit("utf-8"))).as("b64"),
        (decode(B64.unb64(B64.b64(to_binary(col("props"), lit("utf-8")))), "utf-8")
          === col("props")).as("roundtrip_ok"))
      .orderBy("event_id")

  private def pipeBatchAssembly(s: SparkSession, dir: String): DataFrame =
    BatchSemantics.batchByTagStatic(t(s, dir, "events"),
        tagCol = "event_type", bodyCol = "props", orderCol = "event_id",
        batchSize = 100)
      .select(col("tag"), col("batch_idx"), col("batch_n"),
              md5(to_binary(col("batch_body"), lit("utf-8"))).as("batch_md5"))
      .orderBy("tag", "batch_idx")

  private def pipeBackoff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.range(20).map(n => (n, Backoff.delayMillis(n.toDouble)))
      .toDF("attempt", "delay_ms").orderBy("attempt")
  }

  private def pipeDevZero(s: SparkSession, dir: String): DataFrame =
    Sources.devZeroBatch(s, 1024).toDF()
      .select(element_at(col("headers"), "seq").cast("long").as("seq"), col("body"))
      .orderBy("seq")

  private def pipeHeaders(s: SparkSession, dir: String): DataFrame = {
    val events = Sources.eventsTableAsEvents(t(s, dir, "events"))
    val enriched = InterceptorChain(Seq(HeaderEnrich("t", Map("source" -> "graft"))))(events)
    enriched.toDF().select(
        element_at(col("headers"), "event_id").cast("long").as("event_id"),
        array_join(sort_array(transform(map_entries(col("headers")),
          e => concat(e.getField("key"), lit("="), e.getField("value")))), ",")
          .as("headers_flat"))
      .orderBy("event_id")
  }

  private def pipeDumpCodec(s: SparkSession, dir: String): DataFrame = {
    implicit val enc = Encoders.product[(Long, String)]
    t(s, dir, "events").select(col("event_id"), col("props"), col("event_type"))
      .as(Encoders.product[(Long, String, String)])
      .map { case (id, props, et) =>
        (id, DumpCodec.encode(Event(props, Map("et" -> et)))) }
      .toDF("event_id", "dump").orderBy("event_id")
  }

  private def pipeGzip(s: SparkSession, dir: String): DataFrame = {
    // Oracle-able on the DECODE side: zlib bytes aren't bit-stable across
    // engines, but gunzip(gzip(x)) = x is. Project the round-tripped text
    // (+ its char length and md5 of the utf-8 bytes) so DuckDB can verify
    // the output equals the original column directly — hash_match proves
    // the codec round-trips, retiring the rows-only waiver.
    val plain = GZ.gunzip(GZ.gzip(to_binary(col("text"), lit("utf-8"))))
    t(s, dir, "documents").select(
        col("doc_id"),
        decode(plain, "utf-8").as("roundtrip_text"),
        length(decode(plain, "utf-8")).as("plain_chars"),
        md5(plain).as("plain_md5"))
      .orderBy("doc_id")
  }

  // ==== streaming-semantics queries (batch twins) =========================

  private def streamHourWindow(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy((expr("ts_ms DIV 3600000") * 3600000L).as("hour_ms"),
               col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(cents(col("value"))).as("sum_value_c"))
      .orderBy("hour_ms", "event_type")

  private def streamSessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events(s, dir)
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ms").isNull ||
             col("ts_ms") - col("prev_ms") > 1800000L, 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(sum("new_session").as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** Batch twin of the watermarked stream-stream interval join, run through
    * the SAME `StreamJoins.intervalJoin` code path the live engine uses
    * (withWatermark is a defined no-op in batch): views attributed to each
    * purchase when they precede it by < 30 minutes for the same user. The
    * live path (MemoryStream × MemoryStream, state cleanup under advancing
    * watermark) is covered in PipelineStreamingSpec. */
  private def streamIntervalJoin(s: SparkSession, dir: String): DataFrame = {
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
        "user_id", lowerMs = -1800000L, upperMs = 0L)
      .select(col("user_id"), col("purchase_id"), col("view_id"),
              (unix_millis(col("p_ts")) - unix_millis(col("v_ts"))).as("gap_ms"))
      .orderBy("purchase_id", "view_id")
  }

  /** Left-outer variant: every purchase appears; those with no preceding
    * view in the interval carry NULL view columns. In the live engine the
    * NULL-padded rows flush when the watermark passes each row's join
    * window (spec-driven); in batch they appear immediately. */
  private def streamIntervalJoinLeft(s: SparkSession, dir: String): DataFrame = {
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
        "user_id", lowerMs = -1800000L, upperMs = 0L, joinType = "left_outer")
      .select(col("user_id"), col("purchase_id"), col("view_id"),
              (unix_millis(col("p_ts")) - unix_millis(col("v_ts"))).as("gap_ms"))
      .orderBy("purchase_id", "view_id")
  }

  /** Full-outer variant: every purchase AND every view appears; unmatched
    * rows on either side carry NULLs for the other side's columns (the
    * key survives via the coalesce in `intervalJoin`). In the live engine
    * both sides' NULL-padded rows flush as the watermark passes their join
    * windows (spec-driven in PipelineStreamingSpec); in batch immediately. */
  private def streamIntervalJoinFull(s: SparkSession, dir: String): DataFrame = {
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
        "user_id", lowerMs = -1800000L, upperMs = 0L, joinType = "full_outer")
      .select(col("user_id"), col("purchase_id"), col("view_id"),
              (unix_millis(col("p_ts")) - unix_millis(col("v_ts"))).as("gap_ms"))
      .orderBy("user_id", "purchase_id", "view_id")
  }

  /** Right-outer variant: every view appears; views attributable to no
    * purchase in the interval carry NULL purchase columns. Completes the
    * gate coverage of the four interval-join types (inner/left/full have
    * rows already); live flush semantics spec'd in PipelineStreamingSpec. */
  private def streamIntervalJoinRight(s: SparkSession, dir: String): DataFrame = {
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
        "user_id", lowerMs = -1800000L, upperMs = 0L, joinType = "right_outer")
      .select(col("user_id"), col("purchase_id"), col("view_id"),
              (unix_millis(col("p_ts")) - unix_millis(col("v_ts"))).as("gap_ms"))
      .orderBy("user_id", "view_id", "purchase_id")
  }

  private def streamDedupEvents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("user_id", "event_type")
      .agg(min("event_id").as("first_event_id"), count(lit(1)).as("n"))
      .orderBy("user_id", "event_type")

  // ==== behavioral analytics over the event stream ========================

  /** Conversion funnel signup → view → click → purchase, 7-day bound
    * between consecutive steps — first-touch semantics; see
    * [[graft.operators.Analytics.funnel]] for the co-partitioned per-step
    * chaining that keeps every stage on the `user_id` partitioning. */
  private def eventsFunnel(s: SparkSession, dir: String): DataFrame =
    Analytics.funnel(events(s, dir), "user_id", "event_type", "ts_ms",
      Seq("signup", "view", "click", "purchase"),
      windowMs = Some(7L * 86400000L))

  /** Weekly cohort retention matrix over the event stream (cohort = first-
    * activity week, distinct-user activity per week offset). */
  private def eventsRetention(s: SparkSession, dir: String): DataFrame =
    Analytics.retention(events(s, dir), "user_id", "ts_ms")

  /** Batch sessionization with per-session stats: sessions split on 30-min
    * inactivity gaps (same rule as `stream_sessionize`, which only counts
    * them); one ordered window pass per user assigns the running session
    * sequence, then a co-partitioned aggregate emits start/end/duration/
    * event mix per session. Deterministic ordering ties break on event_id. */
  private def eventsSessions(s: SparkSession, dir: String): DataFrame =
    sessionized(s, dir)
      .groupBy("user_id", "session_seq")
      .agg(min("ts_ms").as("start_ms"), max("ts_ms").as("end_ms"),
           (max("ts_ms") - min("ts_ms")).as("duration_ms"),
           count(lit(1)).as("n_events"),
           sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
             .as("n_purchases"))
      .orderBy("user_id", "session_seq")

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

  /** Frequent sequential patterns (clickstream trigrams with support) —
    * the order-k extension of the bigram `events_transitions` family:
    * which 3-step behavior paths recur across each user's full event
    * sequence, support-filtered (the gate corpus's sessions cap at 3
    * events, so session-scoped trigrams are vacuous there — user-scoped
    * paths are the meaningful mining unit). One user-keyed window shuffle
    * (the same key every events query partitions by) and a map-side-
    * combinable count; the pattern key space is |event types|^3, tiny at
    * any corpus scale. */
  private def eventsSeqPatterns(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    events(s, dir)
      .withColumn("e2", lead("event_type", 1).over(w))
      .withColumn("e3", lead("event_type", 2).over(w))
      .where(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= 20L)
      .orderBy(col("n").desc, col("e1").asc, col("e2").asc, col("e3").asc)
  }

  /** Within-session behavior-path transitions (the Markov matrix product
    * analytics builds "users go view → click → purchase" funnels from):
    * ordered lag inside each (user, session), transition counts, and each
    * source state's outgoing probability. The lag window rides the SAME
    * user-key shuffle as sessionization. */
  private def eventsTransitions(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** Session path mining: top within-session event-type TRIGRAMS — the
    * sequence patterns the pairwise transition matrix cannot see
    * (view→click→purchase vs view→click→view tell different stories
    * with identical bigram counts). Two lag() reads on the session
    * window the sessionization already paid for, then one count
    * aggregate over slim type-triple rows; top-20 via
    * TakeOrderedAndProject. */
  private def eventsPaths(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** Churn cohorts over the fixed 30-day window: users bucketed by
    * which half of the window they were active in — `retained` (both),
    * `churned` (first half only), `new` (second half only) — plus each
    * bucket's event volume. Two distinct-collapsed activity flags per
    * user, one aggregate; no event-pair joins. */
  private def eventsChurn(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** Daily/28-day active users and the DAU/MAU stickiness ratio. The
    * distinct (day, user) collapse happens BEFORE any join; the trailing
    * window is a broadcast non-equi join against the tiny day dimension
    * (one row per day — always broadcastable regardless of corpus size). */
  private def eventsDauMau(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** MAD-based robust outliers on purchase values per event type
    * ([[graft.operators.Analytics.madOutliers]]): money canonicalized to
    * exact cents first, so both median passes are over longs and the
    * deviations replay bit-exactly in the oracle. */
  private def eventsAnomaly(s: SparkSession, dir: String): DataFrame =
    Analytics.madOutliers(
        events(s, dir).select(col("event_id"), col("event_type"),
          cents(col("value")).as("value_cents")),
        "event_type", "value_cents", nMads = 3.0)
      .select("event_id", "event_type", "value_cents", "dev", "mad")
      .orderBy("event_id")

  /** Seasonally-adjusted volume anomalies: hourly counts are first
    * de-seasonalized against the per-(type, hour-of-day) integer-mean
    * profile, then MAD-flagged on the RESIDUALS — the detector that
    * catches a quiet-hour spike a raw-volume MAD would call normal and
    * skips the daily peak it would false-alarm on. Composition of two
    * existing shapes (the `events_hourly_profile` rollup and
    * [[Analytics.madOutliers]]); two combinable aggregates plus the
    * type-keyed median windows, all on slim (type, hour, count) rows. */
  private def eventsSeasonalAnomaly(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** Trend-aware volume smoothing per event type
    * ([[graft.operators.Analytics.holtSmoothing]]): hourly counts folded
    * through the fixed-point Holt recurrence; the final level/trend state
    * plus the 1-step forecast, bit-exact vs the oracle's recursive-CTE
    * replay of the same integer recurrence. */
  private def eventsHolt(s: SparkSession, dir: String): DataFrame =
    Analytics.holtSmoothing(
        events(s, dir)
          .groupBy(col("event_type"),
                   expr("ts_ms DIV 3600000").as("hour"))
          .agg(count(lit(1)).as("y")),
        "event_type", "hour", "y")
      .orderBy("event_type")

  /** First/last-touch attribution: purchases credited to the preceding
    * click/view by the same user (total order: ts_ms, event_id), revenue
    * rolled up per touch channel in exact cents. */
  private def eventsAttribution(s: SparkSession, dir: String): DataFrame =
    Analytics.attribution(
        events(s, dir).withColumn("value_cents", cents(col("value"))),
        "user_id", Seq("ts_ms", "event_id"), "event_type", "value_cents",
        conversionType = "purchase", touchTypes = Seq("click", "view"))
      .orderBy("touch_type")

  /** One-step-ahead Holt backtest vs the naive last-value forecast, over
    * the same per-(type, hour) counts as `events_holt` — the error column
    * that tells whether the trend model earns its keep. */
  private def eventsForecastEval(s: SparkSession, dir: String): DataFrame =
    Analytics.holtBacktest(
        events(s, dir)
          .groupBy(col("event_type"),
                   expr("ts_ms DIV 3600000").as("hour"))
          .agg(count(lit(1)).as("y")),
        "event_type", "hour", "y")
      .orderBy("event_type")

  /** Deterministic A/B report over hash-assigned arms: conversion and
    * revenue per variant plus the doubled Mann-Whitney rank-sum `u2`
    * (exact integer midranks) over per-user purchase revenue. */
  private def eventsAbTest(s: SparkSession, dir: String): DataFrame =
    Analytics.abTestReport(
        events(s, dir).withColumn("value_cents", cents(col("value"))),
        "user_id", "event_type", "value_cents", "purchase")
      .orderBy("variant")

  /** Weekly cohort LTV triangle: purchase revenue per (first-seen cohort,
    * age) cell with running cumulative cents and LTV per cohort member. */
  private def eventsCohortLtv(s: SparkSession, dir: String): DataFrame =
    Analytics.cohortLtv(
        events(s, dir).withColumn("value_cents", cents(col("value"))),
        "user_id", "ts_ms", "event_type", "value_cents", "purchase")
      .orderBy("cohort", "age")

  /** Two-sided CUSUM drift detection over the same per-(type, hour)
    * counts as `events_holt`: sustained volume shifts accumulate to
    * alarms; pure integer fold vs the recursive-CTE replay. */
  private def eventsCusum(s: SparkSession, dir: String): DataFrame =
    Analytics.cusumChangepoints(
        events(s, dir)
          .groupBy(col("event_type"),
                   expr("ts_ms DIV 3600000").as("hour"))
          .agg(count(lit(1)).as("y")),
        "event_type", "hour", "y")
      .orderBy("event_type")

  /** A-priori frequent-pair mining over the order/part relation: which
    * parts are co-ordered, with support / confidence / lift in exact
    * integer ppm. The frequent-item semi-join before the per-order
    * self-join is the plan (see [[Analytics.basketRules]]). */
  private def qBasketRules(s: SparkSession, dir: String): DataFrame =
    Analytics.basketRules(t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        minItemSupport = 20L, minPairSupport = 2L)
      .orderBy(col("n_ab").desc, col("item_a").asc, col("item_b").asc)

  /** Long-run session behavior: the stationary distribution of the
    * within-session transition chain (same counts as
    * `events_transitions`), 8 fixed-point power iterations. */
  private def eventsMarkov(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** RFM segmentation over the event log: per-user recency (hours since
    * corpus max), frequency, purchase cents, scored 1..5 against fixed
    * cuts drawn from the corpus quintiles. */
  private def eventsRfm(s: SparkSession, dir: String): DataFrame =
    Analytics.rfmScores(
        events(s, dir).withColumn("value_cents", cents(col("value"))),
        "user_id", "ts_ms", "event_type", "value_cents", "purchase",
        rHourCuts = Seq(2L, 5L, 8L, 16L),
        fCuts = Seq(59L, 64L, 69L, 74L),
        mCuts = Seq(46000L, 55000L, 64000L, 80000L))
      .orderBy("user_id")

  /** Exact media dedup by content digest — the first pass of every
    * multimodal pipeline: decode once (digest extracted at the decode
    * stage, bytes never shuffle), group by digest, min-id survivor. */
  private def mmDedupExact(s: SparkSession, dir: String): DataFrame = {
    // the corpus holds near-dups but no byte-exact ones — plant them (a
    // re-keyed full copy), so every digest group is a genuine 2-way dup
    // and the survivor cut actually cuts
    val base = t(s, dir, "documents")
    val docs = base.unionByName(
        base.withColumn("doc_id", col("doc_id") + 1000000L))
      .withColumn("kind", lit("image"))
    val media = Multimodal.withBinaryPayload(docs, "doc_id", "text", col("kind"))
    Multimodal.decodeMeta(media).toDF()
      .groupBy("payload_md5")
      .agg(min(col("id")).as("survivor_id"), count(lit(1)).as("dup_count"),
           sum(col("byteLen")).as("total_bytes"))
      .select("survivor_id", "dup_count", "total_bytes", "payload_md5")
      .orderBy("survivor_id")
  }

  /** In-engine filter training: 4 batch-perceptron epochs separating
    * lang='en' from the rest on integer quality features — order-free
    * integer updates, weights bit-replayable in DuckDB. */
  private def textPerceptron(s: SparkSession, dir: String): DataFrame = {
    val comps = TF.qualityComponents(col("text")).toMap
    TextAnalysis.perceptronEpochs(
        t(s, dir, "documents"),
        when(col("lang") === "en", 1L).otherwise(-1L),
        Seq(comps("n_tokens"), comps("punct_pm"), comps("stop_hits")),
        epochs = 4)
      .orderBy("epoch")
  }

  /** Quality-first token-budget cut: the best-scoring documents admitted
    * until the 12k-token training budget is spent — global rank-ordered
    * prefix sum with no single-task window (the order is encoded into the
    * range-partition key). */
  private def curationTokenBudget(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenBudgetCut(t(s, dir, "documents"), "doc_id",
        TF.qualityScore(col("text")), TF.bpeishTokenCount(col("text")),
        budget = 12000L)
      .orderBy("doc_id")

  /** LIVE streaming attribution — time-sliced ingestion (three
    * micro-batches in event-time order), per-user first/last-touch state
    * carried across batches via `flatMapGroupsWithState`
    * ([[graft.streaming.Attribution]]), conversions credited as they
    * arrive, the credit stream sunk to parquet and rolled up into the
    * SAME report as `events_attribution` — gated against the identical
    * oracle, proving batch/streaming parity for the stateful fold. */
  private def streamAttribution(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    import s.implicits._
    val work = graft.util.TempDirs.create("graft-stream-attr")
    val inDir = work.resolve("in")
    java.nio.file.Files.createDirectories(inDir)
    val ev = events(s, dir).select(col("user_id"), col("event_id"),
      col("ts_ms"), col("event_type"), cents(col("value")).as("value_cents"))
    // fixed event-time slices (the data spans 2024-01): batch order =
    // time order, the streaming fold's ordering contract
    val cuts = Seq(Long.MinValue, 1704931200000L, 1705795200000L, Long.MaxValue)
    (0 to 2).foreach { i =>
      val part = work.resolve(s"b$i")
      ev.where(col("ts_ms") >= cuts(i) && col("ts_ms") < cuts(i + 1))
        .coalesce(1).write.parquet(part.toString)
      val src = part.toFile.listFiles().find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file under $part"))
      val dst = inDir.resolve(s"b$i.parquet").toFile
      require(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
    }
    val incoming = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    val credits = incoming.as[graft.streaming.Attribution.In]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())(
        graft.streaming.Attribution.creditsPerGroup(
          Set("click", "view"), "purchase"))
    val out = work.resolve("out").toString
    val q = credits.toDF().writeStream.outputMode("append")
      .option("checkpointLocation", work.resolve("ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", out).start()
    q.awaitTermination()
    val em = s.read.parquet(out)
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
  }

  /** Live cohort-LTV twin: first-seen cohorts carried as per-user state
    * across time-sliced micro-batches, purchases emitted against the
    * carried cohort, then rolled into the SAME triangle as the batch
    * operator — gated against the identical oracle (batch/stream parity). */
  private def streamCohortLtv(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    import s.implicits._
    val wk = 604800000L
    val work = graft.util.TempDirs.create("graft-stream-ltv")
    val inDir = work.resolve("in")
    java.nio.file.Files.createDirectories(inDir)
    val ev = events(s, dir).select(col("user_id"), col("event_id"),
      col("ts_ms"), col("event_type"), cents(col("value")).as("value_cents"))
    val cuts = Seq(Long.MinValue, 1704931200000L, 1705795200000L, Long.MaxValue)
    (0 to 2).foreach { i =>
      val part = work.resolve(s"b$i")
      ev.where(col("ts_ms") >= cuts(i) && col("ts_ms") < cuts(i + 1))
        .coalesce(1).write.parquet(part.toString)
      val src = part.toFile.listFiles().find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file under $part"))
      val dst = inDir.resolve(s"b$i.parquet").toFile
      require(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
    }
    val incoming = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    val emits = incoming.as[graft.streaming.CohortLtv.In]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())(
        graft.streaming.CohortLtv.perGroup("purchase", wk))
    val out = work.resolve("out").toString
    val q = emits.toDF().writeStream.outputMode("append")
      .option("checkpointLocation", work.resolve("ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", out).start()
    q.awaitTermination()
    val em = s.read.parquet(out)
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
  }

  /** Live CUSUM monitor twin: accumulators carried as per-type state
    * across time-sliced (hour-aligned) micro-batches against a fixed
    * 3-events/hour baseline; gated against the recursive-CTE oracle with
    * the same constant target (batch/stream parity, deployed form). */
  private def streamCusum(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    import s.implicits._
    val targetFp = 3145728L // 3 events/hour at the 2^20 fixed point
    val work = graft.util.TempDirs.create("graft-stream-cusum")
    val inDir = work.resolve("in")
    java.nio.file.Files.createDirectories(inDir)
    val evBase = events(s, dir)
    val cuts = Seq(Long.MinValue, 1704931200000L, 1705795200000L, Long.MaxValue)
    (0 to 2).foreach { i =>
      val part = work.resolve(s"b$i")
      evBase.where(col("ts_ms") >= cuts(i) && col("ts_ms") < cuts(i + 1))
        .select(col("event_type").as("group"),
          expr("ts_ms DIV 3600000").as("bucket"))
        .coalesce(1).write.parquet(part.toString)
      val src = part.toFile.listFiles().find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file under $part"))
      val dst = inDir.resolve(s"b$i.parquet").toFile
      require(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("group",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.LongType)))
    val incoming = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    val snaps = incoming.as[graft.streaming.CusumMonitor.In]
      .groupByKey(_.group)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())(
        graft.streaming.CusumMonitor.perGroup(targetFp, 8L, 20))
    val out = work.resolve("out").toString
    val q = snaps.toDF().writeStream.outputMode("append")
      .option("checkpointLocation", work.resolve("ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", out).start()
    q.awaitTermination()
    // latest snapshot per group = the one with the most buckets folded
    s.read.parquet(out).groupBy(col("group"))
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
  }

  /** Fact-to-dim join under key skew via salt replication
    * ([[graft.operators.Analytics.saltedJoin]]): events scatter across 8
    * salt copies of the customer dim, pinned to a shuffled-hash join (the
    * manual skew shape for dims too big to broadcast); the aggregate is
    * identical to the plain join, which is exactly what the oracle runs. */
  private def qSkewSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val dim = t(s, dir, "customer").select(col("c_custkey").as("user_id"),
      col("c_mktsegment"))
    Analytics.saltedJoin(ev, dim, "user_id", nSalts = 8,
        saltSrc = col("event_id"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("user_id")).as("n_users"),
           sum(when(col("event_type") === "purchase", cents(col("value")))
             .otherwise(lit(0L))).as("purchase_cents"))
      .orderBy("c_mktsegment")
  }

  // ==== relational queries (Catalyst built-ins; bench headliners) =========

  /** Exact money-to-integer canonicalization: double → DECIMAL(18,2) (exact
    * round of the 2-dec source value) → scaled BIGINT, applied PER ROW before
    * any sum so the aggregate is pure long arithmetic. DECIMAL never appears
    * in an output schema: fixed-scale decimals render with trailing zeros
    * ("570.00") on one engine and shortest-float ("570.0") on the other,
    * which is representation-hash poison even when every cell is equal. */
  private def cents(c: Column): Column =
    (c.cast("decimal(18,2)") * 100).cast("long")

  /** revenue term l_extendedprice*(1-l_discount) has 4 exact decimals →
    * ten-thousandths as BIGINT. */
  private def revenueTm(price: Column, discount: Column): Column =
    ((price.cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - discount.cast("decimal(18,2)"))) * 10000)
      .cast("long")

  private def q1Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(cents(col("l_quantity"))).as("sum_qty_c"),
        sum(cents(col("l_extendedprice"))).as("sum_base_price_c"),
        sum(revenueTm(col("l_extendedprice"), col("l_discount"))).as("sum_disc_price_tm"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** ROLLUP grouping sets: per (flag, status), per flag, and grand total in
    * ONE aggregation pass — Catalyst plans grouping sets as a single Expand
    * (+3× rows) feeding one partial+final aggregate, not three scans. NULL
    * group markers are coalesced to 'ALL' and disambiguated by
    * `grouping_id()` so the output carries no NULL sort-order hazard
    * (Spark sorts NULLS FIRST, DuckDB NULLS LAST). */
  private def qRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(cents(col("l_quantity"))).as("sum_qty_c"),
           count(lit(1)).as("n"),
           grouping_id().cast("long").as("gid"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag_g"),
              coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus_g"),
              col("gid"), col("sum_qty_c"), col("n"))
      .orderBy("gid", "l_returnflag_g", "l_linestatus_g")

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * MATCH each other, the semantics a plain equi-join silently drops.
    * Both sides derive a nullable key (status 'P' → NULL), so the
    * NULL↔NULL match population is real; Spark still plans this as a
    * hash join (null-safe equality is hashable), not a nested loop. */
  private def qJoinNullSafe(s: SparkSession, dir: String): DataFrame = {
    // price filter keeps the per-key pair fan-out bounded at bench scale
    val o = t(s, dir, "orders").where(col("o_totalprice") > 450000)
    def k(c: Column): Column = when(col("o_orderstatus") === "P", lit(null)
      .cast("string")).otherwise(c)
    val a = o.select(k(col("o_orderpriority")).as("ka"),
                     col("o_orderkey").as("key_a"))
    val b = o.select(k(col("o_orderpriority")).as("kb"),
                     col("o_orderkey").as("key_b"))
    a.join(b, col("ka") <=> col("kb"))
      .groupBy(coalesce(col("ka"), lit("NULLKEY")).as("k"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("k")
  }

  /** FULL OUTER equi-join with real unmatched rows on BOTH sides:
    * high-value customers vs urgent orders — each side keeps its
    * non-matching population NULL-padded. */
  private def qFullOuter(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").where(col("c_acctbal") > 9000)
      .select(col("c_custkey"), col("c_mktsegment"))
    val o = t(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_urgent"))
    c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
      .select(
        when(col("c_custkey").isNull, lit("order_only"))
          .when(col("o_custkey").isNull, lit("customer_only"))
          .otherwise(lit("both")).as("side"),
        coalesce(col("c_custkey"), col("o_custkey")).as("key"),
        col("c_mktsegment"), col("n_urgent"))
      .orderBy("side", "key")
  }

  /** UNPIVOT — the wide→long inverse of `q_pivot`: a per-status wide
    * aggregate (one summed column per return flag) melted back to
    * (status, flag, value) rows. Null cells are coalesced to 0 BEFORE
    * the melt: Spark's unpivot keeps null value rows while DuckDB's
    * UNPIVOT drops them, so the contract is pinned by never producing
    * one. */
  private def qUnpivot(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    def qty(flag: String) = coalesce(
      sum(when(col("l_returnflag") === flag, cents(col("l_quantity")))),
      lit(0L))
    val wide = li.groupBy("l_linestatus")
      .agg(qty("A").as("qty_a"), qty("N").as("qty_n"), qty("R").as("qty_r"))
    wide.unpivot(Array(col("l_linestatus")),
        Array(col("qty_a"), col("qty_n"), col("qty_r")),
        "flag", "sum_qty_c")
      .orderBy("l_linestatus", "flag")
  }

  /** EXPLICIT grouping sets — the arbitrary-subset form rollup/cube can't
    * express: here {(flag, status), (flag), (status)} but NOT the grand
    * total, i.e. two independent one-key rollups sharing one Expand +
    * one aggregate pass. */
  private def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("graft_gs_lineitem")
    s.sql("""
      SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag_g,
             coalesce(l_linestatus, 'ALL') AS l_linestatus_g,
             CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid,
             CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS sum_qty_c,
             count(*) AS n
      FROM graft_gs_lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                              (l_returnflag), (l_linestatus))
      ORDER BY gid, l_returnflag_g, l_linestatus_g""")
  }

  /** Full CUBE over the same keys as `q_rollup` — all four grouping sets,
    * completing the grouping-sets surface (rollup covers the prefix
    * chain only). Same single-pass partial-aggregate expansion. */
  private def qCube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(cents(col("l_quantity"))).as("sum_qty_c"),
           count(lit(1)).as("n"),
           grouping_id().cast("long").as("gid"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag_g"),
              coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus_g"),
              col("gid"), col("sum_qty_c"), col("n"))
      .orderBy("gid", "l_returnflag_g", "l_linestatus_g")

  /** Min-per-group join-back (the TPC-H Q2 correlated-subquery core,
    * decorrelated): each order paired with its cheapest lineitem. The
    * rank-1 window prunes map-side (partial WindowGroupLimit) — never a
    * self-join of the fact table against a grouped-min subquery, which
    * would scan it twice. Ties break on linenumber for determinism. */
  private def qCheapestLineitem(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_orderkey")
      .orderBy(col("l_extendedprice").asc, col("l_linenumber").asc)
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("l_orderkey"), col("l_linenumber"),
              cents(col("l_extendedprice")).as("price_c"))
      .orderBy("l_orderkey")
  }

  /** Per-day top-3 spenders — time-sliced top-k, the leaderboard query.
    * WindowGroupLimit prunes each day's candidates before the rank
    * exchange; spend is exact cents. */
  private def eventsWindowedTopK(s: SparkSession, dir: String): DataFrame = {
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
  }

  /** Pivot with an EXPLICIT value list: one aggregation pass (no distinct
    * pre-scan for the pivot domain — at 100 TB the domain is config, not
    * data). Missing combinations fill 0. */
  private def qPivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_id")

  private def q3TopK(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"),
               date_format(o("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
      .agg(sum(revenueTm(col("l_extendedprice"), col("l_discount"))).as("revenue_tm"))
      .orderBy(col("revenue_tm").desc, col("l_orderkey").asc)
      .limit(10)
  }

  private def q5Join(s: SparkSession, dir: String): DataFrame = {
    val r = t(s, dir, "region").where(col("r_name") === "ASIA")
    val n = t(s, dir, "nation")
    val c = t(s, dir, "customer")
    val su = t(s, dir, "supplier")
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(su, l("l_suppkey") === su("s_suppkey"))
      .join(c, o("o_custkey") === c("c_custkey") &&
               c("c_nationkey") === su("s_nationkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(revenueTm(col("l_extendedprice"), col("l_discount"))).as("revenue_tm"))
      .orderBy("n_name")
  }

  private def qWindowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 2)
      .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rk")
  }

  private def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val building = c.where(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val rich = c.where(col("c_acctbal") > 5000).select("c_custkey")
    val inter = building.intersect(rich).select(lit("intersect").as("op"), col("c_custkey"))
    val exc = building.except(rich).select(lit("except").as("op"), col("c_custkey"))
    inter.unionByName(exc).orderBy("op", "c_custkey")
  }

  /** MERGE INTO semantics without a table format: base ⟗ updates on the
    * key; matched rows take the update (action `updated`), unmatched
    * updates insert, unmatched base rows keep. One co-partitioned
    * full-outer join — the shape every upsert compaction job has; a real
    * lakehouse MERGE adds file-level pruning on top, the row semantics
    * are exactly this. */
  private def qUpsert(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val base = o.where(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("base_c"))
    val updates = o.where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"),
              (cents(col("o_totalprice")) + 100000L).as("upd_c"))
    base.join(updates, Seq("o_orderkey"), "full_outer")
      .select(col("o_orderkey"),
        coalesce(col("upd_c"), col("base_c")).as("price_c"),
        when(col("base_c").isNotNull && col("upd_c").isNotNull, "updated")
          .when(col("base_c").isNull, "inserted")
          .otherwise("kept").as("action"))
      .orderBy("o_orderkey")
  }

  /** SCD Type-2 dimension build from a changelog: each user's purchase
    * history becomes validity intervals — `valid_to` is the NEXT change's
    * timestamp (NULL = current row). One lead() pass on the user-key
    * shuffle; same-timestamp collisions pre-collapsed like the as-of
    * changelog. */
  private def qScd2(s: SparkSession, dir: String): DataFrame = {
    val ch = events(s, dir).where(col("event_type") === "purchase")
      .groupBy("user_id", "ts_ms")
      .agg(max(cents(col("value"))).as("value_c"))
    val w = Window.partitionBy("user_id").orderBy("ts_ms")
    ch.select(col("user_id"), col("value_c"),
        col("ts_ms").as("valid_from"),
        lead(col("ts_ms"), 1).over(w).as("valid_to"))
      .orderBy("user_id", "valid_from")
  }

  /** Multiset (ALL) set ops — the bag semantics `q_setops`' distinct
    * variants don't cover; aggregated to per-key multiplicities so the
    * gate row count stays compact. */
  private def qSetOpsAll(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val a = l.where(col("l_returnflag") === "R").select("l_orderkey")
    val b = l.where(col("l_linestatus") === "F").select("l_orderkey")
    val interAll = a.intersectAll(b)
      .select(lit("intersect_all").as("op"), col("l_orderkey"))
    val excAll = a.exceptAll(b)
      .select(lit("except_all").as("op"), col("l_orderkey"))
    interAll.unionByName(excAll)
      .groupBy("op", "l_orderkey").agg(count(lit(1)).as("n"))
      .orderBy("op", "l_orderkey")
  }

  /** Grouped exact quantiles over exact cents (percentile ≡ DuckDB
    * quantile_cont: same 1+(n-1)p linear interpolation — the equivalence
    * events_anomaly's medians already rest on). */
  private def qQuantiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), cents(col("l_extendedprice")).as("price_c"))
      .groupBy("l_returnflag")
      // ONE percentile aggregate (array form) instead of three scalar
      // ones: each scalar `percentile` builds its own per-group value
      // counts map over every row; the array form accumulates once and
      // interpolates all three points from the same map — identical
      // values (same sort, same interpolation code path), one third the
      // aggregation state and CPU (guide §2.3 aggregate-before-shuffle)
      .agg(expr("percentile(price_c, array(0.5, 0.9, 0.99))").as("pcts"),
           count(lit(1)).as("n"))
      .select(col("l_returnflag"),
              col("pcts").getItem(0).as("p50"),
              col("pcts").getItem(1).as("p90"),
              col("pcts").getItem(2).as("p99"),
              col("n"))
      .orderBy("l_returnflag")

  private def qSortLimit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select("o_orderkey", "o_totalprice")
      .limit(100)

  private def qSemiAnti(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("n")).select(lit("with_orders").as("kind"), col("n"))
    val withoutOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n")).select(lit("without_orders").as("kind"), col("n"))
    withOrders.unionByName(withoutOrders).orderBy("kind")
  }

  private def qDistinctAgg(s: SparkSession, dir: String): DataFrame = {
    val su = t(s, dir, "supplier")
    val n = t(s, dir, "nation")
    su.join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(countDistinct(col("s_suppkey")).as("n_suppliers"),
           count(lit(1)).as("n_rows"))
      .orderBy("n_name")
  }

  /** As-of (point-in-time) join: each event annotated with the user's most
    * recent purchase value at or before the event — Spark has no built-in
    * ASOF JOIN; see `Relational.asofJoin` for the single-shuffle shape. */
  private def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val probe = ev.select("event_id", "user_id", "ts_ms")
    val changelog = ev.where(col("event_type") === "purchase")
      .groupBy("user_id", "ts_ms")
      .agg(max("value").as("last_purchase_value"))
    graft.operators.Relational.asofJoin(probe, changelog, "user_id", "ts_ms",
        Seq("last_purchase_value"))
      .orderBy("event_id")
  }

  /** Forward as-of: the NEXT purchase value at-or-after each event (the
    * mirror of `q_asof_join`; same single-shuffle carry, reversed frame). */
  private def qAsofJoinFwd(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val probe = ev.select("event_id", "user_id", "ts_ms")
    val changelog = ev.where(col("event_type") === "purchase")
      .groupBy("user_id", "ts_ms")
      .agg(max("value").as("next_purchase_value"))
    graft.operators.Relational.asofJoin(probe, changelog, "user_id", "ts_ms",
        Seq("next_purchase_value"), direction = "forward")
      .orderBy("event_id")
  }

  /** Tolerance as-of: the most recent purchase at or before each event,
    * but only when fresher than 1 hour (pandas merge_asof(tolerance=)
    * semantics — stale state is no state for feature joins). Same single
    * key shuffle as `q_asof_join`; the tolerance is a row-local
    * projection over the carried match timestamp
    * ([[graft.operators.Relational.asofJoinTolerance]]). */
  private def qAsofJoinTolerance(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val probe = ev.select("event_id", "user_id", "ts_ms")
    val changelog = ev.where(col("event_type") === "purchase")
      .groupBy("user_id", "ts_ms")
      .agg(max(cents(col("value"))).as("last_purchase_value_c"))
    graft.operators.Relational.asofJoinTolerance(probe, changelog,
        "user_id", "ts_ms", Seq("last_purchase_value_c"),
        tolerance = 3600L * 1000L)
      .orderBy("event_id")
  }

  /** Nearest as-of: the closest purchase in EITHER direction (ties →
    * backward, the standard preference) — composed from the backward and
    * forward single-shuffle as-of passes with the matched timestamps
    * carried as value columns; the pick is a row-local CASE. Two key
    * shuffles total, no per-key cross product. */
  private def qAsofJoinNearest(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val probe = ev.select("event_id", "user_id", "ts_ms")
    val cl = ev.where(col("event_type") === "purchase")
      .groupBy("user_id", "ts_ms")
      .agg(max(cents(col("value"))).as("pv"))
    val clB = cl.select(col("user_id"), col("ts_ms"),
      col("pv").as("pv_b"), col("ts_ms").as("ts_b"))
    val clF = cl.select(col("user_id"), col("ts_ms"),
      col("pv").as("pv_f"), col("ts_ms").as("ts_f"))
    val back = graft.operators.Relational.asofJoin(probe, clB,
      "user_id", "ts_ms", Seq("pv_b", "ts_b"))
    val both = graft.operators.Relational.asofJoin(back, clF,
      "user_id", "ts_ms", Seq("pv_f", "ts_f"), direction = "forward")
    both.select(col("event_id"), col("user_id"), col("ts_ms"),
        when(col("ts_b").isNull && col("ts_f").isNull, lit(null))
          .when(col("ts_f").isNull, col("pv_b"))
          .when(col("ts_b").isNull, col("pv_f"))
          .when(col("ts_ms") - col("ts_b") <= col("ts_f") - col("ts_ms"),
                col("pv_b"))
          .otherwise(col("pv_f")).as("nearest_value_c"),
        when(col("ts_b").isNull && col("ts_f").isNull, lit(null))
          .when(col("ts_f").isNull, col("ts_ms") - col("ts_b"))
          .when(col("ts_b").isNull, col("ts_f") - col("ts_ms"))
          .otherwise(least(col("ts_ms") - col("ts_b"),
                           col("ts_f") - col("ts_ms"))).as("dist_ms"))
      .orderBy("event_id")
  }

  /** Dynamic partition pruning: the fact side is PARTITIONED on the join
    * key and the selective filter lives on the DIM side only — at plan
    * time no static partition filter exists, so the fact scan must be
    * pruned at RUNTIME from the dim side's broadcast (Spark inserts a
    * `dynamicpruning` subquery on the partition column; PlanSpec pins
    * it). This is the star-schema scan-elimination pattern: at 100 TB
    * the fact table only reads the partitions the dimension selects. */
  private def qDynamicPruning(s: SparkSession, dir: String): DataFrame = {
    val tag = layoutTag(dir)
    val ev = graft.operators.Relational.partitionMaterialize(
      t(s, dir, "events").select(col("event_id"), col("user_id"),
        cents(col("value")).as("value_c"), col("event_type")),
      s"graft_dpp_events_$tag", "event_type",
      s"${graft.util.Scratch.base}/graft_partitioned_$tag/events_dpp")
    // tiny dim DERIVED FROM A SCAN (a local Seq would constant-fold its
    // filter into the LocalRelation and DPP sees no selective predicate):
    // distinct event types with a derived billing flag, filtered by a
    // string equality (isLikelySelective accepts EqualTo, not a bare
    // boolean attribute).
    val dim = t(s, dir, "events").select(col("event_type").as("et")).distinct()
      .withColumn("billable",
        when(col("et").isin("purchase", "click"), "Y").otherwise("N"))
    ev.join(broadcast(dim), ev("event_type") === dim("et"))
      .where(col("billable") === "Y")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_value_c"))
      .orderBy("event_type")
  }

  /** Range (interval) join via time binning: events inside the 10-minute
    * window opened by each 'view' event of the same user. The raw non-equi
    * join would plan a nested loop; binning makes it an equi-join. */
  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val probe = ev.select(col("event_id"), col("user_id"), col("ts_ms"))
    val iv = ev.where(col("event_type") === "view")
      .select(col("event_id").as("iv_id"), col("user_id"),
              col("ts_ms").as("start_ms"),
              (col("ts_ms") + 600000L).as("end_ms"))
    graft.operators.Relational.rangeJoinBinned(probe, "ts_ms", iv,
        "start_ms", "end_ms", keyCol = Some("user_id"), binWidth = 600000L)
      .select(col("event_id"), col("iv_id"))
      .orderBy("event_id", "iv_id")
  }

  /** Correlated EXISTS / NOT EXISTS with a non-equi correlated predicate
    * (`o_totalprice > c_acctbal`): Catalyst rewrites both to left-semi /
    * left-anti joins with mixed equi + residual conditions — one shuffle
    * per subquery on the correlation key, no per-row re-execution. */
  private def qExistsSubquery(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("graft_sq_customer")
    t(s, dir, "orders").createOrReplaceTempView("graft_sq_orders")
    s.sql("""
      SELECT c_mktsegment, COUNT(*) AS n
      FROM graft_sq_customer c
      WHERE EXISTS (SELECT 1 FROM graft_sq_orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderstatus = 'O'
                      AND o.o_totalprice > c.c_acctbal)
        AND NOT EXISTS (SELECT 1 FROM graft_sq_orders o2
                        WHERE o2.o_custkey = c.c_custkey
                          AND o2.o_orderpriority = '1-URGENT')
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  }

  /** Scalar subqueries, uncorrelated and correlated: orders strictly above
    * the global / per-priority average price. The comparison is cross-
    * multiplied integer cents (`price_c * n > sum_c`) so no float mean is
    * ever materialized — partial-sum order can't perturb the answer on
    * either engine. Catalyst plans the uncorrelated pair as reusable
    * subquery broadcasts and rewrites the correlated pair to an aggregate
    * + equi-join — no per-row re-evaluation anywhere. */
  private def qScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_sq_orders2")
    s.sql("""
      WITH o AS (SELECT o_orderpriority,
                        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c
                 FROM graft_sq_orders2)
      SELECT 'global' AS kind, o_orderpriority, COUNT(*) AS n
      FROM o o1
      WHERE price_c * (SELECT COUNT(*) FROM o) > (SELECT SUM(price_c) FROM o)
      GROUP BY o_orderpriority
      UNION ALL
      SELECT 'per_priority' AS kind, o_orderpriority, COUNT(*) AS n
      FROM o o1
      WHERE price_c * (SELECT COUNT(*) FROM o o2
                       WHERE o2.o_orderpriority = o1.o_orderpriority)
                    > (SELECT SUM(price_c) FROM o o3
                       WHERE o3.o_orderpriority = o1.o_orderpriority)
      GROUP BY o_orderpriority
      ORDER BY kind, o_orderpriority""")
  }

  /** NOT IN over a subquery with a NULLable projection — SQL's three-valued
    * trap and Spark's dedicated NullAwareAntiJoin shape. The `nullable`
    * branch's list contains NULLs (status 'P' rows), so its NOT IN matches
    * nothing; the `clean` branch is a plain anti join with the real count.
    * Both engines must agree on both. */
  private def qNotInNullaware(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("graft_sq_customer3")
    t(s, dir, "orders").createOrReplaceTempView("graft_sq_orders3")
    s.sql("""
      SELECT 'not_in_nullable' AS kind, COUNT(*) AS n FROM graft_sq_customer3
      WHERE c_custkey NOT IN
        (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_custkey END
         FROM graft_sq_orders3 WHERE o_totalprice > 150000)
      UNION ALL
      SELECT 'not_in_clean' AS kind, COUNT(*) AS n FROM graft_sq_customer3
      WHERE c_custkey NOT IN
        (SELECT o_custkey FROM graft_sq_orders3
         WHERE o_totalprice > 150000 AND o_orderstatus <> 'P')
      ORDER BY kind""")
  }

  /** LATERAL VIEW posexplode: leading-token (first three positions)
    * distribution over normalized document text — the generator runs
    * inside whole-stage codegen, no join against the exploded relation. */
  private def qLateralExplode(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents").createOrReplaceTempView("graft_sq_documents")
    s.sql("""
      SELECT pos, tok, COUNT(*) AS n
      FROM graft_sq_documents
      LATERAL VIEW posexplode(split(trim(regexp_replace(regexp_replace(
        lower(text), '[^a-z0-9\\s]', ' '), '\\s+', ' ')), ' ')) tk AS pos, tok
      WHERE pos < 3 AND tok <> ''
      GROUP BY pos, tok
      HAVING COUNT(*) >= 5
      ORDER BY pos, n DESC, tok""")
  }

  /** Deterministic per-source-dir tag for materialized-layout table/path
    * names (letters and digits only — valid in both identifiers and
    * paths). */
  private def layoutTag(dir: String): String =
    java.lang.Long.toUnsignedString(
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        dir.getBytes("UTF-8"),
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        dir.getBytes("UTF-8").length, 42L), 36)

  /** Co-located join over bucket-materialized tables: both fact tables are
    * written once as bucketed+sorted parquet (the ingest-time shuffle),
    * then the join plans with ZERO exchanges — the 100 TB pattern for
    * repeated joins on a distribution key. The merge hint keeps the demo
    * honest at gate scale (a broadcast would hide the bucketing); the
    * plan shape (no Exchange, bucketed scans) is pinned in PlanSpec. */
  private def qBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Relational.bucketMaterialize
    // table/path names carry the source-dir tag: concurrent gate runs at
    // different SFs must not clobber each other's materialized layouts
    val tag = layoutTag(dir)
    val l = bucketMaterialize(
      t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_quantity").cast("long").as("qty")),
      s"graft_b_lineitem_$tag", "l_orderkey", 8,
      s"${graft.util.Scratch.base}/graft_bucketed_$tag/lineitem")
    val o = bucketMaterialize(
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
      s"graft_b_orders_$tag", "o_orderkey", 8,
      s"${graft.util.Scratch.base}/graft_bucketed_$tag/orders")
    l.hint("merge").join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(sum("qty").as("sum_qty"), count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  /** Partition-pruned scan over a partition-materialized table: events are
    * written once partitioned by event_type (the filter key), then the
    * filtered aggregate reads ONLY the matching directory — the scan's
    * `PartitionFilters` prune at planning time, zero IO for the rest.
    * PlanSpec pins the pruned scan shape. */
  private def qPartitionPruned(s: SparkSession, dir: String): DataFrame = {
    val tag = layoutTag(dir)
    val ev = graft.operators.Relational.partitionMaterialize(
      t(s, dir, "events").select(col("event_id"), col("user_id"),
        col("value"), col("event_type")),
      s"graft_p_events_$tag", "event_type",
      s"${graft.util.Scratch.base}/graft_partitioned_$tag/events")
    ev.where(col("event_type") === "purchase")
      .groupBy(expr("user_id DIV 100").as("user_bucket"))
      .agg(count(lit(1)).as("n"),
           sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("value_cents"))
      .orderBy("user_bucket")
  }

  // ==== LLM-data-pipeline operators ======================================

  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactSurvivors(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("text_hash")

  private def dedupNormalized(s: SparkSession, dir: String): DataFrame =
    Dedup.normalizedSurvivors(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("text_hash")

  private def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        numHashes = 128, bands = 16, threshold = 0.4)
      .orderBy("id_a", "id_b")

  private def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
      .orderBy("id_a", "id_b")

  /** Approximate blocking + EXACT verification — the production dedup shape.
    * Aggressive banding (64×2) makes candidate recall ≈ 1 at j ≥ 0.5, so the
    * verified output equals the exact all-pairs oracle. */
  private def dedupMinhashVerified(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashVerifiedPairs(t(s, dir, "documents"), "doc_id", "text",
        numHashes = 128, bands = 64, threshold = 0.5, shingleN = 3)
      .orderBy("id_a", "id_b")

  private def dedupNgram(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, threshold = 0.5, maxDocFreq = Long.MaxValue)
      .orderBy("id_a", "id_b")

  /** Containment dedup over a corpus with PLANTED near-subsets: every 7th
    * document contributes a 12-token snippet twin (id + 10⁶) — wholesale
    * quotes that symmetric Jaccard misses (J ≈ 12/|doc| but C ≈ 1). The
    * snippet text is built from the same normalized tokenizer both engines
    * share, so the construction replays exactly. */
  private def dedupContainment(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val snippets = docs.where(pmod(col("doc_id"), lit(7L)) === 0L)
      .select((col("doc_id") + 1000000L).as("doc_id"),
              array_join(slice(TF.tokens(col("text")), 1, 12), " ").as("text"))
    Dedup.containmentPairs(docs.union(snippets), "doc_id", "text",
        shingleN = 3, threshold = 0.8, maxDocFreq = Long.MaxValue)
      .orderBy("contained_id", "container_id")
  }

  /** Same exact-Jaccard contract as `dedup_ngram`, through the AllPairs
    * prefix filter — the gate proves the filter loses nothing (the oracle
    * is the same brute-force all-pairs SQL, only the threshold differs). */
  private def dedupNgramPrefix(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairsPrefix(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, threshold = 0.4)
      .orderBy("id_a", "id_b")

  /** Which sources near-duplicate which: the exact n-gram pair list rolled
    * up per unordered source pair. */
  private def curationOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.5, maxDocFreq = Long.MaxValue)
    Dedup.sourceOverlapMatrix(docs, pairs, "doc_id", "source")
      .orderBy("source_a", "source_b")
  }

  /** Gate config exercises the LSH-BLOCKED path — the 100 TB shape (the
    * brute-force config is O(n²) and exists for oracle/spec verification
    * only, kept as the `dedup_embedding_exact` twin). The oracle replicates
    * the hyperplane bucketing, so blocking is verified, not approximated. */
  private def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosinePairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, bruteForce = false)
      .orderBy("id_a", "id_b")

  private def dedupEmbeddingExact(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosinePairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, bruteForce = true)
      .orderBy("id_a", "id_b")

  /** SemDeDup over the embeddings table with the FIXED deterministic
    * coarse quantizer (same one `sim_ivf_verified` uses) so the oracle can
    * replay centroid assignment, the within-cluster cosine prune, and the
    * greedy survivor rule cell-exactly. */
  private def dedupSemantic(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticSurvivors(t(s, dir, "embeddings"), "vec_id", "embedding",
        Similarity.fixedCentroids(16, 64), threshold = 0.4)
      .orderBy("vec_id")

  private def simTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "qid", "qvec", k = 10)
      .orderBy("qid", "rank")
  }

  /** Hamming-space ANN over 1-bit sign codes (32× compression) with
    * exact-cosine rerank: the packed-code scan never reads float vectors;
    * the rerank probes the corpus with a broadcast candidate set. Same
    * query set as `sim_topk`. */
  private def simHammingTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.hammingTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
        dim = 64, k = 10, candK = 30)
      .orderBy("qid", "rank")
  }

  /** Label-filtered exact top-k (pre-filter semantics): each query
    * searches only corpus vectors sharing its label — the filtered
    * vector-search contract, returning a full k within the filter group
    * instead of post-filtering a global top-k down to fewer. */
  private def simFilteredTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("qlabel"))
    Similarity.filteredTopK(emb, "vec_id", "embedding", "label",
        q, "qid", "qvec", "qlabel", k = 10)
      .select(col("qid"), col("filter_value").cast("long").as("filter_value"),
        col("id"), col("cosine"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** Nearest-class-mean probe over the labeled embedding table:
    * fixed-point per-label centroids, squared-L2 assignment (ties to the
    * smaller label), confusion-matrix rollup — the "do these embeddings
    * separate the labels" diagnostic. Pure integer pipeline, bit-exact
    * vs the SQL replay. */
  private def simCentroidClassifier(s: SparkSession, dir: String): DataFrame =
    Similarity.centroidClassifierConfusion(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label")
      .orderBy("label", "pred")

  /** Executable masked corpus from the MLM plan: [MASK]/vocab-pick/keep
    * applied per position, per-doc action counts beside the text. */
  private def textMlmApply(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.mlmMaskApply(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** Executable T5 denoising pairs from the span plan: encoder inputs
    * with sentinel-replaced spans, decoder targets with the hidden
    * tokens — the artifact itself oracle-checked, not just the plan. */
  private def textSpanCorruptionApply(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.spanCorruptionApply(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** Hashing-trick bag-of-words features: 64 signed buckets per document,
    * vocabulary-free and bit-replayable. */
  private def textFeatureHashing(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.featureHashing(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id", "bucket")

  /** Deterministic T5-style span-corruption plan: hash-selected span
    * starts with hash-drawn lengths, merged into maximal sentinel-numbered
    * spans — bit-replayable denoising schedule. */
  private def textSpanCorruption(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.spanCorruptionPlan(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id", "span_start")

  /** Deterministic 15% MLM masking plan with the 80/10/10
    * mask/random/keep action split — hash-derived, so the plan is a pure
    * function of (corpus, seed) and replays bit-exactly in the oracle. */
  private def textMlmMasks(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.mlmMaskPlan(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id", "pos")

  /** Leakage audit over a 90/10 train/val hash split at the MinHash-LSH
    * dedup threshold — the near-dup pairs straddling the split boundary. */
  private def dedupSplitLeakage(s: SparkSession, dir: String): DataFrame =
    Dedup.splitLeakage(t(s, dir, "documents"), "doc_id", "text",
        weights = Seq("train" -> 0.9, "val" -> 0.1),
        numHashes = 128, bands = 16, threshold = 0.4)
      .orderBy("id_a", "id_b")

  /** Hard negatives against a deterministic label set (id ≡ qid mod 7):
    * the top non-positive cosines per query — NOT a rank range of the
    * plain top-k, so the anti-join path is genuinely exercised. */
  private def simHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val pos = emb.select(col("vec_id").as("id"))
      .join(broadcast(q.select("qid")), pmod(col("id"), lit(7)) === col("qid"))
    Similarity.hardNegatives(emb, "vec_id", "embedding", q, "qid", "qvec",
        pos, k = 10)
      .orderBy("qid", "rank")
  }

  private def simLshTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.lshTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
        k = 10, bits = 8, probes = 2)
      .orderBy("qid", "rank")
  }

  /** Matryoshka truncated-prefix retrieval: candidates ranked on the first
    * 16 of 64 dims, exact full-dim rerank to top-10. candK=30 gives the
    * rerank real work to do (prefix order ≠ full order) while keeping the
    * oracle's window replica small. */
  private def simMatryoshkaTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.matryoshkaTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
        prefixDims = 16, k = 10, candK = 30)
      .orderBy("qid", "rank")
  }

  private def simIvfTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.ivfTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
        k = 10, nCentroids = 16, nProbe = 4)
      .orderBy("qid", "rank")
  }

  /** IVF with a FIXED deterministic coarse quantizer instead of trained
    * k-means — same pipeline (assign → probe → exact cosine re-rank), but
    * the centroid constants can be embedded in the DuckDB oracle, which
    * replicates the whole approximate operator cell-exactly. */
  private def simIvfVerified(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.ivfTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
        k = 10, nCentroids = 16, nProbe = 4,
        centroidsOverride = Some(Similarity.fixedCentroids(16, 64)))
      .orderBy("qid", "rank")
  }

  /** IVF retrieval against the PERSISTED bucketed cell index — the
    * steady-state query-serving shape, the similarity analog of
    * `dedup_incremental_indexed`: assignments are computed once per corpus
    * refresh ([[Similarity.buildIvfIndex]] → `bucketMaterialize` on the
    * cell id) and every batch probes the table with no assignment pass
    * over the corpus and no index-side exchange (PlanSpec pins the shape).
    * Fixed quantizer → same output and oracle as `sim_ivf_verified`. */
  private def simIvfIndexed(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val tag = layoutTag(dir)
    val cents = Similarity.fixedCentroids(16, 64)
    val idx = graft.operators.Relational.bucketMaterialize(
      Similarity.buildIvfIndex(emb, "vec_id", "embedding", cents),
      s"graft_b_ivf_$tag", "cluster", 8, s"${graft.util.Scratch.base}/graft_bucketed_$tag/ivf")
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.ivfTopKIndexed(idx, q, "qid", "qvec", cents, k = 10, nProbe = 4)
      .orderBy("qid", "rank")
  }

  /** LIVE streaming twin of [[simIvfIndexed]] — the query-serving shape
    * under the actual streaming machinery: query vectors arrive as two
    * micro-batches through a checkpointed file stream, each batch probes
    * the persisted bucketed IVF index `foreachBatch`-side
    * ([[graft.streaming.IvfProbe]] — broadcast batch queries, scan only
    * the probed cells, zero index-side exchange; PlanSpec pins the
    * per-batch plan), results append to the sink and are gated against
    * the SAME replica oracle as the batch row, extended to the 10-query
    * union of both batches. */
  private def streamIvfProbe(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val tag = layoutTag(dir)
    val emb = t(s, dir, "embeddings")
    val cents = Similarity.fixedCentroids(16, 64)
    graft.operators.Relational.bucketMaterialize(
      Similarity.buildIvfIndex(emb, "vec_id", "embedding", cents),
      s"graft_b_ivf_probe_$tag", "cluster", 8,
      s"${graft.util.Scratch.base}/graft_bucketed_$tag/ivf_probe")
    val work = graft.util.TempDirs.create("graft-stream-ivf")
    val inDir = work.resolve("in")
    java.nio.file.Files.createDirectories(inDir)
    val q = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Seq((0L, 5L), (5L, 10L)).zipWithIndex.foreach { case ((lo, hi), i) =>
      val part = work.resolve(s"b$i")
      q.where(col("qid") >= lo && col("qid") < hi)
        .coalesce(1).write.parquet(part.toString)
      val src = part.toFile.listFiles().find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file under $part"))
      val dst = inDir.resolve(f"b$i%02d.parquet").toFile
      require(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
    }
    val incoming = s.readStream.schema(q.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    val out = work.resolve("out").toString
    val sq = graft.streaming.IvfProbe.start(incoming, "qid", "qvec",
      s"graft_b_ivf_probe_$tag", cents, out,
      checkpoint = work.resolve("ck").toString,
      k = 10, nProbe = 4, availableNow = true)
    sq.awaitTermination()
    s.read.parquet(out).orderBy("qid", "rank")
  }

  /** Reciprocal-rank fusion of the two fixed-constant retrievers (RP
    * sketch + IVF probe): incomparable score scales combined by integer
    * reciprocal rank, re-ranked per query. Both input rankings are
    * themselves oracle-verified operators. */
  private def simRrfFusion(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val rp = Similarity.rpTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
      k = 10, outDim = 16, refine = 50)
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
      k = 10, nCentroids = 16, nProbe = 4,
      centroidsOverride = Some(Similarity.fixedCentroids(16, 64)))
    Similarity.reciprocalRankFusion(Seq(rp, ivf), k = 10)
      .select(col("qid"), col("id"), col("rrf_score"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** MMR-diversified retrieval: 5 results per query that are relevant but
    * mutually non-redundant, greedily selected from the exact top-20 pool
    * — the "most relevant non-duplicate documents" shape. */
  private def simMmrTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.mmrTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
        poolK = 20, k = 5)
      .orderBy("qid", "rank")
  }

  /** End-to-end retrieval: IVF ANN top-k over the embedding corpus,
    * results joined back to the DOCUMENT table for the payload a serving
    * layer actually returns (rank, language, snippet). The join shape is
    * the 100 TB one: the candidate set (k rows per query) BROADCASTS onto
    * the document table, so document bodies never shuffle — retrieval
    * cost is the ANN stage plus one broadcast probe. */
  private def simRetrievalE2e(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val docs = t(s, dir, "documents")
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val topk = Similarity.ivfTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
        k = 10, nCentroids = 16, nProbe = 4,
        centroidsOverride = Some(Similarity.fixedCentroids(16, 64)))
      .select(col("qid"), col("id"), col("cosine"), col("rank"))
    broadcast(topk).join(docs, topk("id") === docs("doc_id"))
      .select(col("qid"), col("rank"), col("doc_id"), col("lang"),
              substring(col("text"), 1, 40).as("snippet"), col("cosine"))
      .orderBy("qid", "rank")
  }

  /** ANN quality measurement as a first-class operator: recall@k of the
    * IVF retrieval against the brute-force ground truth, per query plus
    * the zero-overlap guard (a LEFT join from the query set keeps
    * recall-0 queries visible — the failure mode a report exists to
    * catch). Both paths share one corpus scan; the hit count is a slim
    * (qid, id) equi-join of two k-row-per-query relations. */
  private def simRecallReport(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val approx = Similarity.ivfTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
        k = 10, nCentroids = 16, nProbe = 4,
        centroidsOverride = Some(Similarity.fixedCentroids(16, 64)))
      .select("qid", "id")
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        q, "qid", "qvec", k = 10)
      .select("qid", "id")
    val hits = approx.join(exact, Seq("qid", "id"))
      .groupBy("qid").agg(count(lit(1)).as("n_hit"))
    q.select("qid").join(hits, Seq("qid"), "left")
      .select(col("qid"),
              coalesce(col("n_hit"), lit(0L)).as("n_hit"),
              (coalesce(col("n_hit"), lit(0L)).cast("double") / 10.0)
                .as("recall_at_10"))
      .orderBy("qid")
  }

  /** Retriever comparison matrix: recall@10 of every ANN path (IVF, LSH,
    * PQ, RP, Matryoshka) against the one brute-force ground truth — the
    * report that picks a retriever for a corpus. The truth relation is
    * computed once and persisted; each method contributes one slim
    * (qid, id) equi-join + counts. */
  private def simRecallMatrix(s: SparkSession, dir: String): DataFrame = {
    val methods = Seq(
      "hamming" -> "sim_hamming_topk",
      "ivf" -> "sim_ivf_verified", "lsh" -> "sim_lsh_topk",
      "matryoshka" -> "sim_matryoshka_topk", "pq" -> "sim_pq_topk",
      "rp" -> "sim_rp_topk")
    val brute = queries("sim_topk")(s, dir).select("qid", "id").saltedPersist()
    val truthN = brute.agg(count(lit(1)).as("n_truth"))
    val rows = methods.map { case (label, qname) =>
      val got = queries(qname)(s, dir).select("qid", "id")
      got.agg(count(lit(1)).as("n_returned"))
        .crossJoin(got.join(brute, Seq("qid", "id"))
          .agg(count(lit(1)).as("n_hit")))
        .crossJoin(truthN)
        .select(lit(label).as("method"), col("n_returned"), col("n_hit"),
          // NULL on an empty truth set, same rationale as dedupLshQuality
          when(col("n_truth") === 0, lit(null).cast("double"))
            .otherwise(col("n_hit").cast("double") /
                       col("n_truth").cast("double"))
            .as("recall"))
    }
    val out = rows.reduce(_ unionByName _).orderBy("method")
    val res = graft.util.Materialize.cut(out)
    brute.unpersist()
    res
  }

  /** Batch-ingest embedding dedup: the incoming batch (vec_id < 350)
    * against the accepted corpus (vec_id >= 350), hyperplane-bucket
    * blocked. The 350 boundary makes the fixture's two same-bucket
    * qualifying pairs exercise BOTH drop rules: (334, 438) drops 334 via a
    * corpus source, (197, 318) drops 318 via a smaller-id batch-mate. The
    * embedding column itself stays out of the gate output — float-array
    * cell rendering is not comparable across engines. */
  private def dedupEmbeddingIncremental(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Dedup.incrementalEmbedSurvivors(
        emb.where(col("vec_id") < 350), emb.where(col("vec_id") >= 350),
        "vec_id", "embedding", threshold = 0.4)
      .select("vec_id", "label")
      .orderBy("vec_id")
  }

  /** Epsilon-ball retrieval over the same fixed-centroid IVF index as
    * `sim_ivf_verified` — the oracle shares the probe CTEs and swaps the
    * rank window for the threshold filter, exactly like the operators do. */
  private def simIvfRange(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.ivfRangeSearch(emb, "vec_id", "embedding", q, "qid", "qvec",
        minCosine = 0.25, nCentroids = 16, nProbe = 4,
        centroidsOverride = Some(Similarity.fixedCentroids(16, 64)))
      .orderBy("qid", "id")
  }

  /** All-nodes k-NN graph over the embedding corpus (fixed IVF centroids
    * so the oracle replays assignment + probing for EVERY node — the same
    * replica machinery as `sim_ivf_verified`, query set = the corpus). */
  private def simKnnGraph(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.knnGraph(emb, "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 4,
        centroidsOverride = Some(Similarity.fixedCentroids(16, 64)))
      .orderBy("src", "rank")
  }

  /** Graph-flavored semantic dedup (the SemDeDup alternative that needs
    * no cluster-size cap): the k-NN graph thresholded at cosine >= 0.35
    * becomes an undirected pair relation, connected components label the
    * semantic-duplicate groups, and the min-id member survives. Composes
    * three already-verified operators into one plan — blocking stays at
    * the IVF-cell level, the CC rounds shuffle only (id, label). */
  private def dedupSemanticGraph(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val edges = Similarity.knnGraph(emb, "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 4,
        centroidsOverride = Some(Similarity.fixedCentroids(16, 64)))
      .where(col("cosine") >= 0.35)
      .select(least(col("src"), col("dst")).as("id_a"),
              greatest(col("src"), col("dst")).as("id_b"))
      .distinct()
    Dedup.connectedComponents(emb.select("vec_id"), edges, "vec_id")
      .select(col("vec_id"), col("cluster_id"),
        (col("vec_id") === col("cluster_id")).cast("long").as("is_survivor"))
      .orderBy("vec_id")
  }

  /** PQ ANN with FIXED deterministic codebooks: encode → ADC top-refine →
    * exact cosine re-rank. Like `sim_ivf_verified`, the codebook constants
    * are embedded in the DuckDB oracle, which replays encoding, the
    * lookup-table scoring, the refine cut, and the re-rank cell-exactly —
    * the approximate pipeline itself is what's verified. */
  private def simPqTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.pqTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
        k = 10, m = 8, codesPerSub = 16, refine = 50)
      .orderBy("qid", "rank")
  }

  /** Random-projection ANN with the FIXED deterministic ±1 sign matrix:
    * integer-quantized JL projection → smallest projected L2 top-refine →
    * exact cosine re-rank. Like `sim_pq_topk`, the sign constants embed in
    * the DuckDB oracle, which replays the whole approximate pipeline
    * cell-exactly (the projection stage is all-BIGINT, so not even a
    * float-rounding hazard exists before the re-rank). */
  private def simRpTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.rpTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
        k = 10, outDim = 16, refine = 50)
      .orderBy("qid", "rank")
  }

  /** Deterministic hash split + sample flags — reproducible corpus
    * curation (see `Sampling`); the oracle recomputes the same xxhash64
    * buckets via the OracleXX replica. */
  private def curationSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.operators.Sampling.hashSplit(docs, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split"),
        (graft.operators.Sampling.bucket(col("doc_id"), seed = 7L) < 100000L)
          .as("in_sample"))
      .orderBy("doc_id")
  }

  /** Per-language rebalancing — the curation move a multilingual corpus
    * actually needs (downsample the dominant language, keep the rest). */
  /** Systematic PPS draw of exactly 100 slots over the token-weight line
    * (see [[graft.operators.Sampling.systematicSample]]): heavy documents
    * can win multiple slots — the defining PPS property. */
  private def curationSystematic(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.systematicSample(
        t(s, dir, "documents"), "doc_id",
        graft.functions.TextFunctions.bpeishTokenCount(col("text")), k = 100)
      .orderBy("doc_id")

  private def curationStratified(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedSample(t(s, dir, "documents"),
        "doc_id", "lang", Map("en" -> 0.3, "fr" -> 0.5))
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** Line-level dedup over synthesized multi-line "pages": the corpus has
    * no newline structure, so 5 consecutive docs concatenate into one page
    * per `doc_id DIV 5`, wrapped in the boilerplate a crawled page carries —
    * a cookie-banner header whose CASE/punctuation varies by page parity
    * (normalization must unify them), a blank separator line (empty-norm —
    * never deduplicated), and a constant footer. The operator keeps each
    * banner's globally-first occurrence and cuts the other 99. */
  /** Intra-document pass over pages that repeat their own banner (in the
    * OTHER case variant, so the normalized compare is what dedups) and
    * carry a distinct final line that must survive. */
  private def dedupLinesIntra(s: SparkSession, dir: String): DataFrame = {
    val even = pmod(col("page_id"), lit(2L)) === 0L
    val pages = t(s, dir, "documents")
      .groupBy(expr("doc_id DIV 5").as("page_id"))
      .agg(array_join(
        transform(sort_array(collect_list(struct(col("doc_id"), col("text")))),
          e => e.getField("text")), "\n").as("body"))
      .select(col("page_id"), concat_ws("\n",
        when(even, lit("Cookie Notice: ACCEPT!")).otherwise(lit("cookie notice accept")),
        lit(""), col("body"), lit("subscribe to the newsletter"),
        when(even, lit("cookie notice accept")).otherwise(lit("Cookie Notice: ACCEPT!")),
        lit("Subscribe, NOW!")).as("page_text"))
    Dedup.intraDocLineDedup(pages, "page_id", "page_text")
      .orderBy("page_id")
  }

  private def dedupLines(s: SparkSession, dir: String): DataFrame = {
    val pages = t(s, dir, "documents")
      .groupBy(expr("doc_id DIV 5").as("page_id"))
      .agg(array_join(
        transform(sort_array(collect_list(struct(col("doc_id"), col("text")))),
          e => e.getField("text")), "\n").as("body"))
      .select(col("page_id"), concat_ws("\n",
        when(pmod(col("page_id"), lit(2L)) === 0L, lit("Cookie Notice: ACCEPT!"))
          .otherwise(lit("cookie notice accept")),
        lit(""), col("body"), lit("subscribe to the newsletter"))
        .as("page_text"))
    Dedup.lineSurvivors(pages, "page_id", "page_text")
      .orderBy("page_id")
  }

  /** Group-conditional boilerplate strip over a synthesized paged corpus
    * (documents are single-line, so pages are built like `dedup_lines`,
    * but grouped per source with source-templated boilerplate): every page
    * of a source opens with that source's banner (boilerplate — cut
    * everywhere), most close with a shared footer (frequent per source —
    * cut), and every fifth bucket closes with a bucket-unique ref-code
    * line instead (one page per source — below minDocs, kept). Body lines
    * are unique per page and survive. */
  private def dedupBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val pages = t(s, dir, "documents")
      .groupBy(col("source"), expr("doc_id DIV 5").as("bucket"))
      .agg(min("doc_id").as("page_id"),
           array_join(
             transform(sort_array(collect_list(struct(col("doc_id"), col("text")))),
               e => e.getField("text")), "\n").as("body"))
      .select(col("page_id"), col("source"), concat_ws("\n",
          concat(lit("Visit "), col("source"), lit(" for the best content")),
          col("body"),
          when(pmod(col("bucket"), lit(5L)) === 0L,
               concat(lit("ref code "), col("bucket")))
            .otherwise(lit("subscribe to the newsletter")))
        .as("page_text"))
    Dedup.boilerplateSurvivors(pages, "page_id", "page_text", "source",
        minDocs = 3L)
      .orderBy("page_id")
  }

  /** Crawl-over-crawl snapshot diff: old = a deterministic ~80% of the
    * corpus, new = a different ~80%, with ~30% of docs (by a third
    * independent bucket) carrying mutated text on the new side — all four
    * statuses fire. */
  private def curationSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val docs = t(s, dir, "documents")
    val oldSnap = docs.where(Sampling.bucket(col("doc_id"), 3L) < 800000L)
    val newSnap = docs.where(Sampling.bucket(col("doc_id"), 5L) < 800000L)
      .withColumn("text",
        when(Sampling.bucket(col("doc_id"), 9L) < 300000L,
             concat(col("text"), lit(" updated"))).otherwise(col("text")))
    Dedup.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Soft quality filter: keep probability proportional to the quality
    * score (rate_ppm = quality × 1200, clamping at 1e6 — top-quality docs
    * are near-certain keeps, low-quality ones mostly drop). */
  private def curationWeighted(s: SparkSession, dir: String): DataFrame = {
    val rate = TF.qualityScore(col("text")).cast("long") * 1200L
    graft.operators.Sampling.weightedSample(
        t(s, dir, "documents"), "doc_id", rate)
      .select(col("doc_id"),
              TF.qualityScore(col("text")).cast("long").as("quality"),
              least(rate, lit(1000000L)).as("rate_ppm"))
      .orderBy("doc_id")
  }

  /** Token-budget training schedule: 100k-token budget split across sources
    * by sqrt-temperature weights, with per-source repeat factors capped at
    * 4 epochs — the inventory→schedule step that precedes mixture sampling. */
  private def curationEpochPlan(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.epochPlan(t(s, dir, "documents"), "source",
        size(TF.tokens(col("text"))).cast("long"),
        budgetTokens = 100000L, alpha = 0.5, maxEpochsMilli = 4000L)
      .orderBy("source")

  /** Reproducible global shuffle for training order: hash order + the
    * contiguous shard slices of that order (range-partitioned plan). */
  private def curationOrder(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.deterministicOrder(
        t(s, dir, "documents").select("doc_id", "source"),
        "doc_id", nShards = 64)
      .select("doc_id", "source", "ord", "shard")
      .orderBy("ord")

  private def curationMixture(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.temperatureMixture(t(s, dir, "documents"),
        "source", "doc_id", targetRows = 250L, alpha = 0.5)
      .select("doc_id", "source", "group_rows", "rate_ppm")
      .orderBy("doc_id")

  /** Diversity cap: at most 10 documents per source, preferring the longest
    * (n_chars desc) with doc_id as the total-order tie-break. The
    * `row_number <= k` predicate plans as a partial WindowGroupLimit below
    * the exchange (PlanSpec-pinned) — the map-side prune that keeps a hot
    * domain from funneling its full row set through the shuffle. */
  private def curationSourceCap(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.capPerGroup(t(s, dir, "documents"),
        "source", maxPerGroup = 10,
        order = Seq(col("n_chars").desc, col("doc_id").asc))
      .select("doc_id", "source", "n_chars", "group_rank")
      .orderBy("doc_id")

  /** Distributed Lloyd k-means over integer-quantized embeddings: the
    * oracle replays init, every assign/update iteration, and the final
    * assignment bit-exactly (all-BIGINT arithmetic — see
    * `Similarity.kmeansAssign`). */
  private def simKmeans(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansAssign(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 3, dim = 64)
      .orderBy("vec_id")

  private def textBpeMerges(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeMerges(t(s, dir, "documents"), "text", numMerges = 8)
      .orderBy("rank")

  private def textBpeApply(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeEncode(t(s, dir, "documents"), "doc_id", "text",
        numMerges = 8)
      .orderBy("doc_id")

  /** Unigram-LM (SentencePiece-style) tokenizer induction — the second
    * tokenizer family next to BPE: substring seed vocabulary, 2 integer
    * EM rounds of Viterbi-segment + coverage-cut recount (see
    * [[TextAnalysis.unigramTrain]]). */
  private def textUnigramLm(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramVocab(t(s, dir, "documents"), "text",
        vocabSize = 48, maxPieceLen = 6, maxWordLen = 12, emIters = 2)
      .orderBy("rank")

  private def textUnigramApply(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramEncode(t(s, dir, "documents"), "doc_id", "text",
        vocabSize = 48, maxPieceLen = 6, maxWordLen = 12, emIters = 2)
      .orderBy("doc_id")

  /** BPE vs unigram side by side, per language: the tokenizer-selection
    * report a corpus team reads before committing to a vocabulary —
    * same word/char denominators, both token streams from the engine's
    * own trainers. */
  private def textTokenizerCompare(s: SparkSession, dir: String): DataFrame =
    // fused form (round-16 verdict #4): one shared word-count base feeds
    // both trainers, one corpus scan encodes with both tokenizers —
    // value-identical to the old bpeFertility ⋈ unigramFertility
    // composition (spec-pinned; oracle hash unchanged)
    TextAnalysis.tokenizerCompareFertility(t(s, dir, "documents"), "text",
        "lang", numMerges = 8, vocabSize = 48, maxPieceLen = 6,
        maxWordLen = 12, emIters = 2)
      .select(col("lang"), col("sum_words"), col("sum_bpe_tokens"),
        col("sum_uni_tokens"), col("bpe_tpw_pm"), col("uni_tpw_pm"))
      .orderBy("lang")

  /** Count-Min heavy hitters: width 32 is deliberately narrow for the gate
    * corpus (31-token synthetic vocabulary) so cell collisions actually
    * occur and the min-over-rows estimate + exact-verify correction are
    * exercised, not vacuously equal. */
  private def textHeavyHitters(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.heavyHitters(t(s, dir, "documents"), "text",
        depth = 4, width = 32, minCount = 100L)
      .orderBy("token")

  /** PageRank over the near-dup candidate graph (same MinHash-LSH pairs as
    * `dedup_minhash`): centrality ranks duplicate-hub documents — the
    * canonical-representative / boilerplate-template signal. Fixed-point
    * BIGINT arithmetic end-to-end (see `Graph.pageRank`), so the oracle
    * replays all 5 iterations bit-exactly on top of the banded-pairs CTEs. */
  private def graphPagerank(s: SparkSession, dir: String): DataFrame =
    operators.Graph.pageRank(
        Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
            numHashes = 128, bands = 16, threshold = 0.4)
          .select(col("id_a"), col("id_b")),
        "id_a", "id_b", iters = 5)
      .select(col("id").as("doc_id"), col("rank").as("rank_fp"), col("deg"))
      .orderBy("doc_id")

  /** 2-core of the minhash candidate graph (same edge relation as
    * `graph_pagerank`): every surviving node keeps >= 2 within-core
    * neighbors, separating clustered template/mirror families from
    * isolated accidental pairs. */
  private def graphKcore(s: SparkSession, dir: String): DataFrame =
    operators.Graph.kCore(
        Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
            numHashes = 128, bands = 16, threshold = 0.4)
          .select(col("id_a"), col("id_b")),
        "id_a", "id_b", k = 2)
      .select(col("id").as("doc_id"), col("core_deg"))
      .orderBy("doc_id")

  /** Triadic link prediction over the same minhash candidate graph: open
    * triads (co-neighbors of a shared pivot that are not themselves an
    * edge) scored with common-neighbor count, preferential attachment,
    * and neighborhood-Jaccard ppm — the pairs the banding most likely
    * missed, i.e. the exact-verify worklist. Integer scores, bit-exact
    * vs the SQL replay. */
  private def graphLinkPred(s: SparkSession, dir: String): DataFrame =
    operators.Graph.linkPrediction(
        Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
            numHashes = 128, bands = 16, threshold = 0.4)
          .select(col("id_a"), col("id_b")),
        "id_a", "id_b", maxPivotDegree = 1000L)
      .orderBy("id_a", "id_b")

  /** Bounded pointer-doubling hierarchy flatten — Spark's answer to the
    * `WITH RECURSIVE` ancestor walk it lacks: a synthetic decimal forest
    * over `part` (parent = partkey DIV 10, roots 1..9) flattened to
    * (root, depth) in O(log depth) self-joins, verified against DuckDB's
    * native recursive CTE. */
  private def qHierarchy(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.hierarchyFlatten(
        t(s, dir, "part").select(col("p_partkey").as("id"),
          when(col("p_partkey") >= 10, expr("p_partkey DIV 10")).as("parent")),
        "id", "parent", maxDoublings = 4)
      .select(col("id").as("p_partkey"), col("root"), col("depth"))
      .orderBy("p_partkey")

  /** Synchronous 3-round mode-label propagation over the same minhash
    * candidate graph: community labels at the density granularity (a
    * bridge pair between two template families does NOT merge them the
    * way connected components would). Integer-encoded argmax, bit-exact
    * vs the unrolled DuckDB replay. */
  private def graphLabelprop(s: SparkSession, dir: String): DataFrame =
    operators.Graph.labelPropagation(
        Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
            numHashes = 128, bands = 16, threshold = 0.4)
          .select(col("id_a"), col("id_b")),
        "id_a", "id_b", rounds = 3)
      .select(col("id").as("doc_id"), col("community"))
      .orderBy("doc_id")

  /** Fixed-point HITS over the DIRECTED (lo→hi) minhash candidate graph:
    * hub scores flag template-source documents (their matches are
    * themselves heavily matched), authority scores the heavily-pointed-at
    * copies — the asymmetric signal the undirected PageRank on the same
    * graph cannot see. 4 max-normalized integer rounds, bit-exact vs the
    * unrolled DuckDB replay. */
  private def graphHits(s: SparkSession, dir: String): DataFrame =
    operators.Graph.hits(
        Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
            numHashes = 128, bands = 16, threshold = 0.4)
          .select(col("id_a"), col("id_b")),
        "id_a", "id_b", rounds = 4)
      .select(col("id").as("doc_id"), col("hub_fp"), col("auth_fp"))
      .orderBy("doc_id")

  /** Personalized PageRank from the BFS-family seed set (every 50th doc
    * id) over the minhash candidate graph: rank = proximity to the seeds
    * through near-dup structure — the related-documents expansion the
    * uniform `graph_pagerank` cannot express. 5 integer rounds, bit-exact
    * vs the unrolled seeded-teleport replay. */
  private def graphPprJump(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id",
        "text", numHashes = 128, bands = 16, threshold = 0.4)
      .select(col("id_a"), col("id_b"))
    val seeds = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id")))
      .where(col("id") % 50 === 0).distinct()
    operators.Graph.personalizedPageRank(pairs, "id_a", "id_b", seeds,
        iters = 5)
      .select(col("id").as("doc_id"), col("rank").as("rank_fp"),
        col("is_seed"))
      .orderBy("doc_id")
  }

  /** Hop-bounded multi-source BFS over the minhash candidate graph:
    * quarantine-neighborhood expansion from seed documents (here every
    * 50th doc id) — every node within 4 hops of a seed, with its hop
    * distance. Frontier-at-a-time walk; oracle is DuckDB's native
    * recursive CTE with the same hop bound. */
  private def graphBfs(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id",
        "text", numHashes = 128, bands = 16, threshold = 0.4)
      .select(col("id_a"), col("id_b"))
    val seeds = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id")))
      .where(col("id") % 50 === 0).distinct()
    operators.Graph.bfsDistances(pairs, "id_a", "id_b", seeds, maxHops = 4)
      .select(col("id").as("doc_id"), col("dist"))
      .orderBy("doc_id")
  }

  /** Landmark distance sketch + pair estimates over the minhash candidate
    * graph: landmarks are every 13th node id; each LSH pair gets
    * `min over shared lm of d(a,lm)+d(b,lm)` — the bounded-state
    * approximate-distance path for graphs where all-pairs BFS is
    * unpayable (see [[operators.Graph.landmarkDistances]]). */
  private def graphLandmarkEst(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id",
        "text", numHashes = 128, bands = 16, threshold = 0.4)
      .select(col("id_a"), col("id_b"))
    val lms = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id")))
      .where(col("id") % 13 === 0).distinct()
    val dist = operators.Graph.landmarkDistances(pairs, "id_a", "id_b",
      lms, maxHops = 3)
    operators.Graph.landmarkEstimate(pairs, "id_a", "id_b", dist)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("d_est"))
      .orderBy("doc_a", "doc_b")
  }

  /** DuckDB replica of `Graph.landmarkDistances` + `landmarkEstimate`:
    * recursive-CTE multi-source walk carrying the landmark id, min-d
    * distances, then the shared-landmark min-sum per LSH pair. */
  private def landmarkOracle(maxHops: Int): String = s"""
      WITH RECURSIVE ${OracleXX.minhashAgreeCtes(numHashes = 128, bands = 16)},
      prs2 AS MATERIALIZED (SELECT id_a, id_b FROM ag
                            WHERE agree::DOUBLE / 128 >= 0.4),
      ed AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM prs2
        UNION ALL SELECT id_b AS src, id_a AS dst FROM prs2),
      sd AS (SELECT DISTINCT src AS id FROM ed WHERE src % 13 = 0),
      walk(lm, id, d) AS (
        SELECT id, id, 0 FROM sd
        UNION
        SELECT w.lm, e.dst, w.d + 1 FROM walk w JOIN ed e ON e.src = w.id
        WHERE w.d < $maxHops),
      dist AS MATERIALIZED (
        SELECT lm, id, min(d)::BIGINT AS dist FROM walk GROUP BY 1, 2),
      est AS (SELECT p.id_a, p.id_b, min(da.dist + db.dist)::BIGINT AS d_est
              FROM prs2 p
              JOIN dist da ON da.id = p.id_a
              JOIN dist db ON db.id = p.id_b AND db.lm = da.lm
              GROUP BY 1, 2)
      SELECT id_a AS doc_a, id_b AS doc_b, d_est FROM est
      ORDER BY doc_a, doc_b"""

  /** DuckDB replica of `Graph.pageRank` over the minhash candidate graph:
    * the shared banded-pairs CTEs → thresholded pairs → symmetric edge
    * list → 5 unrolled integer-arithmetic iterations. `//` and `DIV` are
    * both floor division on non-negative BIGINTs and `*`/`//` share
    * left-associative precedence in both engines, so every intermediate
    * is identical. */
  private def pagerankOracle(iters: Int): String = {
    def it(prev: String, cur: String) =
      s"""$cur AS (SELECT e.dst AS id,
             ((150000000000 // (SELECT n FROM nn)) + 85 * sum(r.rank // d.deg) // 100)::BIGINT AS rank
           FROM ed e JOIN $prev r ON e.src = r.id JOIN dg d ON e.src = d.src
           GROUP BY e.dst)"""
    val chain = (1 to iters)
      .map(i => it(if (i == 1) "r0" else s"it${i - 1}", s"it$i"))
      .mkString(",\n      ")
    s"""
      WITH ${OracleXX.minhashAgreeCtes(numHashes = 128, bands = 16)},
      prs2 AS (SELECT id_a, id_b FROM ag WHERE agree::DOUBLE / 128 >= 0.4),
      ed AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM prs2
        UNION ALL SELECT id_b AS src, id_a AS dst FROM prs2),
      dg AS MATERIALIZED (SELECT src, count(*)::BIGINT AS deg FROM ed GROUP BY src),
      nn AS MATERIALIZED (SELECT count(DISTINCT src)::BIGINT AS n FROM ed),
      r0 AS (SELECT DISTINCT src AS id,
               (1000000000000 // (SELECT n FROM nn))::BIGINT AS rank FROM ed),
      $chain
      SELECT i.id AS doc_id, i.rank AS rank_fp, d.deg
      FROM it$iters i JOIN dg d ON i.id = d.src ORDER BY doc_id"""
  }

  /** DuckDB replica of `Graph.personalizedPageRank` over the minhash
    * candidate graph with the BFS-family seed set: r0 concentrates the
    * mass on the seeds, and each unrolled round adds the seeded teleport
    * base only where a seed marker joins — all `//` truncation on
    * non-negative BIGINTs, so every intermediate matches the engine. */
  private def pprOracle(iters: Int): String = {
    def it(prev: String, cur: String) =
      s"""$cur AS MATERIALIZED (SELECT e.dst AS id,
             ((CASE WHEN s2.id IS NOT NULL
                    THEN 150000000000 // (SELECT ns FROM nsq) ELSE 0 END)
              + 85 * sum(r.rank // d.deg) // 100)::BIGINT AS rank
           FROM ed e JOIN $prev r ON e.src = r.id JOIN dg d ON e.src = d.src
           LEFT JOIN sd s2 ON s2.id = e.dst
           GROUP BY e.dst, s2.id)"""
    val chain = (1 to iters)
      .map(i => it(if (i == 1) "r0" else s"it${i - 1}", s"it$i"))
      .mkString(",\n      ")
    s"""
      WITH ${OracleXX.minhashAgreeCtes(numHashes = 128, bands = 16)},
      -- prs2 MATERIALIZED is load-bearing: left plain it inlines into ed,
      -- and the per-round seed LEFT JOINs then replay the whole minhash
      -- chain (~3x, measured 8.6s -> 2.8s at sf0.01)
      prs2 AS MATERIALIZED (SELECT id_a, id_b FROM ag WHERE agree::DOUBLE / 128 >= 0.4),
      ed AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM prs2
        UNION ALL SELECT id_b AS src, id_a AS dst FROM prs2),
      dg AS MATERIALIZED (SELECT src, count(*)::BIGINT AS deg FROM ed GROUP BY src),
      sd AS MATERIALIZED (SELECT DISTINCT src AS id FROM ed WHERE src % 50 = 0),
      nsq AS MATERIALIZED (SELECT count(*)::BIGINT AS ns FROM sd),
      r0 AS MATERIALIZED (SELECT n.id,
               (CASE WHEN s2.id IS NOT NULL
                     THEN 1000000000000 // (SELECT ns FROM nsq)
                     ELSE 0 END)::BIGINT AS rank
             FROM (SELECT DISTINCT src AS id FROM ed) n
             LEFT JOIN sd s2 ON s2.id = n.id),
      $chain
      SELECT i.id AS doc_id, i.rank AS rank_fp, (s2.id IS NOT NULL) AS is_seed
      FROM it$iters i LEFT JOIN sd s2 ON s2.id = i.id ORDER BY doc_id"""
  }

  /** DuckDB replica of `Graph.hits`: the shared banded-pairs CTEs → the
    * DIRECTED lo→hi edge list → `rounds` unrolled auth/hub passes, each a
    * BIGINT sum of the opposite score followed by `raw * 10^6 //
    * max(raw)` max-normalization — `//` and `DIV` are both truncation on
    * non-negative BIGINTs, so every intermediate matches the engine. */
  private def hitsOracle(rounds: Int): String = {
    // Every CTE here is AS MATERIALIZED: a{i} references a{i}_raw TWICE
    // (the FROM plus the scalar max() subquery); left to the optimizer's
    // inlining heuristic that doubling compounds per round into an
    // exponential replay of the shared minhash CTE chain (measured 342.8 s
    // at sf0.01 for 4 rounds — the round-9 gate-budget bomb).
    def round(i: Int, prevHub: String) = s"""
      a${i}_raw AS MATERIALIZED (
        SELECT e.dst AS id, sum(h.hub)::BIGINT AS raw
        FROM ed e JOIN $prevHub h ON e.src = h.id GROUP BY e.dst),
      a$i AS MATERIALIZED (SELECT id,
                (raw * 1000000 // (SELECT max(raw) FROM a${i}_raw))::BIGINT AS auth
              FROM a${i}_raw),
      h${i}_raw AS MATERIALIZED (
        SELECT e.src AS id, sum(a.auth)::BIGINT AS raw
        FROM ed e JOIN a$i a ON e.dst = a.id GROUP BY e.src),
      h$i AS MATERIALIZED (SELECT id,
                (raw * 1000000 // (SELECT max(raw) FROM h${i}_raw))::BIGINT AS hub
              FROM h${i}_raw)"""
    val chain = (1 to rounds)
      .map(i => round(i, if (i == 1) "h0" else s"h${i - 1}"))
      .mkString(",\n      ")
    s"""
      WITH ${OracleXX.minhashAgreeCtes(numHashes = 128, bands = 16)},
      prs2 AS (SELECT id_a, id_b FROM ag WHERE agree::DOUBLE / 128 >= 0.4),
      ed AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM prs2),
      nd AS MATERIALIZED (SELECT DISTINCT id FROM
        (SELECT src AS id FROM ed UNION ALL SELECT dst FROM ed)),
      h0 AS MATERIALIZED (SELECT id, 1000000::BIGINT AS hub FROM nd),
      $chain
      SELECT nd.id AS doc_id,
             coalesce(h$rounds.hub, 0)::BIGINT AS hub_fp,
             coalesce(a$rounds.auth, 0)::BIGINT AS auth_fp
      FROM nd LEFT JOIN h$rounds ON nd.id = h$rounds.id
              LEFT JOIN a$rounds ON nd.id = a$rounds.id
      ORDER BY doc_id"""
  }

  /** DuckDB replica of `Graph.bfsDistances` over the minhash candidate
    * graph: native recursive CTE with UNION (distinct) semantics — the
    * working set is distinct (id, hop) rows, so cycles terminate under
    * the hop bound and `min(d)` is the BFS distance. */
  private def bfsOracle(maxHops: Int): String = s"""
      WITH RECURSIVE ${OracleXX.minhashAgreeCtes(numHashes = 128, bands = 16)},
      prs2 AS (SELECT id_a, id_b FROM ag WHERE agree::DOUBLE / 128 >= 0.4),
      ed AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM prs2
        UNION ALL SELECT id_b AS src, id_a AS dst FROM prs2),
      sd AS (SELECT DISTINCT src AS id FROM ed WHERE src % 50 = 0),
      walk(id, d) AS (
        SELECT id, 0 FROM sd
        UNION
        SELECT e.dst, w.d + 1 FROM walk w JOIN ed e ON e.src = w.id
        WHERE w.d < $maxHops)
      SELECT id AS doc_id, min(d)::BIGINT AS dist
      FROM walk GROUP BY id ORDER BY doc_id"""

  /** HLL cardinality at p=8 (m=256): every gate lang has ≳3k distinct
    * shingles, ≫ 2.5m, so the raw estimator is in-regime and the ln-free
    * bit-stable path covers the whole output (see
    * `TextAnalysis.hllCardinality`). */
  private def textHllCardinality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.hllCardinality(t(s, dir, "documents"), "text", p = 8, "lang")
      .orderBy("lang")

  /** Per-lang Bloom membership sketch AS the gate artifact (md5 of the
    * exact 4096-word bit array + set-bit count) — the third mergeable
    * sketch beside HLL and Count-Min; see
    * [[TextAnalysis.bloomSketchWords]]. Sizing: 2^18 bits / k=5 holds the
    * per-lang shingle sets (~3-20k distinct) at a low load factor, so the
    * array is information-bearing, not saturated. */
  private def textBloomSketch(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bloomReport(
        TextAnalysis.bloomSketchWords(t(s, dir, "documents"), "text",
          Seq("lang"), numBits = 262144, numHashes = 5),
        numBits = 262144, numHashes = 5, Seq("lang"))
      .orderBy("lang")

  /** Bloom-probed decontamination with the bench sketch broadcast into a
    * codegen'd per-shingle probe — `bloom_hits` beside the exact overlay,
    * so the zero-false-negative contract is a visible row invariant
    * (`bloom_hits >= exact_hits`). See [[TextAnalysis.bloomDecontaminate]]. */
  private def textBloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.bloomDecontaminate(
        docs.where(col("doc_id") >= 20), "doc_id", "text",
        docs.where(col("doc_id") < 20), "text",
        numBits = 65536, numHashes = 7)
      .orderBy("doc_id")
  }

  /** The Bloom sketch maintained by a LIVE streaming aggregation —
    * batch/stream parity for the word-wise-OR merge under the state
    * store, exactly like `stream_hll_cardinality` pins the HLL max-merge.
    * Same oracle as `text_bloom_sketch`. */
  private def streamBloomSketch(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val docs = t(s, dir, "documents")
    val work = graft.util.TempDirs.create("graft-stream-bloom")
    val inDir = work.resolve("in")
    java.nio.file.Files.createDirectories(inDir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      inDir.resolve("documents.parquet"))
    val stream = s.readStream.schema(docs.schema).parquet(inDir.toString)
    val words = TextAnalysis.shingleHashRows(stream, "text", Seq("lang"))
      .groupBy(col("lang"))
      .agg(graft.functions.Sketches.bloomBits(col("__h"), 262144, 5)
        .as("words"))
    val sinkName = s"stream_bloom_${layoutTag(dir)}"
    val q = words.writeStream.outputMode("complete")
      .option("checkpointLocation", work.resolve("ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName(sinkName).start()
    q.awaitTermination()
    // result reads only the in-memory sink — the staged copy can go now
    graft.util.TempDirs.deleteNow(work)
    TextAnalysis.bloomReport(s.table(sinkName), numBits = 262144,
        numHashes = 5, Seq("lang"))
      .orderBy("lang")
  }

  /** HLL DAU — the sketch form of the exact `events_dau_mau` rollup: one
    * 2^p-byte register buffer per day answers "distinct users that day"
    * at any event volume, and buffers from different corpus partitions
    * (or days, for MAU-style unions) merge by element-wise max. Exact
    * overlay rides beside the estimate like every sketch gate row. */
  private def eventsDauHll(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(expr("ts_ms DIV 86400000").as("day"),
      xxhash64(col("user_id")).as("__h"))
    val regs = ev.groupBy("day")
      .agg(graft.functions.Sketches.hllRegisters(col("__h"), 8).as("regs"))
    val exact = ev.groupBy("day").agg(countDistinct(col("__h")).as("n_exact"))
    TextAnalysis.hllReport(regs, exact, p = 8, Seq("day")).orderBy("day")
  }

  /** The per-hour DAU HLL maintained by a LIVE event-time-windowed
    * streaming aggregation — sketch state INSIDE a watermark-governed
    * window (the production streaming-analytics shape: fixed-size
    * distinct-user state per hour at any event volume, flushed when the
    * watermark passes the window). Events arrive as one data batch plus
    * two far-future sentinels; emitted windows are cut at the data
    * horizon so the sentinels' own (possibly unflushed) window never
    * reaches the output. Same oracle family as `events_dau_hll`, hourly. */
  private def streamHourlyHll(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val work = graft.util.TempDirs.create("graft-stream-hrhll")
    val inDir = work.resolve("in")
    java.nio.file.Files.createDirectories(inDir)
    val ev = events(s, dir).select(col("user_id"), col("ts_ms"))
    val maxMs = ev.agg(max("ts_ms")).head().getLong(0)
    import s.implicits._
    Seq(("b0", ev),
        ("b1", Seq((-1L, maxMs + 10000000L)).toDF(ev.columns: _*)),
        ("b2", Seq((-2L, maxMs + 20000000L)).toDF(ev.columns: _*)))
      .zipWithIndex.foreach { case ((name, df), i) =>
        val part = work.resolve(name)
        df.coalesce(1).write.parquet(part.toString)
        val src = part.toFile.listFiles().find(_.getName.startsWith("part-"))
          .getOrElse(sys.error(s"no part file under $part"))
        val dst = inDir.resolve(s"$name.parquet").toFile
        require(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
      }
    val incoming = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    val regs = incoming
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.Sketches.hllRegisters(xxhash64(col("user_id")), 8)
        .as("regs"))
      .select(expr("unix_millis(window.start) DIV 3600000").as("hour"),
        col("regs"))
    val out = work.resolve("out").toString
    val q = regs.writeStream.outputMode("append")
      .option("checkpointLocation", work.resolve("ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", out).start()
    q.awaitTermination()
    val emitted = s.read.parquet(out)
      .where(col("hour") <= maxMs / 3600000L) // cut the sentinel window
    val exact = ev.select(expr("ts_ms DIV 3600000").as("hour"),
        xxhash64(col("user_id")).as("__h"))
      .groupBy("hour").agg(countDistinct(col("__h")).as("n_exact"))
    TextAnalysis.hllReport(emitted, exact, p = 8, Seq("hour"))
      .orderBy("hour")
  }

  /** The HLL sketch maintained by a LIVE streaming aggregation: the
    * documents table arrives as a file stream, the custom
    * [[graft.functions.HllRegisters]] buffer aggregates under the
    * streaming state store (complete mode), and the drained register
    * table is projected through the SAME report as the batch gate (the
    * exact overlay is batch-side — distinct aggregation is unsupported in
    * streaming, and at scale the exact check is the harness's job anyway).
    * Same oracle as `text_hll_cardinality`: batch/stream parity for
    * custom TypedImperativeAggregate state. */
  private def streamHllCardinality(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val docs = t(s, dir, "documents")
    val work = graft.util.TempDirs.create("graft-stream-hll")
    // testdata tables are single parquet FILES; the file-stream source
    // wants a directory, so stage a copy
    val inDir = work.resolve("in")
    java.nio.file.Files.createDirectories(inDir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      inDir.resolve("documents.parquet"))
    val stream = s.readStream.schema(docs.schema).parquet(inDir.toString)
    val regs = TextAnalysis.shingleHashRows(stream, "text", Seq("lang"))
      .groupBy(col("lang"))
      .agg(graft.functions.Sketches.hllRegisters(col("__h"), 8).as("regs"))
    val sinkName = s"stream_hll_${layoutTag(dir)}"
    val q = regs.writeStream.outputMode("complete")
      .option("checkpointLocation", work.resolve("ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName(sinkName).start()
    q.awaitTermination()
    // the result plan reads only the in-memory sink table and the original
    // corpus dir, so the staged copy + checkpoint can go NOW — repeated
    // bench iterations otherwise accumulate corpus copies in /tmp
    graft.util.TempDirs.deleteNow(work)
    val exact = TextAnalysis.shingleHashRows(docs, "text", Seq("lang"))
      .groupBy(col("lang")).agg(countDistinct(col("__h")).as("n_exact"))
    TextAnalysis.hllReport(s.table(sinkName), exact, p = 8, Seq("lang"))
      .orderBy("lang")
  }

  /** Streaming twin of the Count-Min heavy-hitters report: the sketch is
    * maintained as a STREAMING aggregation (cell counts are plain sums —
    * the mergeability that makes CMS deployable on a firehose with
    * `depth × width` longs of state, independent of vocabulary size),
    * then the probe + exact-verify stages run over the streamed cells.
    * Gated against the SAME oracle as the batch `text_heavy_hitters` —
    * batch/streaming parity for the sketch family, like `stream_hll_*`
    * for HLL and `stream_cusum` for the drift detector. */
  private def streamHeavyHitters(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val docs = t(s, dir, "documents")
    val work = graft.util.TempDirs.create("graft-stream-cms")
    val inDir = work.resolve("in")
    java.nio.file.Files.createDirectories(inDir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      inDir.resolve("documents.parquet"))
    val stream = s.readStream.schema(docs.schema).parquet(inDir.toString)
    val cells = TextAnalysis.cmsSketch(
      TextAnalysis.cmsTokens(stream, "text"), depth = 4, width = 32)
    val sinkName = s"stream_cms_${layoutTag(dir)}"
    val q = cells.writeStream.outputMode("complete")
      .option("checkpointLocation", work.resolve("ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName(sinkName).start()
    q.awaitTermination()
    // see streamHllCardinality: nothing lazy reads the staged files
    graft.util.TempDirs.deleteNow(work)
    TextAnalysis.cmsProbeVerify(
        TextAnalysis.cmsTokens(docs, "text"), s.table(sinkName),
        depth = 4, width = 32, minCount = 100L)
      .orderBy("token")
  }

  /** Hour-of-day activity profile per event type — the time-profile
    * report; pure integer bucket arithmetic. */
  private def eventsHourlyProfile(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(expr("(ts_ms DIV 3600000) % 24").as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share", col("n").cast("double") /
        sum("n").over(Window.partitionBy("event_type")).cast("double"))
      .orderBy("hour", "event_type")

  /** Span-level language ID: every 25-token window scored and argmaxed —
    * see [[TextAnalysis.windowLangid]]. */
  private def textWindowLangid(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.windowLangid(t(s, dir, "documents"), "doc_id", "text",
        windowTokens = 50, hopTokens = 25)
      .orderBy("doc_id", "win_start")

  /** Per-document code-switching fractions over the window IDs — see
    * [[TextAnalysis.codeSwitchReport]]. */
  private def textCodeSwitch(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.codeSwitchReport(t(s, dir, "documents"), "doc_id", "text",
        windowTokens = 50, hopTokens = 25)
      .orderBy("doc_id")

  /** Pairwise shared-vocabulary estimates from sketch algebra alone —
    * see [[TextAnalysis.hllIntersectReport]]. */
  private def textHllIntersect(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.hllIntersectReport(t(s, dir, "documents"), "text", "lang",
        p = 8)
      .orderBy("g_a", "g_b")

  /** Sketch-algebra gate: per-(lang, source) HLL registers merged up to
    * lang must fingerprint-match the directly-computed lang registers. */
  private def textHllRollup(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.hllMergeRollup(t(s, dir, "documents"), "text", p = 8,
        fineCol = "source", coarseCol = "lang")
      .orderBy("lang")

  /** Mergeable bottom-k quantile sketch of document lengths per lang —
    * sketch p50/p90/p99 probes beside the exact same-rule overlay
    * ([[TextAnalysis.lengthSketch]]); the fourth native sketch family
    * member (HLL/CMS/Bloom/quantile). */
  private def textLengthSketch(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lengthSketch(t(s, dir, "documents"), "doc_id", "text",
        k = 256, "lang")
      .orderBy("lang")

  /** Quantile-sketch algebra gate ([[TextAnalysis.lengthSketchRollup]]):
    * per-(lang, source) sketches merged declaratively (union-truncate)
    * must equal the per-lang sketch computed directly — the storable-
    * column property. */
  private def textLengthSketchRollup(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lengthSketchRollup(t(s, dir, "documents"), "doc_id", "text",
        k = 256, fineCol = "source", coarseCol = "lang")
      .orderBy("lang")

  /** LIVE streaming twin of `text_length_sketch` (the
    * [[streamHllCardinality]] pattern): the bottom-k buffer aggregates
    * under the streaming state store in complete mode, the exact overlay
    * is batch-side, and the result is gated against the SAME oracle —
    * batch/stream parity for the quantile sketch. */
  private def streamLengthSketch(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val docs = t(s, dir, "documents")
    val work = graft.util.TempDirs.create("graft-stream-bk")
    val inDir = work.resolve("in")
    java.nio.file.Files.createDirectories(inDir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      inDir.resolve("documents.parquet"))
    val stream = s.readStream.schema(docs.schema).parquet(inDir.toString)
    val sk = TextAnalysis.lengthSketchRows(stream, "doc_id", "text", Seq("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           graft.functions.Sketches.bottomKSketch(col("__rh"), col("__v"), 256)
             .as("__sk"))
    val sinkName = s"stream_bk_${layoutTag(dir)}"
    val q = sk.writeStream.outputMode("complete")
      .option("checkpointLocation", work.resolve("ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName(sinkName).start()
    q.awaitTermination()
    // see streamHllCardinality: nothing lazy reads the staged files
    graft.util.TempDirs.deleteNow(work)
    val exact = TextAnalysis.lengthSketchExact(
      TextAnalysis.lengthSketchRows(docs, "doc_id", "text", Seq("lang")),
      Seq("lang"))
    TextAnalysis.lengthSketchReport(s.table(sinkName), exact, Seq("lang"))
      .orderBy("lang")
  }

  /** Event-time WINDOWED quantile sketch under the streaming state store —
    * the hourly value/latency-distribution report at stream scale
    * ([[streamHourlyHll]]'s watermarked append-mode pattern with the
    * bottom-k buffer instead of HLL registers): per event hour, the sketch
    * of value cents (sample-ranked by `mix64(event_id)`), probed for
    * p50/p90/p99 beside the exact same-rule overlay computed batch-side.
    * Sentinel batches advance the watermark so every real window is
    * emitted and its state evicted — the bounded-state contract a 100 TB
    * firehose needs from a quantile report. */
  private def streamHourlyValueSketch(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val work = graft.util.TempDirs.create("graft-stream-hrbk")
    val inDir = work.resolve("in")
    java.nio.file.Files.createDirectories(inDir)
    val ev = events(s, dir).select(col("event_id"), col("ts_ms"),
      cents(col("value")).as("v"))
    val maxMs = ev.agg(max("ts_ms")).head().getLong(0)
    import s.implicits._
    Seq(("b0", ev),
        ("b1", Seq((-1L, maxMs + 10000000L, 0L)).toDF(ev.columns: _*)),
        ("b2", Seq((-2L, maxMs + 20000000L, 0L)).toDF(ev.columns: _*)))
      .zipWithIndex.foreach { case ((name, df), i) =>
        val part = work.resolve(name)
        df.coalesce(1).write.parquet(part.toString)
        val src = part.toFile.listFiles().find(_.getName.startsWith("part-"))
          .getOrElse(sys.error(s"no part file under $part"))
        val dst = inDir.resolve(s"$name.parquet").toFile
        require(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
      }
    val incoming = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
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
    val out = work.resolve("out").toString
    val q = sk.writeStream.outputMode("append")
      .option("checkpointLocation", work.resolve("ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", out).start()
    q.awaitTermination()
    val emitted = s.read.parquet(out)
      .where(col("hour") <= maxMs / 3600000L) // cut the sentinel windows
    val exact = TextAnalysis.lengthSketchExact(
      ev.select(expr("ts_ms DIV 3600000").as("hour"), col("v").as("__v")),
      Seq("hour"))
    TextAnalysis.lengthSketchReport(emitted, exact, Seq("hour"))
      .withColumnRenamed("n_docs", "n_events")
      .orderBy("hour")
  }

  /** DuckDB replica of the bottom-k quantile sketch gate — see the oracle
    * map entry for the determinism argument. */
  private def lengthSketchOracle(k: Int): String = {
    val h = OracleXX.mix64Signed("doc_id", seed = 0L)
    s"""
      WITH d AS MATERIALIZED (
        SELECT lang, length(text)::BIGINT AS v, $h AS hh FROM documents),
      r AS (SELECT lang, v,
                   row_number() OVER (PARTITION BY lang ORDER BY hh, v) AS rn
            FROM d),
      sq AS (SELECT lang, list_sort(list(v)) AS sv, count(*)::BIGINT AS m
             FROM r WHERE rn <= $k GROUP BY lang),
      eq AS (SELECT lang, list_sort(list(v)) AS ev, count(*)::BIGINT AS n
             FROM d GROUP BY lang)
      SELECT eq.lang, n AS n_docs, m AS sample_n,
             list_extract(sv, floor(0.5::DOUBLE  * (m - 1)::DOUBLE)::BIGINT + 1) AS p50_est,
             list_extract(sv, floor(0.9::DOUBLE  * (m - 1)::DOUBLE)::BIGINT + 1) AS p90_est,
             list_extract(sv, floor(0.99::DOUBLE * (m - 1)::DOUBLE)::BIGINT + 1) AS p99_est,
             list_extract(ev, floor(0.5::DOUBLE  * (n - 1)::DOUBLE)::BIGINT + 1) AS p50_exact,
             list_extract(ev, floor(0.9::DOUBLE  * (n - 1)::DOUBLE)::BIGINT + 1) AS p90_exact,
             list_extract(ev, floor(0.99::DOUBLE * (n - 1)::DOUBLE)::BIGINT + 1) AS p99_exact
      FROM sq JOIN eq USING (lang) ORDER BY lang"""
  }

  /** Rollup replica: one per-lang bottom-k sample pins BOTH fingerprints
    * (merged = direct by the union-truncate identity). */
  private def lengthSketchRollupOracle(k: Int): String = {
    val h = OracleXX.mix64Signed("doc_id", seed = 0L)
    s"""
      WITH d AS MATERIALIZED (
        SELECT lang, length(text)::BIGINT AS v, $h AS hh FROM documents),
      r AS (SELECT lang, v, hh,
                   row_number() OVER (PARTITION BY lang ORDER BY hh, v) AS rn
            FROM d),
      f AS (SELECT lang,
                   md5(string_agg(hh::VARCHAR || ':' || v::VARCHAR, ','
                     ORDER BY hh, v)) AS fp,
                   count(*)::BIGINT AS m,
                   list_sort(list(v)) AS sv
            FROM r WHERE rn <= $k GROUP BY lang)
      SELECT lang, m AS sample_n, fp AS merged_md5, fp AS direct_md5,
             TRUE AS merged_eq_direct,
             list_extract(sv, floor(0.5::DOUBLE  * (m - 1)::DOUBLE)::BIGINT + 1) AS p50_est,
             list_extract(sv, floor(0.99::DOUBLE * (m - 1)::DOUBLE)::BIGINT + 1) AS p99_est
      FROM f ORDER BY lang"""
  }

  /** Top principal component of the embedding corpus — Gram-matrix pass
    * + fixed-point power iteration (see [[Similarity.pcaTopComponent]]):
    * the representation-drift / variance-concentration QA direction. */
  private def simPcaTop(s: SparkSession, dir: String): DataFrame =
    Similarity.pcaTopComponent(t(s, dir, "embeddings"), "embedding",
        dim = 64)
      .orderBy("d")

  /** DuckDB replica of `Similarity.pcaTopComponent`: quantized Gram +
    * mean (BIGINT-cast sums before every truncating division — DuckDB's
    * `//` on DECIMAL is NOT integer division), `iters` unrolled
    * matvec/max-normalize rounds, sign canonicalization, and the
    * `DIV 256` Rayleigh quotient. */
  private def pcaOracle(dim: Int, scaleBits: Int, iters: Int,
                        vScaleBits: Int): String = s"""
      WITH ${pcaCtes(dim, scaleBits, iters, vScaleBits)},
      wf AS (SELECT c.i, sum(c.c * v.v)::BIGINT AS w
             FROM cm c JOIN vf v ON v.i = c.j GROUP BY 1),
      ray AS (SELECT (CASE WHEN sum((v.v // 256) * (v.v // 256))::BIGINT = 0
                      THEN 0
                      ELSE sum((v.v // 256) * (w.w // 256))::BIGINT //
                           sum((v.v // 256) * (v.v // 256))::BIGINT
                      END)::BIGINT AS lambda_fp
              FROM vf v JOIN wf w ON v.i = w.i)
      SELECT (v.i - 1)::BIGINT AS d, v.v AS loading_fp,
             (SELECT lambda_fp FROM ray) AS lambda_fp
      FROM vf v ORDER BY d"""

  /** PCA-application replica: the shared power-iteration chain's final
    * vector applied per embedding row — same DIV-64/DIV-4096 rescale and
    * den=0 NULL guard as `Similarity.pcaProjectionReport`. */
  private def pcaProjOracle(dim: Int, scaleBits: Int, iters: Int,
                            vScaleBits: Int): String = {
    val q = 1L << scaleBits
    s"""
      WITH ${pcaCtes(dim, scaleBits, iters, vScaleBits)},
      vq AS (SELECT list(v // 256 ORDER BY i) AS vq,
                    sum((v // 256) * (v // 256))::BIGINT AS ev
             FROM vf),
      src AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
                x -> floor(x * $q)::BIGINT) AS xq
              FROM embeddings),
      pr AS (SELECT vec_id,
               list_aggregate(list_transform(range(1, len(xq) + 1),
                 i -> xq[i] * qq.vq[i]), 'sum')::BIGINT AS p,
               list_aggregate(list_transform(xq, x -> x * x),
                 'sum')::BIGINT AS ex,
               qq.ev AS ev
             FROM src CROSS JOIN vq qq),
      fin AS (SELECT vec_id, p, ex, ((ex * ev) // 4096)::BIGINT AS den
              FROM pr)
      SELECT vec_id, p, ex AS energy_q,
             (CASE WHEN den = 0 THEN NULL
              ELSE ((p // 64) * (p // 64) * 1000000) // den
              END)::BIGINT AS proj_frac_ppm
      FROM fin ORDER BY vec_id"""
  }

  /** Shared CTE chain of the PCA replicas, ending in `vf(i, v)` — the
    * sign-canonical fixed-point top component (1-based i). */
  private def pcaCtes(dim: Int, scaleBits: Int, iters: Int,
                      vScaleBits: Int): String = {
    val q = 1L << scaleBits
    val vs = 1L << vScaleBits
    val rounds = (1 to iters).map { k => s"""
      w$k AS (SELECT c.i, sum(c.c * v.v)::BIGINT AS w
              FROM cm c JOIN v${k - 1} v ON v.i = c.j GROUP BY 1),
      s$k AS (SELECT max(abs(w))::BIGINT AS s FROM w$k),
      v$k AS MATERIALIZED (
        SELECT t.i,
               (CASE WHEN (SELECT s FROM s$k) = 0
                     THEN (SELECT v FROM v${k - 1} pv WHERE pv.i = t.i)
                     ELSE t.w * $vs // (SELECT s FROM s$k)
                END)::BIGINT AS v
        FROM w$k t)"""
    }.mkString(",")
    s"""e AS (SELECT list_transform(embedding::DOUBLE[],
                   x -> floor(x * $q)::BIGINT) AS xq FROM embeddings),
      nn AS (SELECT count(*)::BIGINT AS n FROM e),
      px AS (SELECT xq, unnest(range(1, len(xq) + 1)) AS i FROM e),
      mu AS MATERIALIZED (
        SELECT i, (sum(xq[i])::BIGINT // (SELECT n FROM nn))::BIGINT AS mu
        FROM px GROUP BY 1),
      pxy AS (SELECT xq, i, unnest(range(1, len(xq) + 1)) AS j FROM px),
      gr AS (SELECT i, j, sum(xq[i] * xq[j])::BIGINT AS s
             FROM pxy GROUP BY 1, 2),
      cm AS MATERIALIZED (
        SELECT g.i, g.j,
               ((g.s // (SELECT n FROM nn)) - mi.mu * mj.mu)::BIGINT AS c
        FROM gr g JOIN mu mi ON mi.i = g.i JOIN mu mj ON mj.i = g.j),
      v0 AS (SELECT i, $vs::BIGINT AS v FROM mu),
      $rounds,
      sg AS (SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS sgn
             FROM v$iters ORDER BY abs(v) DESC, i ASC LIMIT 1),
      vf AS MATERIALIZED (
        SELECT i, (v * (SELECT sgn FROM sg))::BIGINT AS v FROM v$iters)"""
  }

  private def simEmbedQa(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingQa(t(s, dir, "embeddings"), "embedding", dim = 64,
        "label")
      .orderBy("label")

  /** DuckDB replica of the `Similarity.kmeansAssign` pipeline: quantize →
    * k-smallest-ids init → `iters` × (argmin assignment with (dist,
    * cluster) tie-break; per-dim BIGINT sums with a floor-div centroid
    * update; empty clusters keep their centroid) → final assignment. All
    * integer — bit-exact. Returns the full `WITH …` chain ending in
    * `fin(vec_id, cl, dist)`; callers append their final SELECT (the
    * `sim_kmeans` dump and the `curation_embed_balance` cap both ride the
    * same chain). */
  private def kmeansCtes(k: Int, iters: Int): String = {
    val distExpr = "list_aggregate(list_transform(range(1, len(qv)+1), " +
      "j -> (qv[j]-cv[j])*(qv[j]-cv[j])), 'sum')::BIGINT"
    def assign(i: Int) = s"""a$i AS (
      SELECT vec_id, qv, cl, dist FROM (
        SELECT q.vec_id, q.qv, c.cl, $distExpr AS dist,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY $distExpr ASC, c.cl ASC) AS rn
        FROM q CROSS JOIN c${i - 1} c) WHERE rn = 1)"""
    // centroid update: floor-div via C-style % lifted to floor-mod — the
    // (s - fm) difference divides exactly, so // carries no rounding
    def update(i: Int) = s"""u$i AS (
      SELECT cl, pos, sum(v)::BIGINT AS s, count(*)::BIGINT AS n FROM (
        SELECT cl, unnest(list_transform(range(1, len(qv)+1),
          j -> {'pos': j, 'v': qv[j]}), recursive := true) FROM a$i)
      GROUP BY cl, pos),
      n$i AS (SELECT cl,
                list(((s - (((s % n) + n) % n)) // n)::BIGINT ORDER BY pos) AS cv
              FROM u$i GROUP BY cl),
      c$i AS (SELECT p.cl, coalesce(x.cv, p.cv) AS cv
              FROM c${i - 1} p LEFT JOIN n$i x USING (cl))"""
    val iterCtes = (1 to iters).map(i => s"${assign(i)},\n      ${update(i)}")
    s"""
      WITH q AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding, x -> floor(x::DOUBLE * 1024)::BIGINT) AS qv
        FROM embeddings),
      c0 AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::BIGINT AS cl,
                    qv AS cv
             FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT $k)),
      ${iterCtes.mkString(",\n      ")},
      fin AS (
        SELECT vec_id, cl, dist FROM (
          SELECT q.vec_id, c.cl, $distExpr AS dist,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY $distExpr ASC, c.cl ASC) AS rn
          FROM q CROSS JOIN c$iters c) WHERE rn = 1)"""
  }

  /** Embedding-stratified diversity sampling — the operator COMPOSITION a
    * curation pipeline actually runs: cluster the corpus with the
    * full-corpus k-means, then keep the `cap` most-central documents per
    * cluster (`capPerGroup` with (dist asc, id asc) preference). Balances
    * the embedding space instead of the metadata (domain) space; the whole
    * two-operator pipeline stays bit-exact, so the oracle replays it
    * end-to-end. */
  private def curationEmbedBalance(s: SparkSession, dir: String): DataFrame = {
    val assigned = Similarity.kmeansAssign(t(s, dir, "embeddings"),
      "vec_id", "embedding", k = 8, iters = 3, dim = 64)
    graft.operators.Sampling.capPerGroup(assigned, "cluster", maxPerGroup = 40,
        order = Seq(col("dist").asc, col("vec_id").asc))
      .select("vec_id", "cluster", "dist", "group_rank")
      .orderBy("vec_id")
  }

  /** Shared oracle chain for the winnow family: DuckDB replica of
    * `TextAnalysis.winnowFingerprints` (positional 4-gram XXH64 hashes,
    * converted back to SIGNED before the min-comparisons, 8-window
    * rightmost-min selection as a brute-force window join). Ends in
    * `sel(doc_id, pos, hash)`; `text_winnow` dumps it, `dedup_winnow`
    * builds the overlap pairs on top. */
  private def winnowCtes(n: Int = 4, w: Int = 8): String = {
    val xx = OracleXX.xxh64Str("g", padLen = 48)
    s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      pg AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) - ${n - 2}), i ->
               {'pos': i - 1, 'g': array_to_string(list_slice(tk, i, i + ${n - 1}), ' ')}),
               recursive := true)
             FROM toks WHERE len(tk) >= $n),
      dh AS MATERIALIZED (SELECT g,
              (CASE WHEN hu >= 9223372036854775808::HUGEINT
                    THEN hu - 18446744073709551616::HUGEINT ELSE hu END)::BIGINT AS h
            FROM (SELECT g, $xx AS hu FROM (SELECT DISTINCT g FROM pg))),
      gr AS MATERIALIZED (SELECT doc_id, pos, h FROM pg JOIN dh USING (g)),
      kk AS (SELECT doc_id, count(*)::BIGINT AS k FROM gr GROUP BY doc_id),
      win AS (SELECT doc_id, least($w, k) AS ww,
                     unnest(range(0, k - least($w, k) + 1)) AS t FROM kk),
      cand AS (SELECT g.doc_id, w.t, g.pos, g.h,
                 row_number() OVER (PARTITION BY g.doc_id, w.t
                   ORDER BY g.h ASC, g.pos DESC) AS rn
               FROM win w JOIN gr g ON g.doc_id = w.doc_id
                    AND g.pos BETWEEN w.t AND w.t + w.ww - 1),
      sel AS MATERIALIZED (SELECT DISTINCT doc_id, pos::BIGINT AS pos, h AS hash
             FROM cand WHERE rn = 1)"""
  }

  /** Winnowing fingerprints (Schleimer 2003): the oracle replays the
    * positional 4-gram hashing (XXH64 replica, converted back to signed so
    * min-comparisons agree) and the 8-window rightmost-min selection as a
    * brute-force window join. */
  private def textWinnow(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text",
        n = 4, window = 8)
      .orderBy("doc_id", "pos")

  /** Winnow-overlap near-dup candidates (the MOSS report) on the same
    * fingerprint chain. */
  private def dedupWinnow(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowOverlapPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 4, window = 8, minShared = 2L,
        // the oracle models the UNPRUNED join (like every dedup gate row)
        maxDocFreq = Long.MaxValue)
      .orderBy("id_a", "id_b")

  /** Bigram-LM corpus-fit scoring — integer-ppm MLE transition rates, the
    * perplexity-filter signal without cross-engine `log` hazards. */
  private def textLmScore(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lmScore(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  private def textKnScore(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.kneserNeyScore(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** CCNet-style head/middle/tail perplexity buckets per language on the
    * same bigram-LM chain — the oracle replays the scoring CTEs and the
    * SQL-standard ntile split over the identical total order. */
  private def textPplBuckets(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.perplexityBuckets(t(s, dir, "documents"), "doc_id", "text",
        "lang", buckets = 3)
      .orderBy("doc_id")

  /** GPT-style concat-and-chunk packing manifest: per (document, window)
    * overlap segments over EOS-terminated token streams cut into
    * 512-token training windows. */
  private def textPackManifest(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.packManifest(t(s, dir, "documents"), "doc_id", "text",
        seqLen = 512L)
      .orderBy("doc_id", "window_id")

  /** Materialized training windows from the 512-token pack manifest:
    * one row per (window, slot, token) incl. per-doc <eos> sentinels. */
  private def textPackingApply(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.packApply(t(s, dir, "documents"), "doc_id", "text",
        seqLen = 512L)
      .orderBy("window_id", "win_pos")

  /** Retrieval-style sliding-window chunking: 16-token windows advancing
    * by 8 (50% overlap), every token covered, no suffix-subset tail. */
  private def textChunks(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkManifest(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 16, strideTokens = 8)
      .orderBy("doc_id", "chunk_idx")

  /** The end-to-end curation pipeline a training-data run actually
    * executes, as ONE composed query: Gopher quality/repetition filter →
    * normalized exact dedup (min-id survivor) → per-source diversity cap.
    * Every stage is individually gate-verified; this row verifies the
    * COMPOSITION (stage ordering, column threading, survivor semantics)
    * bit-exactly against the same stages stacked in SQL. */
  private def curationPipeline(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.curationPipeline(t(s, dir, "documents"), "doc_id", "text",
        groupCol = "source", sizeCol = "n_chars",
        minScore = 450L, langs = Seq("en", "fr"),
        maxDupPpm = 120000L, maxTopPpm = 60000L, maxPerGroup = 25)
      .select("doc_id", "lang", "source", "n_copies", "group_rank")
      .orderBy("doc_id")

  /** Per-source stage accounting of the same pipeline (raw → quality →
    * dedup → cap) — the corpus data-card table. */
  private def curationReportQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.curationReport(t(s, dir, "documents"), "doc_id", "text",
        groupCol = "source", sizeCol = "n_chars",
        minScore = 450L, langs = Seq("en", "fr"),
        maxDupPpm = 120000L, maxTopPpm = 60000L, maxPerGroup = 25)
      .orderBy("source", "stage")

  /** Hashed linear classifier scoring with the fixed deterministic weight
    * vector — the oracle replays the XXH64 bucketing and the same literal
    * weights, so the approximate-model pipeline itself is verified. */
  private def textClassifier(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.classifierScore(t(s, dir, "documents"), "doc_id", "text",
        TextAnalysis.fixedClassifierWeights(64), bias = 5L)
      .orderBy("doc_id")

  /** Z-order clustered layout + 2-D box query: events are materialized
    * sorted along the Morton curve of (user bucket, value bucket), then a
    * query boxed on BOTH dimensions runs over the layout — each output
    * file covers a compact rectangle, so its parquet min/max stats skip
    * everything outside the box (multi-dim data skipping; the oracle
    * replays the identical shift/mask interleave arithmetic). */
  private def qZorderLayout(s: SparkSession, dir: String): DataFrame = {
    val tag = layoutTag(dir)
    val ev = t(s, dir, "events").select(col("event_id"),
      pmod(col("user_id"), lit(4096L)).as("zx"),
      pmod(floor(col("value") * 100).cast("long"), lit(4096L)).as("zy"))
    val laid = graft.operators.Relational.zorderMaterialize(ev, "zx", "zy",
      s"${graft.util.Scratch.base}/graft_zorder_$tag/events", files = 8)
    laid.where(col("zx").between(0L, 1023L) && col("zy").between(0L, 1023L))
      .select("event_id", "zx", "zy", "zval")
      .orderBy("event_id")
  }

  /** Bloom-prefiltered corpus-side decontamination: the sketch only cuts
    * pre-shuffle volume (no false negatives; false positives die in the
    * exact semi-join), so the oracle is the plain exact overlap with the
    * roles of text_contamination transposed. */
  private def textDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.decontaminateReport(
        docs.where(col("doc_id") >= 20), "doc_id", "text",
        docs.where(col("doc_id") < 20), "text", shingleN = 3,
        estimatedBenchShingles = 20000L, numBits = 160000L)
      .orderBy("doc_id")
  }

  /** Thresholded variant: drop only ≥30% shingle overlap with the bench. */
  private def textDecontaminateFrac(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.decontaminateByFraction(
        docs.where(col("doc_id") >= 20), "doc_id", "text",
        docs.where(col("doc_id") < 20), "text", minFracPpm = 300000L,
        shingleN = 3, estimatedBenchShingles = 20000L, numBits = 160000L)
      .select("doc_id", "lang", "n_shingles", "n_hits")
      .orderBy("doc_id")
  }

  private val textTopKQuery =
    "table scan fast key value row batch window join query"

  private def textTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.textTopK(t(s, dir, "documents"), "doc_id", "text",
        textTopKQuery, k = 10, shingleN = 2)
      .orderBy(col("jaccard").desc, col("id").asc)

  private def textStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
        col("doc_id"),
        size(TF.tokens(col("text"))).cast("long").as("n_words"),
        TF.bpeishTokenCount(col("text")).cast("long").as("n_tokens_bpe"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy("doc_id")

  private def textLangId(s: SparkSession, dir: String): DataFrame = {
    val c = col("text")
    t(s, dir, "documents").select(
        col("doc_id"),
        TF.langScore(c, "de").cast("long").as("s_de"),
        TF.langScore(c, "en").cast("long").as("s_en"),
        TF.langScore(c, "es").cast("long").as("s_es"),
        TF.langScore(c, "fr").cast("long").as("s_fr"),
        TF.langScore(c, "zh").cast("long").as("s_zh"),
        TF.langId(c).as("lang_pred"))
      .orderBy("doc_id")
  }

  /** Classifier-evaluation confusion matrix: ground-truth `lang` column
    * vs the engine's `langId` prediction, with per-truth-row recall. */
  private def textLangIdConfusion(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("lang"), TF.langId(col("text")).as("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .withColumn("recall", col("n").cast("double") /
        sum("n").over(Window.partitionBy("lang")).cast("double"))
      .orderBy("lang", "lang_pred")

  private def textQuality(s: SparkSession, dir: String): DataFrame = {
    val comps = TF.qualityComponents(col("text"))
    t(s, dir, "documents").select(
        (col("doc_id") +: comps.map { case (n, c) => c.as(n) } :+
          TF.qualityScore(col("text")).as("quality")): _*)
      .orderBy("doc_id")
  }

  private def textFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
        col("doc_id"), TF.fingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** UAX #15 canonicalization ([[graft.functions.UnicodeFunctions]]) —
    * the corpus is doctored with decomposed combining marks ('e' →
    * 'e' + U+0301) so NFC has real composition work on every row, and the
    * codepoint-length drop (one per composed pair) plus the normalized
    * text itself are hash-compared against DuckDB's `nfc_normalize` — two
    * independent implementations of the frozen Unicode algorithm agreeing
    * byte-for-byte. NFKC additionally folds compatibility forms; doctored
    * here with U+FB01 ('ﬁ' ligature ← 'fi') so it differs from NFC on
    * every row containing one. */
  private def textNormalizeUnicode(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.UnicodeFunctions
    val decomposed = regexp_replace(col("text"), "e", "e\u0301")
    val compat = regexp_replace(decomposed, "fi", "\ufb01")
    t(s, dir, "documents").select(
        col("doc_id"),
        UnicodeFunctions.nfc(decomposed).as("nfc_text"),
        length(decomposed).as("raw_len"),
        length(UnicodeFunctions.nfc(decomposed)).as("nfc_len"),
        UnicodeFunctions.nfkc(compat).as("nfkc_text"))
      .orderBy("doc_id")
  }

  /** Sentence segmentation manifest ([[TextAnalysis.sentenceManifest]]):
    * regex-boundary sentences with per-sentence char/word counts —
    * boundary rule chosen for cross-engine replayability (RE2 has no
    * lookbehind, ICU BreakIterator has no oracle at all; the sentinel
    * trick + documented non-goals are the contract). */
  private def textSentences(s: SparkSession, dir: String): DataFrame = {
    // the synthetic corpus has no punctuation — doctor terminators in
    // (period, doubled bang, question mark after three frequent words) so
    // every doc is genuinely multi-sentence and the [.!?]+ run rule fires
    val doctored = t(s, dir, "documents").select(col("doc_id"),
      replace(replace(replace(col("text"),
        lit(" agg "), lit(" agg. ")),
        lit(" table "), lit(" table!! ")),
        lit(" query "), lit(" query? ")).as("text"))
    TextAnalysis.sentenceManifest(doctored, "doc_id", "text")
      .orderBy("doc_id", "sent_idx")
  }

  /** Per-column ingest-QA profile over lineitem
    * ([[Relational.profileTable]]): row/null/distinct counts + typed
    * min/max per column in one aggregate pass (multi-distinct Expand).
    * Projections normalized per the cross-engine rendering rules (cents
    * BIGINT, ISO date strings); `rf_sparse` plants deterministic NULLs so
    * the null accounting has real work. */
  private def qTableProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.profileTable(t(s, dir, "lineitem"), Seq(
        "l_orderkey" -> col("l_orderkey"),
        // cents(): the established decimal route — a raw double*100→long
        // cast truncates where the oracle's ::BIGINT rounds, a latent
        // mismatch if l_quantity were ever non-integral
        "l_quantity_cents" -> cents(col("l_quantity")),
        "l_shipdate_s" -> date_format(col("l_shipdate"), "yyyy-MM-dd"),
        "l_returnflag" -> col("l_returnflag"),
        "rf_sparse" -> when(col("l_linenumber") > 4,
            lit(null).cast("string")).otherwise(col("l_returnflag"))))
      .orderBy("column")

  /** Markup-to-text extraction ([[graft.functions.MarkupFunctions
    * .htmlText]]): each doc's text wrapped in a deterministic HTML shell
    * (head/title/style, attributes with quoted '>'-free values, a script
    * whose body contains both a '<' comparison and an entity string, an
    * `&amp;` entity spliced into the prose) and recovered back out —
    * script/style content dropped, tags become word-separating spaces,
    * entities decoded single-pass (amp last), whitespace collapsed. The
    * oracle replays the identical regex/replacement chain in DuckDB. */
  private def textHtmlExtract(s: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><head><title>doc </title><style>p{color:red}</style>" +
          "</head><body onload=\"x()\"><h1>"),
      col("lang"),
      lit("</h1>\n<p>"),
      replace(col("text"), lit(" and "), lit(" &amp; ")),
      lit("</p><script type=\"text/javascript\">if (1 < 2) { " +
          "emit(\"&amp;\"); }</script></body></html>"))
    t(s, dir, "documents").select(
        col("doc_id"),
        graft.functions.MarkupFunctions.htmlText(html).as("clean_text"))
      .withColumn("clean_len", length(col("clean_text")))
      .orderBy("doc_id")
  }

  /** The SQL-registration path: the same computations as `text_rollhash` /
    * `pipe_b64` / `text_quality_filter` / the shingle sizing, but issued
    * through `spark.sql` against the `graft_*` functions installed by
    * `GraftExtensions` (Verify/Bench set `spark.sql.extensions`; for
    * caller-owned sessions `ensureRegistered` installs the same builders).
    * What this row gates is the registration + analysis path, not the
    * kernels — those have their own oracled rows. */
  private def sqlFunctions(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctionRegistry.ensureRegistered(s)
    t(s, dir, "documents").createOrReplaceTempView("graft_sqlfn_documents")
    s.sql("""
      SELECT doc_id,
             graft_rollhash(text) AS rollhash,
             graft_b64_encode(cast(text AS BINARY)) AS b64,
             graft_quality_keep(text, 450, array('en', 'fr')) AS keep_en_fr,
             cast(size(graft_shingles(
               trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' '), '\\s+', ' ')),
               3)) AS BIGINT) AS n_shingles
      FROM graft_sqlfn_documents ORDER BY doc_id""")
  }

  private def textRollhash(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
        col("doc_id"), TF.rollingHash(col("text")).as("rollhash"))
      .orderBy("doc_id")

  private def textTokenReport(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenReport(t(s, dir, "documents"), "text", "lang")
      .orderBy("lang")

  /** Exact distinct counts are oracle-checked; the HLL++ sketch (not
    * cross-engine reproducible) is validated in-engine as an error-bound
    * boolean — deterministic for a fixed input, so it hashes stably. */
  private def textVocabulary(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabularyReport(t(s, dir, "documents"), "text", 0.05, "lang")
      .select(col("lang"), col("n_distinct_tokens"), col("n_token_occurrences"),
        (abs(col("n_distinct_approx") - col("n_distinct_tokens")).cast("double") /
          col("n_distinct_tokens") <= 0.15).as("sketch_ok"))
      .orderBy("lang")

  private def textVocabCoverage(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabCoverage(t(s, dir, "documents"), "text", Seq(100, 1000))
      .orderBy("top_n")

  private def textQualityFilter(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityFilter(t(s, dir, "documents"), "text", 450L,
        langs = Seq("en", "fr"))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")

  /** The composed Gopher A1 filter: quality + language + 2-gram repetition
    * caps; the narrow predicate runs first so only its survivors pay the
    * n-gram shuffle. */
  private def textGopherFilter(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherFilter(t(s, dir, "documents"), "doc_id", "text",
        minScore = 450L, langs = Seq("en", "fr"),
        maxDupPpm = 120000L, maxTopPpm = 60000L, ns = Seq(2))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")

  private def dedupNgramSurvivors(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.5, maxDocFreq = Long.MaxValue)
    Dedup.survivors(docs, pairs, "doc_id")
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** Incremental (crawl-over-crawl) dedup: docs ≥ 250 are the "new batch",
    * docs < 250 the existing corpus; an incoming doc survives unless it
    * near-duplicates an existing doc or a smaller-id incoming doc. */
  private def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.incrementalSurvivors(
        incoming = docs.where(col("doc_id") >= 250),
        existing = docs.where(col("doc_id") < 250),
        "doc_id", "text",
        shingleN = 3, threshold = 0.5, maxDocFreq = Long.MaxValue)
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** Incremental dedup against the PERSISTED bucketed posting index — the
    * steady-state corpus-refresh shape: the index is built once per refresh
    * (`buildPostingIndex` → `bucketMaterialize` on the shingle hash) and
    * every batch joins it with no exchange on the corpus side (PlanSpec
    * pins the shape). Same semantics and oracle as `dedup_incremental`. */
  private def dedupIncrementalIndexed(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val tag = layoutTag(dir)
    val idx = graft.operators.Relational.bucketMaterialize(
      graft.operators.Dedup.buildPostingIndex(
        docs.where(col("doc_id") < 250), "doc_id", "text", shingleN = 3),
      s"graft_b_postings_$tag", "h", 8,
      s"${graft.util.Scratch.base}/graft_bucketed_$tag/postings")
    graft.operators.Dedup.incrementalSurvivorsIndexed(
        incoming = docs.where(col("doc_id") >= 250), index = idx,
        idCol = "doc_id", textCol = "text",
        shingleN = 3, threshold = 0.5, maxDocFreq = Long.MaxValue)
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** Ingest-loop batch bounds — shared by the gate query AND its oracle so
    * the batch split cannot drift between them. */
  private val ingestBounds = Seq((0L, 150L), (150L, 350L), (350L, Long.MaxValue))

  /** Crawl-ingestion dedup loop (batch twin of the streaming text loop,
    * `EpochIngest` over `IndexKind.textPostings`):
    * ordered batches, each dedup'd against the corpus ACCEPTED so far via
    * the bucketed posting index, survivors extending the index before the
    * next batch probes it. The oracle chains the same steps over string
    * shingles. */
  private def dedupIngestLoop(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val tag = layoutTag(dir)
    val batches = ingestBounds.map { case (lo, hi) =>
      docs.where(col("doc_id") >= lo && col("doc_id") < hi) }
    Dedup.dedupIngest(batches, "doc_id", "text",
        s"graft_b_ingest_$tag", s"${graft.util.Scratch.base}/graft_bucketed_$tag/ingest",
        buckets = 8, shingleN = 3, threshold = 0.5)
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** Span-cut application (the Lee-2021 output): report duplicate 10-token
    * spans, then CUT them — the cleaned corpus as normalized tokens with
    * duplicate spans removed. Re-running the reporter on the cleaned text
    * finds nothing (spec-asserted in DedupSimilaritySpec). */
  private def dedupSpansApplied(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val spans = graft.operators.Dedup.duplicateSpans(
      docs, "doc_id", "text", n = 10)
    graft.operators.Dedup.applySpanCuts(docs, spans, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Gopher-style per-doc repetition signals over word 2- and 3-grams. */
  private def textRepetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionReport(t(s, dir, "documents"), "doc_id", "text",
        ns = Seq(2, 3))
      .orderBy("doc_id", "n")

  /** Transitive dup-cluster labels over the exact n-gram pair graph —
    * chains (a~b, b~c) collapse into one cluster even when a,c never
    * paired directly; the oracle computes the same closure with a DuckDB
    * recursive CTE. */
  private def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.5, maxDocFreq = Long.MaxValue)
    Dedup.connectedComponents(docs, pairs, "doc_id")
      .orderBy("doc_id")
  }

  /** Memorization-risk coverage report: per source, the fraction of
    * corpus tokens sitting inside corpus-duplicated ≥10-token spans (the
    * `dedup_spans` relation) — the number that decides whether span
    * cutting is worth a pipeline stage. Integer ppm floor; spans are
    * already maximal/disjoint per doc so the sum is exact coverage. */
  private def dedupSpanCoverage(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val dup = Dedup.duplicateSpans(docs, "doc_id", "text", n = 10)
      .groupBy("doc_id")
      .agg(sum(col("end_tok") - col("start_tok")).as("dup_toks"))
    docs.select(col("doc_id"), col("source"),
        size(TF.tokens(col("text"))).cast("long").as("n_toks"))
      .join(dup, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(sum(col("n_toks")).as("total_tokens"),
           sum(coalesce(col("dup_toks"), lit(0L))).as("dup_tokens"))
      .withColumn("coverage_ppm",
        expr("dup_tokens * 1000000L DIV total_tokens"))
      .orderBy("source")
  }

  /** What did dedup actually remove? Kept-vs-dropped quality/size
    * profile per language over the `dedup_clusters` cut — the report
    * that catches a dedup pass systematically deleting the GOOD copies
    * (or all of one language). Slim (id, kept) labels join the per-doc
    * quality projection; two map-side-combinable aggregates. */
  private def dedupImpactReport(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.5, maxDocFreq = Long.MaxValue)
    val labels = Dedup.connectedComponents(docs, pairs, "doc_id")
      .select(col("doc_id"),
        when(col("doc_id") === col("cluster_id"), "kept")
          .otherwise("dropped").as("fate"))
    docs.select(col("doc_id"), col("lang"),
        TF.qualityScore(col("text")).as("q"),
        size(TF.tokens(col("text"))).cast("long").as("n_toks"))
      .join(labels, "doc_id")
      .groupBy("fate", "lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("q")).as("sum_quality"),
           expr("sum(q) DIV count(1)").as("mean_quality"),
           sum(col("n_toks")).as("n_tokens"))
      .orderBy("fate", "lang")
  }

  /** LSH blocking quality as a first-class report: precision/recall of
    * the estimate-thresholded MinHash-LSH pair set against the exact
    * all-pairs Jaccard ground truth at the same threshold — the number a
    * pipeline owner needs before trusting banding parameters at scale.
    * Both relations are slim id pairs; the intersection is one equi-join;
    * the corpus is scanned once per path. */
  /** LSH S-curve calibration: recall of the banded MinHash candidates per
    * exact-Jaccard decile — the tuning report that tells WHERE the 16-band
    * sketch's recall cliff sits (theory: P[caught] = 1-(1-j^8)^16), so a
    * threshold change is informed, not guessed. The exact side runs at a
    * 0.1 floor to expose the below-threshold deciles the quality rollup
    * (`dedup_lsh_quality`) never sees. Decile = least(floor(j·10), 9) —
    * two identical IEEE ops on exact-integer inputs in both engines.
    * Diagnostic operator: the exact pair side is the expensive truth (the
    * same inverted-index join as `dedup_ngram`); run sampled at 100 TB. */
  private def dedupLshRecallCurve(s: SparkSession, dir: String): DataFrame =
    Dedup.lshRecallCurve(t(s, dir, "documents"), "doc_id", "text",
        numHashes = 128, bands = 16, lshThreshold = 0.4, exactFloor = 0.1)
      .orderBy("decile")

  private def dedupLshQuality(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text",
        numHashes = 128, bands = 16, threshold = 0.4)
      .select("id_a", "id_b")
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.4, maxDocFreq = Long.MaxValue)
      .select("id_a", "id_b")
    val both = lsh.join(exact, Seq("id_a", "id_b"))
      .agg(count(lit(1)).as("n_both"))
    lsh.agg(count(lit(1)).as("n_lsh"))
      .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
      .crossJoin(both)
      // zero-denominator => NULL, not NaN: 0.0/0.0 is engine-dependent
      // (Spark NaN vs DuckDB version-dependent), so an empty pair set
      // after a threshold tune must compare bit-identically, not turn
      // into an oracle mismatch (ADVICE r8)
      .select(col("n_lsh"), col("n_exact"), col("n_both"),
              when(col("n_lsh") === 0, lit(null).cast("double"))
                .otherwise(col("n_both").cast("double") /
                           col("n_lsh").cast("double"))
                .as("lsh_precision"),
              when(col("n_exact") === 0, lit(null).cast("double"))
                .otherwise(col("n_both").cast("double") /
                           col("n_exact").cast("double"))
                .as("lsh_recall"))
  }

  /** Keep-best-quality representative per near-dup cluster (same edge
    * relation as `dedup_clusters`, `TextFunctions.qualityScore` as the
    * keep policy — the production cut). */
  private def dedupBestOfCluster(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.5, maxDocFreq = Long.MaxValue)
    Dedup.bestOfClusterSurvivors(docs, pairs, "doc_id",
        TF.qualityScore(col("text")))
      .orderBy("doc_id")
  }

  /** Triangle census of the Jaccard near-dup graph (same edge relation as
    * `dedup_clusters`): nodes inside template cliques vs chain-linked
    * near-dups. */
  private def graphTriangles(s: SparkSession, dir: String): DataFrame =
    operators.Graph.triangleCounts(
        Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
            shingleN = 3, threshold = 0.5, maxDocFreq = Long.MaxValue)
          .select("id_a", "id_b"),
        "id_a", "id_b")
      .select(col("id").as("doc_id"), col("n_triangles"))
      .orderBy("doc_id")

  /** Component-size histogram of the `dedup_clusters` labeling — the
    * dup-graph pathology report. */
  private def graphCcSizes(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.5, maxDocFreq = Long.MaxValue)
    operators.Graph.componentSizeHistogram(
        Dedup.connectedComponents(docs, pairs, "doc_id"), "cluster_id")
      .orderBy("cluster_size")
  }

  // fuzzy-pipeline LSH parameters — shared by the gate query AND its
  // oracle so a tune cannot drift them apart
  private val fuzzyHashes = 128
  private val fuzzyBands = 16
  private val fuzzyThreshold = 0.4

  /** The fuzzy-dedup pipeline production corpora actually run, end to end
    * as ONE composed query: MinHash+LSH candidate pairs → transitive
    * cluster labels (pointer-jumping connected components) → one min-id
    * survivor per cluster with its absorbed count. The oracle stacks the
    * XXH64-replica banding chain, the recursive-CTE closure, and the
    * representative cut. */
  private def dedupFuzzyPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      numHashes = fuzzyHashes, bands = fuzzyBands, threshold = fuzzyThreshold)
    Dedup.clusterSurvivors(docs, pairs, "doc_id")
      .join(docs.select("doc_id", "lang", "source"), Seq("doc_id"))
      .select("doc_id", "lang", "source", "n_members")
      .orderBy("doc_id")
  }

  private def mmImageHeaders(s: SparkSession, dir: String): DataFrame =
    // Real bytes-to-metadata work over committed real image files (encoded
    // once by ImageIO — see tools/MakeImageFixtures): the oracle is the
    // fixture spec itself as a VALUES literal, independent knowledge of
    // what the bytes must parse to.
    Multimodal.imageHeaders(
        s.read.format("binaryFile")
         .load(new java.io.File("fixtures/images").getAbsolutePath))
      .toDF().orderBy("name")

  /** Real audio decode over committed WAV fixtures (encoded once by the
    * JDK's own javax.sound writer — tools/MakeAudioFixtures): fmt/data
    * chunks parsed by the pure [[graft.functions.WavHeader]], frame grid
    * derived from GENUINELY decoded sample counts. The oracle is the
    * fixture spec itself as a VALUES literal — independent knowledge of
    * what the bytes must parse to, the `mm_image_headers` pattern. */
  private def mmWavFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.wavFrames(
        s.read.format("binaryFile")
         .load(new java.io.File("fixtures/audio").getAbsolutePath))
      .toDF().orderBy("name")

  private def mmDecode(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").withColumn("kind",
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio").otherwise("video"))
    val media = Multimodal.withBinaryPayload(docs, "doc_id", "text", col("kind"))
    Multimodal.decodeMeta(media).toDF().orderBy("id")
  }

  /** dHash over GENUINELY DECODED pixels of the committed real-image
    * fixtures (ImageIO decode → raster luma → 9×8 box resample →
    * gradient bits). Only the two fixtures whose stored samples are
    * derivable from the render spec WITHOUT any codec are gated — lossless
    * PNGs of exact RGB/RGBA pixels, so the VALUES oracle's expected hashes
    * come from a pure-integer replica of render + luma + resample with no
    * ImageIO anywhere (MultimodalSpec additionally pins engine == replica
    * in-process). The gray PNG (its stored samples embed the JDK's
    * sRGB→gray conversion applied at fixture-encode time) and the lossy
    * JPEGs have no codec-free expected value; their decode behavior is
    * spec'd instead (recompression lands within hamming ≤ 3). */
  private def mmPhashImages(s: SparkSession, dir: String): DataFrame = {
    val files = s.read.format("binaryFile")
      .load(new java.io.File("fixtures/images").getAbsolutePath)
      .select(element_at(split(col("path"), "/"), -1).as("name"),
              col("content").as("payload"))
      .where(col("name").isin("img0_rgb.png", "img1_rgba.png"))
      .withColumn("id", when(col("name") === "img0_rgb.png", 0L).otherwise(1L))
    Multimodal.perceptualHash(files)
      .select(when(col("id") === 0L, lit("img0_rgb.png"))
        .otherwise(lit("img1_rgba.png")).as("name"), col("phash"))
      .orderBy("name")
  }

  /** Perceptual dHash over REAL PIXELS at corpus scale: every doc_id maps
    * to a real PNG ([[Multimodal.RenderSpec]] — rendered and encoded by
    * the JDK's actual ImageIO encoder inside the query, the stand-in for
    * payloads off object storage), and [[Multimodal.perceptualHash]]
    * ImageIO-decodes each one back to pixels. The oracle is a full
    * codec-free replica of the render arithmetic
    * (`OracleXX.renderDhashOracle`): the spec makes every resample cell a
    * constant 4×4 block, so the expected hash is pure integer math —
    * agreement proves 500 (sf0.01) / 5000 (sf0.1) genuine decodes. */
  private def mmPhash(s: SparkSession, dir: String): DataFrame =
    Multimodal.perceptualHash(
        Multimodal.renderedImagePayloads(t(s, dir, "documents"), "doc_id"))
      .orderBy("id")

  /** The stub-grid dHash path (non-image payloads — these corpus payloads
    * are text bytes): keeps the documented byte-probe fallback oracled by
    * the exact DuckDB replay (`OracleXX.dhashOracle`) now that the main
    * `mm_phash` rows run real pixels. */
  private def mmPhashStub(s: SparkSession, dir: String): DataFrame =
    Multimodal.perceptualHash(
        Multimodal.withBinaryPayload(t(s, dir, "documents"), "doc_id",
          "text", "image"))
      .orderBy("id")

  /** Image near-duplicates via the pigeonhole hamming join over REAL
    * decoded-pixel dHash fingerprints — payloads decode once to 8 bytes,
    * only fingerprints shuffle (see [[Multimodal.perceptualNearDup]]).
    * The render spec guarantees work at every SF: each 5-doc group holds
    * a hamming-0 pair (uniform +1 brightness shift — dHash's designed
    * invariance) and small-hamming bumped variants. */
  private def mmPhashNearDup(s: SparkSession, dir: String): DataFrame =
    Multimodal.perceptualNearDup(
        Multimodal.renderedImagePayloads(t(s, dir, "documents"), "doc_id"),
        maxHamming = 3)
      .orderBy("id_a", "id_b")

  /** Blocking-recall diagnostic twin of [[mmPhashNearDup]]: every banded
    * candidate pair with its exact hamming, unthresholded — the join
    * machinery exercised on >0 rows at every SF the driver runs. */
  private def mmPhashCandidates(s: SparkSession, dir: String): DataFrame =
    Multimodal.perceptualNearDup(
        Multimodal.renderedImagePayloads(t(s, dir, "documents"), "doc_id"),
        maxHamming = 3, keepAllCandidates = true)
      .orderBy("id_a", "id_b")

  /** Codec fault handling at gate scale: a mixed real-codec corpus (PNG /
    * JPEG / PNG-truncated-after-IHDR per [[Multimodal.renderedMixedPayloads]])
    * through the real decode path. A corrupt body behind a valid magic
    * must yield a NULL hash — a row-level degradation, never a task kill
    * (the 100 TB contract) — and JPEG rows prove the second codec's full
    * encode/decode runs at scale (their lossy hash values are spec'd in
    * MultimodalSpec, not oracled; here the gate pins decodability). */
  /** 64-bit audio fingerprint over REAL decoded PCM at corpus scale: every
    * doc_id maps to a real WAV ([[Multimodal.AudioRenderSpec]] — synth
    * sawtooth through the actual `javax.sound` WAVE encoder inside the
    * query), decoded back byte-level and fingerprinted by the lag-energy
    * filterbank ([[Multimodal.audioFingerprint64]]). The oracle replays
    * decode + fingerprint from the formula alone
    * (`OracleXX.audioFpOracle`) — agreement pins the whole encode →
    * parse → mono-mix → energy → gradient-bit pipeline per row. */
  private def mmAudioFingerprint(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioFingerprint(
        Multimodal.renderedAudioPayloads(t(s, dir, "documents"), "doc_id"))
      .orderBy("id")

  /** Audio near-duplicates via the pigeonhole hamming join over the
    * fingerprints — the same kernel reuse as the image path
    * ([[Multimodal.audioNearDup]]). Each 5-doc group guarantees pairs:
    * polarity inversion is hamming 0 BY CONSTRUCTION, amplitude halving
    * and a 160-sample shift land within a few bits. */
  private def mmAudioNearDup(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioNearDup(
        Multimodal.renderedAudioPayloads(t(s, dir, "documents"), "doc_id"),
        maxHamming = 3)
      .orderBy("id_a", "id_b")

  /** Real VIDEO container decode at corpus scale — the third modality's
    * genuine-decode gate beside `mm_phash` (ImageIO) and
    * `mm_audio_fingerprint` (javax.sound): every doc_id maps to a real
    * single-stream uncompressed AVI ([[Multimodal.VideoRenderSpec]]), and
    * [[Multimodal.videoMeta]] walks the RIFF list tree back out
    * ([[graft.functions.AviHeader]]). Ids with `id % 11 == 3` are
    * truncated mid-way into their LAST frame chunk — the parser must
    * report one frame fewer than declared (clamp-to-present), never
    * throw. The oracle replays the frame-count draw and the truncation
    * rule as pure id arithmetic. */
  private def mmVideoMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.videoMeta(
        Multimodal.renderedVideoPayloads(t(s, dir, "documents"), "doc_id",
          truncateMod = 11L))
      .toDF().orderBy("id")

  /** Per-frame dHash over GENUINELY decoded DIB pixels: AVI walk →
    * bottom-up BGR decode → integer luma → the shared [[Multimodal
    * .dhashFromGray]] resample kernel, one row per (video, frame). The
    * oracle is the codec-free render-formula replica
    * (`OracleXX.videoFrameDhashOracle`) — agreement pins ~7 real frame
    * decodes per corpus doc. */
  private def mmVideoFrameHashes(s: SparkSession, dir: String): DataFrame =
    Multimodal.videoFrameHashes(
        Multimodal.renderedVideoPayloads(t(s, dir, "documents"), "doc_id"))
      .orderBy("id", "frame_idx")

  /** Majority-vote 64-bit video fingerprint ([[Multimodal
    * .videoFingerprint64]]) per payload — parse + per-frame hash +
    * combine in one scan stage; the frame-count spread (6–8 per group)
    * exercises both tie parities of the vote. */
  private def mmVideoFingerprint(s: SparkSession, dir: String): DataFrame =
    Multimodal.videoFingerprint(
        Multimodal.renderedVideoPayloads(t(s, dir, "documents"), "doc_id"))
      .orderBy("id")

  /** Video near-duplicates via the same pigeonhole hamming kernel as the
    * image/audio paths: each 5-doc group guarantees a hamming-0 pair
    * (uniform +1 brightness on every frame — dHash invariance composed
    * with the tie-stable majority vote) and a one-frame-edit variant
    * within a couple of bits. */
  private def mmVideoNearDup(s: SparkSession, dir: String): DataFrame =
    Multimodal.videoNearDup(
        Multimodal.renderedVideoPayloads(t(s, dir, "documents"), "doc_id"),
        maxHamming = 3)
      .orderBy("id_a", "id_b")

  /** Format sniffing at corpus scale — the ingest router's decision over
    * a mixed corpus where every class goes through its REAL encoder
    * ([[Multimodal.renderedSniffPayloads]]: ImageIO PNG + JPEG,
    * javax.sound WAV, the AVI writer, GZIPOutputStream, UTF-8 text, and
    * a deliberate non-UTF-8 byte string). [[Multimodal.sniffKind]] must
    * classify all seven — each parser accepting its own format and
    * rejecting the other six is exactly what the magic/chunk-walk
    * strictness claims. Oracle is pure id arithmetic. */
  private def mmSniff(s: SparkSession, dir: String): DataFrame =
    Multimodal.sniff(
        Multimodal.renderedSniffPayloads(t(s, dir, "documents"), "doc_id"))
      .orderBy("id")

  /** Clip/scene-reuse report ([[Multimodal.videoSharedFrames]]): video
    * pairs sharing exact per-frame dHashes, frame-position independent —
    * each 5-doc render group pairs members 0–3 richly (the +1-brightness
    * twin shares EVERY frame hash; single/two-frame edits share all but
    * the edited ones) while the independent member 4 pairs with nothing.
    * The inverted-index join shape of `dedup_ngram`, over frames. */
  private def mmVideoSharedFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.videoSharedFrames(
        Multimodal.renderedVideoPayloads(t(s, dir, "documents"), "doc_id"),
        minShared = 2)
      .orderBy("id_a", "id_b")

  /** Incremental fingerprint near-dup against the PERSISTED fragment
    * index ([[Dedup.hammingSurvivorsIndexed]]) — the modality twin of
    * `dedup_incremental_indexed`: the corpus split members 0–1 of every
    * render group are fingerprinted ONCE into the bucketed fragment index;
    * the incoming members 2–4 probe it with zero index-side exchange
    * (PlanSpec-pinned). Every render group guarantees cross-boundary work:
    * member 3 (the +1-brightness twin) sits at hamming 0 from corpus
    * member 0, member 4 (independent) survives. The oracle replays the
    * render formula + fragment join + the greedy keep-first rule. */
  private def mmNearDupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val tag = layoutTag(dir)
    def fp(d: DataFrame) = Multimodal.perceptualHash(
        Multimodal.renderedImagePayloads(d, "doc_id"))
      .where(col("phash").isNotNull)
      .select(col("id"), col("phash").as("sh"))
    val idx = graft.operators.Relational.bucketMaterialize(
      Dedup.buildHammingPostings(fp(docs.where(col("doc_id") % 5 < 2)),
        maxHamming = 3),
      s"graft_b_mmidx_$tag", "bk", 8,
      s"${graft.util.Scratch.base}/graft_bucketed_$tag/mmidx")
    Dedup.hammingSurvivorsIndexed(fp(docs.where(col("doc_id") % 5 >= 2)),
        idx, maxHamming = 3)
      .select("id", "n_dup_corpus", "n_dup_batch", "survives")
      .orderBy("id")
  }

  /** Ingest-loop batch bounds for the fingerprint ingest gates — NOT
    * multiples of the 5-doc render group, so groups straddle batch
    * boundaries and the accepted-so-far index genuinely matters (a
    * group-aligned split would make every batch independent). Shared by
    * the gate queries AND the oracle. */
  private val mmIngestBounds = Seq((0L, 148L), (148L, 352L), (352L, Long.MaxValue))

  /** Fingerprint ingest loop over the bucketed fragment index
    * ([[Dedup.hammingIngest]]) — ordered batches of real rendered PNGs,
    * each decoded once, probed against the fingerprints ACCEPTED so far,
    * survivors extending the index before the next batch probes it. */
  private def mmIngestLoop(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val tag = layoutTag(dir)
    val batches = mmIngestBounds.map { case (lo, hi) =>
      Multimodal.perceptualHash(
          Multimodal.renderedImagePayloads(
            docs.where(col("doc_id") >= lo && col("doc_id") < hi), "doc_id"))
        .where(col("phash").isNotNull)
        .select(col("id"), col("phash").as("sh")) }
    Dedup.hammingIngest(batches, s"graft_b_mmingest_$tag",
        s"${graft.util.Scratch.base}/graft_bucketed_$tag/mmingest",
        buckets = 8, maxHamming = 3)
      .select(col("id"), col("sh").as("phash"))
      .orderBy("id")
  }

  /** The fingerprint ingest loop run LIVE ([[graft.streaming.MmIngest]]):
    * the same three payload batches arrive as parquet files through a
    * file stream (`maxFilesPerTrigger = 1`, mod-times force order), each
    * micro-batch decodes its payloads ONCE, probes the bucketed fragment
    * index, and extends it with the survivors — gated against the
    * identical sequential-loop oracle as `mm_ingest_loop`, batch/live
    * parity for the modality ingestion path. */
  /** Embedding ingest-loop batch bounds — absolute vec_id cuts, the
    * [[mmIngestBounds]] convention (shared by gates and oracle). The
    * corpus has 500 vectors at sf0.01 and 2000 at sf0.1, so every batch
    * is non-trivial at both scales. */
  private val embedIngestBounds = Seq((0L, 150L), (150L, 400L), (400L, Long.MaxValue))

  /** Embedding ingest loop over the persisted bucketed LSH index
    * ([[Dedup.embedIngest]]) — ordered batches of vectors, each probed
    * against the vectors ACCEPTED so far (bucket equi-join, zero
    * index-side exchange), survivors extending the index before the next
    * batch probes it. Completes the persisted-index ingest triad:
    * text postings / modality fingerprints / embeddings. */
  private def dedupEmbedIngest(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val tag = layoutTag(dir)
    val batches = embedIngestBounds.map { case (lo, hi) =>
      emb.where(col("vec_id") >= lo && col("vec_id") < hi)
        .select(col("vec_id").as("id"), col("embedding").as("vec")) }
    Dedup.embedIngest(batches, s"graft_b_embingest_$tag",
        s"${graft.util.Scratch.base}/graft_bucketed_$tag/embingest",
        buckets = 8, threshold = 0.25)
      .select(col("id").as("vec_id"))
      .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      .orderBy("vec_id")
  }

  /** The embedding ingest loop run LIVE ([[graft.streaming.EmbedIngest]]):
    * the same three vector batches arrive through a file stream
    * (`maxFilesPerTrigger = 1`, mod-times force order), each micro-batch
    * probes the bucketed LSH index of everything ACCEPTED so far and
    * extends it with its survivors — gated against the identical
    * sequential-loop oracle as `dedup_embed_ingest`. */
  private def streamEmbedIngest(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val tag = layoutTag(dir)
    val work = graft.util.TempDirs.create("graft-stream-embed-ingest")
    val inDir = work.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val emb = t(s, dir, "embeddings")
    embedIngestBounds.zipWithIndex.foreach { case ((lo, hi), i) =>
      val part = work.resolve(s"b$i")
      emb.where(col("vec_id") >= lo && col("vec_id") < hi)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
        .coalesce(1).write.parquet(part.toString)
      val src = part.toFile.listFiles().find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file under $part"))
      val dst = inDir.resolve(f"b$i%02d.parquet").toFile
      require(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
    }
    val kind = graft.streaming.IndexKind.embedLsh(threshold = 0.25)
    kind.init(s, s"graft_b_stream_embingest_$tag",
      s"${graft.util.Scratch.base}/graft_bucketed_$tag/stream_embingest")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("vec",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    val incoming = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    val out = work.resolve("out").toString
    val q = graft.streaming.EpochIngest.start(incoming, kind,
      indexTable = s"graft_b_stream_embingest_$tag", outPath = out,
      checkpoint = work.resolve("ck").toString, availableNow = true)
    q.awaitTermination()
    s.read.parquet(out).select(col("id").as("vec_id"))
      .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      .orderBy("vec_id")
  }

  private def streamMmIngest(s0: SparkSession, dir: String): DataFrame =
    streamMmIngestImpl(s0, dir, gen = false)

  /** `stream_mm_ingest` on the crash-safe GENERATIONAL index layout
    * ([[graft.operators.GenIndex]]) with a swap compaction after EVERY
    * epoch — the production maintenance path exercised end-to-end: each
    * micro-batch probes an index that was rewritten into a fresh
    * marker-committed generation since the last epoch. Same oracle as
    * `stream_mm_ingest`: the layout and its compactions must be invisible
    * to the survivor decision. */
  private def streamMmIngestGen(s0: SparkSession, dir: String): DataFrame =
    streamMmIngestImpl(s0, dir, gen = true)

  private def streamMmIngestImpl(s0: SparkSession, dir: String,
                                 gen: Boolean): DataFrame = {
    val s = streamSession(s0)
    val tag = layoutTag(dir) + (if (gen) "_gen" else "")
    val work = graft.util.TempDirs.create("graft-stream-mm-ingest")
    val inDir = work.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val docs = t(s, dir, "documents")
    mmIngestBounds.zipWithIndex.foreach { case ((lo, hi), i) =>
      val part = work.resolve(s"b$i")
      Multimodal.renderedImagePayloads(
          docs.where(col("doc_id") >= lo && col("doc_id") < hi), "doc_id")
        .coalesce(1).write.parquet(part.toString)
      val src = part.toFile.listFiles().find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file under $part"))
      val dst = inDir.resolve(f"b$i%02d.parquet").toFile
      require(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
    }
    val kind = graft.streaming.IndexKind.hamming(maxHamming = 3)
    val idxPath = s"${graft.util.Scratch.base}/graft_bucketed_$tag/stream_mmingest"
    kind.init(s, s"graft_b_stream_mmingest_$tag", idxPath, gen = gen)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.BinaryType)))
    val incoming = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    val out = work.resolve("out").toString
    val q = graft.streaming.EpochIngest.start(incoming, kind,
      indexTable = s"graft_b_stream_mmingest_$tag", outPath = out,
      checkpoint = work.resolve("ck").toString, availableNow = true,
      indexPath = if (gen) idxPath else null,
      compactEvery = if (gen) 1 else 0)
    q.awaitTermination()
    s.read.parquet(out).select("id", "phash").orderBy("id")
  }

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
  private def streamPipelineMmIngest(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val tag = layoutTag(dir)
    val work = graft.util.TempDirs.create("graft-stream-pipeline-mm")
    val inDir = work.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val docs = t(s, dir, "documents")
    mmIngestBounds.zipWithIndex.foreach { case ((lo, hi), i) =>
      val part = work.resolve(s"b$i")
      Multimodal.renderedIngestPayloads(
          docs.where(col("doc_id") >= lo && col("doc_id") < hi), "doc_id")
        .coalesce(1).write.parquet(part.toString)
      val src = part.toFile.listFiles().find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file under $part"))
      val dst = inDir.resolve(f"b$i%02d.parquet").toFile
      require(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
    }
    val kind = graft.streaming.IndexKind.familyHamming(maxHamming = 3)
    kind.init(s, s"graft_b_stream_pipemm_$tag",
      s"${graft.util.Scratch.base}/graft_bucketed_$tag/stream_pipemm")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.BinaryType)))
    val incoming = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    val out = work.resolve("out").toString
    val q = graft.streaming.EpochIngest.start(incoming, kind,
      indexTable = s"graft_b_stream_pipemm_$tag", outPath = out,
      checkpoint = work.resolve("ck").toString, availableNow = true)
    q.awaitTermination()
    s.read.parquet(out).select("id", "family", "phash").orderBy("id")
  }

  /** The COMPOSED multimodal ingest DAG run end to end as ONE dataflow —
    * mixed real-codec corpus ([[Multimodal.renderedIngestPayloads]]: PNG /
    * WAV / AVI / text, plus truncated-PNG corrupt rows) → magic-byte sniff
    * routes each payload → the matching decoder runs ONCE in the same scan
    * → per-modality fingerprints → ONE family-keyed pigeonhole near-dup
    * join → per-family curation data-card. Where every other mm_* gate
    * proves one operator, this proves they compose into the pipeline shape
    * the reference actually is (source → interceptors → sinks as one
    * graph). The oracle is a pure composition of the three modality
    * formula replicas plus the keyed fragment join
    * ([[OracleXX.ingestCardOracle]]). */
  private def pipelineMmIngest(s: SparkSession, dir: String): DataFrame =
    Multimodal.ingestPipeline(
        Multimodal.renderedIngestPayloads(t(s, dir, "documents"), "doc_id"))
      ._1.orderBy("family")

  /** The composed DAG's unified near-dup PAIR table — image, audio, and
    * video pairs out of one grouped blocked join (the family rides in the
    * bucket key; [[Dedup.hammingPairs64Keyed]]), hash-gated row by row.
    *
    * Deliberately re-runs the pipeline rather than sharing state with the
    * card gate: cross-query result sharing is exactly the CacheManager
    * coupling this repo abolished (util.CacheSalt — a shared entry freed
    * by whichever query finishes first corrupted results at 1-in-7 sweep
    * odds), and within ONE gate the extra cost is a 4-row data-card
    * checkpoint over the already-persisted slim fingerprint projection
    * (~0.3 s) — the payload decode runs once per gate either way. */
  private def pipelineMmIngestPairs(s: SparkSession, dir: String): DataFrame =
    Multimodal.ingestPipeline(
        Multimodal.renderedIngestPayloads(t(s, dir, "documents"), "doc_id"))
      ._2.select(col("grp").as("family"), col("id_a"), col("id_b"),
                 col("hamming"))
      .orderBy("family", "id_a", "id_b")

  /** COMPRESSED-codec video decode at corpus scale: the same render-spec
    * frames, each through the REAL ImageIO JPEG encoder into a 'MJPG' AVI
    * ([[Multimodal.renderedMjpegPayloads]]), decoded back frame-by-frame
    * by the real ImageIO JPEG reader inside the one-scan
    * [[Multimodal.videoDecodeReport]]. JPEG is lossy, so the hash VALUES
    * are spec'd by hamming tolerance in MultimodalSpec (the
    * `mm_phash_images` pattern); the gate oracles what is exact — codec
    * id, frame counts, decode survival, fingerprint presence. Ids with
    * `id % 9 == 3` carry one truncated JPEG stream inside a valid
    * container: exactly that frame must drop (n_decoded = n_present − 1),
    * never a task kill. */
  private def mmVideoMjpeg(s: SparkSession, dir: String): DataFrame =
    Multimodal.videoDecodeReport(
        Multimodal.renderedMjpegPayloads(t(s, dir, "documents"), "doc_id",
          corruptMod = 9L))
      .toDF()
      .select(col("id"), col("codec"), col("n_frames_present"),
              col("n_frames_decoded"),
              when(col("vfp").isNotNull, lit(1)).otherwise(lit(0))
                .as("fp_nonnull"))
      .orderBy("id")

  private def mmPhashDecodeFaults(s: SparkSession, dir: String): DataFrame =
    // kind re-derived from the id arithmetic rather than joined back from
    // the render stage — the payloads render+decode exactly once
    Multimodal.perceptualHash(
        Multimodal.renderedMixedPayloads(t(s, dir, "documents"), "doc_id"))
      .select(col("id"),
              when(col("id") % 17 === 5, lit("corrupt_png"))
                .when(col("id") % 5 === 4, lit("jpeg"))
                .otherwise(lit("png")).as("kind"),
              when(col("phash").isNotNull, lit(1)).otherwise(lit(0)).as("decoded"))
      .orderBy("id")

  private def mmFrames(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").withColumn("kind", lit("video"))
    val media = Multimodal.withBinaryPayload(docs, "doc_id", "text", col("kind"))
    Multimodal.sampleFrames(Multimodal.decodeMeta(media), everyN = 10)
      .orderBy("id", "frame_idx")
  }

  /** Window/hop framing manifest over the audio third of the corpus:
    * 25 ms / 10 ms frame grid at 16 kHz from decoded metadata only. */
  private def mmAudioFrames(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").withColumn("kind",
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio").otherwise("video"))
    val media = Multimodal.withBinaryPayload(docs, "doc_id", "text", col("kind"))
    // gate corpus clips are short (stub n_samples 28..276): a 64/25 grid
    // exercises multi-frame expansion AND the too-short-clip drop; real
    // speech runs keep the 400/160 defaults (25 ms / 10 ms at 16 kHz)
    Multimodal.audioFrames(Multimodal.decodeMeta(media),
        windowSamples = 64, hopSamples = 25)
      .orderBy("id", "frame_idx")
  }

  private def eventsJson(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .orderBy("event_id")

  /** Corrupt-record handling: ~1/7 of the JSON payloads are deterministically
    * truncated (closing brace dropped), and the parse must degrade per-row
    * to NULL + a malformed flag — never fail the job. At 100 TB corrupt
    * records are a certainty; the pipeline contract is row-level
    * quarantine, not job-level crash. */
  private def eventsJsonMalformed(s: SparkSession, dir: String): DataFrame = {
    val doctored = when(pmod(col("event_id"), lit(7)) === 0,
        expr("substring(props, 1, length(props) - 1)"))
      .otherwise(col("props"))
    t(s, dir, "events").select(
        col("event_id"),
        get_json_object(doctored, "$.k").cast("long").as("k"))
      .withColumn("malformed", col("k").isNull)
      .orderBy("event_id")
  }

  /** The window-function suite beyond rank: offsets (lag/lead), bucketing
    * (ntile), and the distribution functions — percent_rank and cume_dist
    * are exact integer ratios (one correctly-rounded division), so the
    * doubles compare bit-equal across engines. */
  private def qWindowSuite(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    events(s, dir).select(col("user_id"), col("event_id"),
        lag("event_id", 1).over(w).as("prev_id"),
        lead("event_id", 1).over(w).as("next_id"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"))
      .orderBy("user_id", "event_id")
  }

  /** Value-based (RANGE) window frames — the frame type `q_window_suite`'s
    * row-based functions don't touch: trailing-30-minute event count and
    * exact-cents spend per user. RANGE frames are tie-insensitive (every
    * row with ts inside the bound joins the frame), so duplicates order-
    * independently — no tie-break column needed. */
  private def qWindowRange(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms"))
      .rangeBetween(-1800000L, 0L)
    events(s, dir).select(col("user_id"), col("event_id"), col("ts_ms"),
        count(lit(1)).over(w).as("n_trailing_30m"),
        sum(cents(col("value"))).over(w).as("cents_trailing_30m"))
      .orderBy("event_id")
  }

  private def textRedact(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.redact(docs, "text")
      .select(col("doc_id"), md5(to_binary(col("text"), lit("utf-8"))).as("redacted_md5"))
      .join(docs.select(col("doc_id"),
        md5(to_binary(col("text"), lit("utf-8"))).as("orig_md5")), "doc_id")
      .select(col("doc_id"), col("redacted_md5"),
        (col("redacted_md5") =!= col("orig_md5")).as("changed"))
      .orderBy("doc_id")
  }

  // ==== live streaming engine under the gate ==============================

  /** The ACTUAL streaming path — `Pipeline.start` → `readStream` over the
    * events fixture → config-assembled interceptor chain (regex keep +
    * header enrich) → `foreachBatch` fanout → file sink — driven to
    * completion with `Trigger.AvailableNow`, then the sink directory is read
    * back as the gate result. This oracle-checks checkpointing/foreachBatch/
    * fanout itself, not a batch twin (round-2 verdict item 2). */
  /** Live streaming twin of [[dedupIngestLoop]] under `Trigger.AvailableNow`:
    * the same three [[ingestBounds]] batches arrive as three parquet files
    * through a file stream (`maxFilesPerTrigger = 1`, mod-times force the
    * batch order), each micro-batch probes-then-extends the bucketed
    * accepted-corpus index, and the survivors must match the batch twin's
    * oracle exactly — batch/streaming parity for the ingestion pipeline,
    * the way `stream_pipeline_e2e` proves it for the event pipeline. */
  private def streamDedupIngest(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val tag = layoutTag(dir)
    val work = graft.util.TempDirs.create("graft-stream-ingest")
    val inDir = work.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
    ingestBounds.zipWithIndex.foreach { case ((lo, hi), i) =>
      val part = work.resolve(s"b$i")
      docs.where(col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).write.parquet(part.toString)
      val src = part.toFile.listFiles().find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file under $part"))
      val dst = inDir.resolve(f"b$i%02d.parquet").toFile
      require(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
    }
    val kind = graft.streaming.IndexKind.textPostings("doc_id", "text",
      shingleN = 3, threshold = 0.5)
    kind.init(s, s"graft_b_stream_ingest_$tag",
      s"${graft.util.Scratch.base}/graft_bucketed_$tag/stream_ingest")
    val incoming = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    val out = work.resolve("out").toString
    val q = graft.streaming.EpochIngest.start(incoming, kind,
      indexTable = s"graft_b_stream_ingest_$tag", outPath = out,
      checkpoint = work.resolve("ck").toString, availableNow = true)
    q.awaitTermination()
    s.read.parquet(out).select("doc_id", "lang").orderBy("doc_id")
  }

  /** [[streamDedupIngest]] with per-epoch OUTPUT FOLDING
    * ([[graft.streaming.IngestOutput]]): every committed epoch directory
    * rewrites into the marker-committed base generation as the stream
    * runs, and the official reader must land on the identical survivor
    * set — the fold layout and its crash contract must be invisible to
    * consumers (same oracle as `stream_dedup_ingest`). */
  private def streamDedupIngestFolded(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val tag = layoutTag(dir)
    val work = graft.util.TempDirs.create("graft-stream-ingest-fold")
    val inDir = work.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
    ingestBounds.zipWithIndex.foreach { case ((lo, hi), i) =>
      val part = work.resolve(s"b$i")
      docs.where(col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).write.parquet(part.toString)
      val src = part.toFile.listFiles().find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file under $part"))
      val dst = inDir.resolve(f"b$i%02d.parquet").toFile
      require(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
    }
    val kind = graft.streaming.IndexKind.textPostings("doc_id", "text",
      shingleN = 3, threshold = 0.5)
    kind.init(s, s"graft_b_stream_ingfold_$tag",
      s"${graft.util.Scratch.base}/graft_bucketed_$tag/stream_ingfold")
    val incoming = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    val out = work.resolve("out").toString
    val q = graft.streaming.EpochIngest.start(incoming, kind,
      indexTable = s"graft_b_stream_ingfold_$tag", outPath = out,
      checkpoint = work.resolve("ck").toString, availableNow = true,
      foldOutputEvery = 1)
    q.awaitTermination()
    graft.streaming.IngestOutput.read(s, out)
      .select("doc_id", "lang").orderBy("doc_id")
  }

  /** The streaming funnel driven LIVE under the gate: the event projection
    * arrives as a file stream (one data batch, then two far-future sentinel
    * events whose only job is to push the watermark past every user's
    * quiesce timeout and trigger the timed-out state replay in a following
    * batch), per-user state buffers and replays via
    * [[graft.streaming.FunnelStream]], and the emitted reach rows aggregate
    * through the SAME `Analytics.funnelSummary` as the batch funnel — gated
    * against the identical oracle as `events_funnel`, proving
    * batch/streaming parity for order-sensitive stateful analytics. */
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
  private def streamSessionWindow(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val work = graft.util.TempDirs.create("graft-stream-sesswin")
    val inDir = work.resolve("in")
    java.nio.file.Files.createDirectories(inDir)
    val ev = events(s, dir).select(col("user_id"), col("ts_ms"))
    val maxMs = ev.agg(max("ts_ms")).head().getLong(0)
    import s.implicits._
    Seq(("b0", ev),
        ("b1", Seq((-1L, maxMs + 10000000L)).toDF(ev.columns: _*)),
        ("b2", Seq((-2L, maxMs + 20000000L)).toDF(ev.columns: _*)))
      .zipWithIndex.foreach { case ((name, df), i) =>
        val part = work.resolve(name)
        df.coalesce(1).write.parquet(part.toString)
        val src = part.toFile.listFiles().find(_.getName.startsWith("part-"))
          .getOrElse(sys.error(s"no part file under $part"))
        val dst = inDir.resolve(s"$name.parquet").toFile
        require(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
      }
    val incoming = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    val sessions = incoming
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val out = work.resolve("out").toString
    val q = sessions
      .select(col("user_id"), col("n_events"),
        (unix_millis(col("session_window.end")) -
         unix_millis(col("session_window.start")) - 1800000L).as("active"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", work.resolve("ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", out).start()
    q.awaitTermination()
    s.read.parquet(out).where(col("user_id") >= 0)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"),
           sum("active").as("active_ms"))
      .orderBy("user_id")
  }

  private def streamFunnel(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val steps = Seq("signup", "view", "click", "purchase")
    val work = graft.util.TempDirs.create("graft-stream-funnel")
    val inDir = work.resolve("in")
    java.nio.file.Files.createDirectories(inDir)
    val ev = events(s, dir).select(col("user_id"), col("event_type"),
      col("ts_ms"))
    val maxMs = ev.agg(max("ts_ms")).head().getLong(0)
    import s.implicits._
    val sentinels = Seq(
      (-1L, steps.head, maxMs + 10000000L),
      (-2L, steps.head, maxMs + 20000000L))
    Seq(("b0", ev), ("b1", Seq(sentinels.head).toDF(ev.columns: _*)),
        ("b2", Seq(sentinels(1)).toDF(ev.columns: _*)))
      .zipWithIndex.foreach { case ((name, df), i) =>
        val part = work.resolve(name)
        df.coalesce(1).write.parquet(part.toString)
        val src = part.toFile.listFiles().find(_.getName.startsWith("part-"))
          .getOrElse(sys.error(s"no part file under $part"))
        val dst = inDir.resolve(s"$name.parquet").toFile
        require(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
      }
    val incoming = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    val reaches = graft.streaming.FunnelStream.reaches(incoming, steps,
      windowMs = Some(7L * 86400000L), quiesceMs = 1000L)
    val out = work.resolve("out").toString
    val q = reaches.toDF().writeStream.outputMode("append")
      .option("checkpointLocation", work.resolve("ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", out).start()
    q.awaitTermination()
    Analytics.funnelSummary(
      s.read.parquet(out).where(col("user_id") >= 0)
        .select("step", "step_name"))
  }

  /** LIVE stream-static enrichment — the canonical streaming dimension
    * join: the events stream (file source, one file per micro-batch)
    * joined to the static `customer` dimension. The static side is
    * broadcast into every micro-batch — stream-static joins are
    * STATELESS in Structured Streaming (no watermark, no join state),
    * which is exactly why the enrich-then-sink shape scales to
    * unbounded streams. The sink is read back and rolled up per
    * (segment, event_type) so the gate row set is compact; the oracle
    * is the equivalent batch join + aggregate. */
  private def streamStaticJoin(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val work = graft.util.TempDirs.create("graft-stream-static")
    val inDir = work.resolve("in")
    java.nio.file.Files.createDirectories(inDir)
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"), cents(col("value")).as("value_c"))
    (0 to 2).foreach { i =>
      val part = work.resolve(s"b$i")
      ev.where(pmod(col("event_id"), lit(3)) === i)
        .coalesce(1).write.parquet(part.toString)
      val src = part.toFile.listFiles().find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file under $part"))
      val dst = inDir.resolve(s"b$i.parquet").toFile
      require(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
    }
    val incoming = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    val dim = broadcast(t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment")))
    val out = work.resolve("out").toString
    val q = incoming.join(dim, col("user_id") === col("c_custkey"))
      .select("event_id", "c_mktsegment", "event_type", "value_c")
      .writeStream.outputMode("append")
      .option("checkpointLocation", work.resolve("ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", out).start()
    q.awaitTermination()
    s.read.parquet(out)
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_value_c"))
      .orderBy("c_mktsegment", "event_type")
  }

  /** LIVE streaming twin of `events_value_histogram`: the (grp, bin)
    * count sketch IS the streaming state — a complete-mode aggregation
    * whose per-micro-batch merge is exactly the sketch's count addition —
    * and the quantile read-out runs batch-side over the final state from
    * the memory sink. Same bin math, same oracle as the batch path. */
  private def streamValueHistogram(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val work = graft.util.TempDirs.create("graft-stream-hist")
    val inDir = work.resolve("in")
    java.nio.file.Files.createDirectories(inDir)
    val ev = events(s, dir).select(col("event_id"), col("event_type"),
      cents(col("value")).as("value_c"))
    (0 to 2).foreach { i =>
      val part = work.resolve(s"b$i")
      ev.where(pmod(col("event_id"), lit(3)) === i)
        .coalesce(1).write.parquet(part.toString)
      val src = part.toFile.listFiles().find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file under $part"))
      val dst = inDir.resolve(s"b$i.parquet").toFile
      require(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
    }
    val incoming = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    val table = s"graft_shist_${layoutTag(dir)}"
    val q = Analytics.histogramBins(incoming, "event_type", col("value_c"),
        lo = 0L, width = 1000L)
      .writeStream.outputMode("complete").format("memory").queryName(table)
      .option("checkpointLocation", work.resolve("ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    Analytics.quantilesFromBins(s.table(table), lo = 0L, width = 1000L)
      .withColumnRenamed("grp", "event_type")
      .orderBy("event_type", "q")
  }

  /** LIVE CDC-style streaming upsert — the foreachBatch MERGE pattern:
    * each micro-batch of purchase events merges into a keyed state
    * table (latest record per user by (ts, event_id)), written as a new
    * state version and atomically adopted — the read-side never sees a
    * half-written merge, and the argmax is a lexicographic struct max
    * (the bestOfCluster discipline), so arrival order across batches
    * cannot change the result. The 100 TB shape is the same merge
    * against a bucketed state table with partition-level rewrites; the
    * versioned-directory swap here is the single-box stand-in. */
  private def streamUpsert(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val work = graft.util.TempDirs.create("graft-stream-upsert")
    val inDir = work.resolve("in")
    java.nio.file.Files.createDirectories(inDir)
    val ev = events(s, dir).where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_ms"),
              cents(col("value")).as("value_c"))
    (0 to 2).foreach { i =>
      val part = work.resolve(s"b$i")
      ev.where(pmod(col("event_id"), lit(3)) === i)
        .coalesce(1).write.parquet(part.toString)
      val src = part.toFile.listFiles().find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file under $part"))
      val dst = inDir.resolve(s"b$i.parquet").toFile
      require(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
    }
    val statePath = new java.util.concurrent.atomic.AtomicReference[String](null)
    val incoming = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    val q = incoming.writeStream
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
      }
      .start()
    q.awaitTermination()
    s.read.parquet(statePath.get())
      .orderBy("user_id")
  }

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
  private def streamLateData(s0: SparkSession, dir: String): DataFrame = {
    val s = streamSession(s0)
    val work = graft.util.TempDirs.create("graft-stream-late")
    val inDir = work.resolve("in")
    java.nio.file.Files.createDirectories(inDir)
    val ev = events(s, dir).select(col("event_id"),
      timestamp_millis(col("ts_ms")).as("ts"), cents(col("value")).as("value_c"))
    (0 to 2).foreach { i =>
      val part = work.resolve(s"b$i")
      ev.where(pmod(col("event_id"), lit(3)) === i)
        .coalesce(1).write.parquet(part.toString)
      val src = part.toFile.listFiles().find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file under $part"))
      val dst = inDir.resolve(s"b$i.parquet").toFile
      require(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
    }
    val incoming = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    val out = work.resolve("out").toString
    val q = incoming.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum(col("value_c")).as("sum_value_c"))
      .select(unix_millis(col("window.start")).as("wstart_ms"),
              col("n"), col("sum_value_c"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", work.resolve("ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", out).start()
    q.awaitTermination()
    s.read.parquet(out).orderBy("wstart_ms")
  }

  /** The production ingest configuration: df pruning on (maxDocFreq = 3
    * bites at this corpus's boilerplate shingles) with a compaction after
    * every append so each batch prunes against GLOBAL document
    * frequencies, never stale batch-local ones. */
  private def dedupIngestCompacted(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val tag = layoutTag(dir)
    val batches = ingestBounds.map { case (lo, hi) =>
      docs.where(col("doc_id") >= lo && col("doc_id") < hi) }
    Dedup.dedupIngestCompacted(batches, "doc_id", "text",
        s"graft_b_ingestc_$tag", s"${graft.util.Scratch.base}/graft_bucketed_$tag/ingestc",
        buckets = 8, shingleN = 3, threshold = 0.5, maxDocFreq = 3L)
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  private def streamPipelineE2e(s0: SparkSession, dir: String): DataFrame = {
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
  }

  /** The DSv2 HTTP push source under the gate: a loopback client POSTs
    * deterministic fixture lines (`doc_id:md5(text)`) to the embedded
    * endpoint; the pipeline writes them to a file sink; every POST must be
    * acked 201 (which the source only releases after the epoch containing
    * the batch commits — so an ack implies the sink write is durable). The
    * sink directory read back is the gate result (round-2 verdict item 3). */
  private def httpPushE2e(s: SparkSession, dir: String): DataFrame = {
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
  }

  // ======================================================================

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // pipeline parity (SURVEY §2.1-2.4)
    "pipe_transform"      -> pipeTransform _,
    "pipe_drop_all"       -> ((s, dir) =>
      InterceptorChain(Seq(DevNullItp("dn")))(
        Sources.eventsTableAsEvents(t(s, dir, "events"))).toDF().select("body")),
    "pipe_route"          -> pipeRoute _,
    "pipe_split_words"    -> pipeSplitWords _,
    "pipe_b64"            -> pipeB64 _,
    "pipe_batch_assembly" -> pipeBatchAssembly _,
    "pipe_backoff"        -> pipeBackoff _,
    "pipe_devzero"        -> pipeDevZero _,
    "pipe_headers"        -> pipeHeaders _,
    "pipe_dump_codec"     -> pipeDumpCodec _,
    "pipe_gzip"           -> pipeGzip _,
    // streaming semantics (batch twins; live-stream path covered in tests)
    "stream_hour_window"  -> streamHourWindow _,
    "stream_sessionize"   -> streamSessionize _,
    "stream_session_window" -> streamSessionWindow _,
    "stream_dedup_events" -> streamDedupEvents _,
    "stream_interval_join" -> streamIntervalJoin _,
    "stream_interval_join_left" -> streamIntervalJoinLeft _,
    "stream_interval_join_full" -> streamIntervalJoinFull _,
    "stream_interval_join_right" -> streamIntervalJoinRight _,
    "stream_funnel"       -> streamFunnel _,
    "stream_static_join"  -> streamStaticJoin _,
    "stream_value_histogram" -> streamValueHistogram _,
    "stream_upsert"       -> streamUpsert _,
    "stream_attribution"  -> streamAttribution _,
    "stream_cohort_ltv"   -> streamCohortLtv _,
    "stream_cusum"        -> streamCusum _,
    "stream_late_data"    -> streamLateData _,
    // behavioral analytics
    "events_funnel"       -> eventsFunnel _,
    "events_retention"    -> eventsRetention _,
    "events_anomaly"      -> eventsAnomaly _,
    "events_holt"         -> eventsHolt _,
    "events_attribution"  -> eventsAttribution _,
    "events_rfm"          -> eventsRfm _,
    "events_markov"       -> eventsMarkov _,
    "events_seasonal_anomaly" -> eventsSeasonalAnomaly _,
    "events_seq_patterns" -> eventsSeqPatterns _,
    "q_basket_rules"      -> qBasketRules _,
    "events_forecast_eval" -> eventsForecastEval _,
    "events_ab_test"      -> eventsAbTest _,
    "events_cohort_ltv"   -> eventsCohortLtv _,
    "events_cusum"        -> eventsCusum _,
    "events_sessions"     -> eventsSessions _,
    "events_transitions"  -> eventsTransitions _,
    "events_paths"        -> eventsPaths _,
    "events_churn"        -> eventsChurn _,
    "q_window_range"      -> qWindowRange _,
    "events_dau_mau"      -> eventsDauMau _,
    "text_vocab_coverage" -> textVocabCoverage _,
    // relational
    "q_skew_salted_join"  -> qSkewSaltedJoin _,
    "q1_agg"              -> q1Agg _,
    "q3_topk"             -> q3TopK _,
    "q5_join"             -> q5Join _,
    "q_window_rank"       -> qWindowRank _,
    "q_setops"            -> qSetOps _,
    "q_sort_limit"        -> qSortLimit _,
    "q_semi_anti"         -> qSemiAnti _,
    "q_distinct_agg"      -> qDistinctAgg _,
    "q_asof_join"         -> qAsofJoin _,
    "q_asof_join_fwd"     -> qAsofJoinFwd _,
    "q_asof_join_nearest" -> qAsofJoinNearest _,
    "q_asof_join_tolerance" -> qAsofJoinTolerance _,
    "q_range_join"        -> qRangeJoin _,
    "q_bucketed_join"     -> qBucketedJoin _,
    "q_rollup"            -> qRollup _,
    "q_cube"              -> qCube _,
    "q_grouping_sets"     -> qGroupingSets _,
    "q_unpivot"           -> qUnpivot _,
    "q_join_null_safe"    -> qJoinNullSafe _,
    "q_full_outer"        -> qFullOuter _,
    "q_dynamic_pruning"   -> qDynamicPruning _,
    "q_cheapest_lineitem" -> qCheapestLineitem _,
    "q_setops_all"        -> qSetOpsAll _,
    "q_quantiles"         -> qQuantiles _,
    "q_upsert"            -> qUpsert _,
    "q_scd2"              -> qScd2 _,
    "q_exists_subquery"   -> qExistsSubquery _,
    "q_scalar_subquery"   -> qScalarSubquery _,
    "q_not_in_nullaware"  -> qNotInNullaware _,
    "q_lateral_explode"   -> qLateralExplode _,
    "text_langid_confusion" -> textLangIdConfusion _,
    "events_windowed_topk" -> eventsWindowedTopK _,
    "events_value_histogram" -> ((s, dir) =>
      Analytics.histogramQuantiles(events(s, dir), "event_type",
          cents(col("value")), lo = 0L, width = 1000L)
        .withColumnRenamed("grp", "event_type")
        .orderBy("event_type", "q")),
    "events_activity_bitmap" -> ((s, dir) =>
      Analytics.activityBitmap(events(s, dir), "user_id", "ts_ms")
        .orderBy("user_id")),
    "q_pivot"             -> qPivot _,
    "q_partition_pruned"  -> qPartitionPruned _,
    // LLM-data-pipeline operators
    "dedup_exact"         -> dedupExact _,
    "dedup_normalized"    -> dedupNormalized _,
    "dedup_minhash"       -> dedupMinhash _,
    "dedup_minhash_verified" -> dedupMinhashVerified _,
    "dedup_simhash"       -> dedupSimhash _,
    "dedup_ngram"         -> dedupNgram _,
    "dedup_ngram_prefix"  -> dedupNgramPrefix _,
    "curation_overlap"    -> curationOverlap _,
    "dedup_embedding"     -> dedupEmbedding _,
    "dedup_embedding_exact" -> dedupEmbeddingExact _,
    "dedup_semantic"      -> dedupSemantic _,
    "sim_topk"            -> simTopK _,
    "sim_hamming_topk"    -> simHammingTopK _,
    "sim_centroid_classifier" -> simCentroidClassifier _,
    "sim_pca_top"         -> simPcaTop _,
    "sim_pca_residual"    -> ((s, dir) =>
      Similarity.pcaProjectionReport(t(s, dir, "embeddings"), "vec_id",
          "embedding", dim = 64)
        .orderBy("vec_id")),
    "sim_filtered_topk"   -> simFilteredTopK _,
    "sim_hard_negatives"  -> simHardNegatives _,
    "dedup_split_leakage" -> dedupSplitLeakage _,
    "dedup_lines_intra"   -> dedupLinesIntra _,
    "sim_lsh_topk"        -> simLshTopK _,
    "sim_ivf_topk"        -> simIvfTopK _,
    "sim_ivf_verified"    -> simIvfVerified _,
    "sim_ivf_indexed"     -> simIvfIndexed _,
    "sim_recall_report"   -> simRecallReport _,
    "sim_recall_matrix"   -> simRecallMatrix _,
    "sim_rrf_fusion"      -> simRrfFusion _,
    "sim_mmr_topk"        -> simMmrTopK _,
    "sim_retrieval_e2e"   -> simRetrievalE2e _,
    "sim_pq_topk"         -> simPqTopK _,
    "sim_rp_topk"         -> simRpTopK _,
    "text_topk"           -> textTopK _,
    "text_stats"          -> textStats _,
    "text_langid"         -> textLangId _,
    "text_window_langid"  -> textWindowLangid _,
    "text_code_switch"    -> textCodeSwitch _,
    "text_quality"        -> textQuality _,
    "text_fingerprint"    -> textFingerprint _,
    "text_normalize_unicode" -> textNormalizeUnicode _,
    "text_html_extract"   -> textHtmlExtract _,
    "text_sentences"      -> textSentences _,
    "q_table_profile"     -> qTableProfile _,
    "text_rollhash"       -> textRollhash _,
    "text_token_report"   -> textTokenReport _,
    "text_vocabulary"     -> textVocabulary _,
    "text_length_dist"    -> ((s, dir) =>
      TextAnalysis.lengthDistribution(t(s, dir, "documents"), "text", "lang")
        .orderBy("lang")),
    "text_length_approx"  -> ((s, dir) =>
      TextAnalysis.lengthDistributionApprox(t(s, dir, "documents"), "text",
          accuracy = 100, "lang")
        .orderBy("lang")),
    "curation_split"      -> curationSplit _,
    "curation_stratified" -> curationStratified _,
    "curation_systematic" -> curationSystematic _,
    "curation_weighted"   -> curationWeighted _,
    "curation_snapshot_diff" -> curationSnapshotDiff _,
    "dedup_lines"         -> dedupLines _,
    "dedup_boilerplate"   -> dedupBoilerplate _,
    "dedup_containment"   -> dedupContainment _,
    "sim_matryoshka_topk" -> simMatryoshkaTopK _,
    "curation_mixture"    -> curationMixture _,
    "curation_epoch_plan" -> curationEpochPlan _,
    "curation_order"      -> curationOrder _,
    "curation_interleave" -> ((s, dir) =>
      Sampling.interleaveBySource(
          t(s, dir, "documents").select("doc_id", "source"), "doc_id", "source")
        .select("doc_id", "source", "rank_in_source", "pos")
        .orderBy("pos")),
    "curation_source_cap" -> curationSourceCap _,
    "curation_token_budget" -> curationTokenBudget _,
    "text_perceptron"     -> textPerceptron _,
    "text_mlm_masks"      -> textMlmMasks _,
    "text_span_corruption" -> textSpanCorruption _,
    "text_feature_hashing" -> textFeatureHashing _,
    "text_span_corruption_apply" -> textSpanCorruptionApply _,
    "text_mlm_apply"      -> textMlmApply _,
    "text_fim_apply"      -> ((s, dir) =>
      TextAnalysis.fimTransform(t(s, dir, "documents"), "doc_id", "text",
          fimPpm = 500000L, seed = 47L)
        .orderBy("doc_id")),
    "text_packing_apply"  -> textPackingApply _,
    "text_classifier"     -> textClassifier _,
    "text_lm_score"       -> textLmScore _,
    "text_kn_score"       -> textKnScore _,
    "text_ppl_buckets"    -> textPplBuckets _,
    "text_decontaminate"  -> textDecontaminate _,
    "text_decontaminate_frac" -> textDecontaminateFrac _,
    "q_zorder_layout"     -> qZorderLayout _,
    "text_pack_manifest"  -> textPackManifest _,
    "text_chunks"         -> textChunks _,
    "curation_pipeline"   -> curationPipeline _,
    "curation_report"     -> curationReportQ _,
    "sim_kmeans"          -> simKmeans _,
    "sim_embed_qa"        -> simEmbedQa _,
    "sim_ivf_range"       -> simIvfRange _,
    "sim_knn_graph"       -> simKnnGraph _,
    "dedup_semantic_graph" -> dedupSemanticGraph _,
    "dedup_embedding_incremental" -> dedupEmbeddingIncremental _,
    "text_bpe_merges"     -> textBpeMerges _,
    "text_unigram_lm"     -> textUnigramLm _,
    "text_unigram_apply"  -> textUnigramApply _,
    "text_tokenizer_compare" -> textTokenizerCompare _,
    "text_heavy_hitters"  -> textHeavyHitters _,
    "text_hll_cardinality" -> textHllCardinality _,
    "text_hll_rollup"     -> textHllRollup _,
    "text_length_sketch"  -> textLengthSketch _,
    "text_length_sketch_rollup" -> textLengthSketchRollup _,
    "stream_length_sketch" -> streamLengthSketch _,
    "stream_hourly_value_sketch" -> streamHourlyValueSketch _,
    "text_hll_intersect"  -> textHllIntersect _,
    "stream_hll_cardinality" -> streamHllCardinality _,
    "events_dau_hll"      -> eventsDauHll _,
    "stream_hourly_hll"   -> streamHourlyHll _,
    "text_bloom_sketch"   -> textBloomSketch _,
    "text_bloom_decontaminate" -> textBloomDecontaminate _,
    "stream_bloom_sketch" -> streamBloomSketch _,
    "stream_heavy_hitters" -> streamHeavyHitters _,
    "events_hourly_profile" -> eventsHourlyProfile _,
    "graph_pagerank"      -> graphPagerank _,
    "graph_triangles"     -> graphTriangles _,
    "graph_cc_sizes"      -> graphCcSizes _,
    "graph_kcore"         -> graphKcore _,
    "graph_labelprop"     -> graphLabelprop _,
    "graph_link_pred"     -> graphLinkPred _,
    "graph_hits"          -> graphHits _,
    "graph_bfs"           -> graphBfs _,
    "graph_ppr"           -> graphPprJump _,
    "graph_landmark_est"  -> graphLandmarkEst _,
    "q_hierarchy"         -> qHierarchy _,
    "dedup_snm_multipass" -> ((s, dir) =>
      Dedup.sortedNeighborhoodMultiPass(t(s, dir, "documents"), "doc_id",
          "text", passes = 2, stride = 16)
        .orderBy("id_a", "id_b")),
    "events_winsorized" -> ((s, dir) =>
      Analytics.winsorizedReport(
          events(s, dir).select(col("event_type"),
            cents(col("value")).as("value_cents")),
          "event_type", "value_cents")
        .orderBy("event_type")),
    "text_novelty" -> ((s, dir) =>
      TextAnalysis.ngramNovelty(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    "dedup_sorted_neighborhood" -> ((s, dir) =>
      Dedup.sortedNeighborhoodPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("id_a", "id_b")),
    "text_quality_calibrated" -> ((s, dir) =>
      TextAnalysis.calibratedQualityFilter(
          t(s, dir, "documents"), "doc_id", "text", "lang", keepFrac = 0.5)
        .orderBy("doc_id")),
    "sim_int8_quant"      -> ((s, dir) =>
      Similarity.int8QuantReport(t(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy("vec_id")),
    "text_lang_mixture"   -> ((s, dir) =>
      TextAnalysis.langMixtureReport(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    "dedup_best_of_cluster" -> dedupBestOfCluster _,
    "dedup_lsh_quality"   -> dedupLshQuality _,
    "dedup_lsh_recall_curve" -> dedupLshRecallCurve _,
    "dedup_impact_report" -> dedupImpactReport _,
    "dedup_span_coverage" -> dedupSpanCoverage _,
    "dedup_minhash_bbit"  -> ((s, dir) =>
      Dedup.minhashBBitPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("id_a", "id_b")),
    "dedup_weighted_minhash_verified" -> ((s, dir) =>
      Dedup.weightedMinhashVerifiedPairs(t(s, dir, "documents"), "doc_id",
          "text", numHashes = 128, bands = 16,
          candidateThreshold = 0.3, threshold = 0.4, capWeight = 8)
        .orderBy("id_a", "id_b")),
    "dedup_weighted_minhash" -> ((s, dir) =>
      Dedup.weightedMinhashPairs(t(s, dir, "documents"), "doc_id", "text",
          numHashes = 128, bands = 16, threshold = 0.4, capWeight = 8)
        .orderBy("id_a", "id_b")),
    "dedup_weighted_jaccard" -> ((s, dir) =>
      Dedup.weightedJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          shingleN = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")),
    "text_bpe_apply"      -> textBpeApply _,
    "text_bpe_fertility"  -> ((s, dir) =>
      TextAnalysis.bpeFertility(t(s, dir, "documents"), "doc_id", "text",
          "lang", numMerges = 8)
        .orderBy("lang")),
    "text_cooccurrence"   -> ((s, dir) =>
      TextAnalysis.cooccurrenceLift(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("tok_a", "tok_b")),
    "curation_embed_balance" -> curationEmbedBalance _,
    "text_winnow"         -> textWinnow _,
    "dedup_winnow"        -> dedupWinnow _,
    "text_contamination"  -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.contamination(
          docs.where(col("doc_id") >= 20), "text",
          docs.where(col("doc_id") < 20), "doc_id", "text")
        .orderBy("bench_id")
    }),
    "text_packing"        -> ((s, dir) =>
      TextAnalysis.packingOffsets(t(s, dir, "documents"), "doc_id", "text",
          seqLen = 2048L)
        .orderBy("doc_id")),
    "text_quality_filter" -> textQualityFilter _,
    "text_gopher_filter"  -> textGopherFilter _,
    "curation_shards"     -> ((s, dir) =>
      TextAnalysis.packShards(t(s, dir, "documents"), "doc_id",
          octet_length(col("text")).cast("long"), shardBytes = 65536L)
        .orderBy("doc_id")),
    "text_token_ids"      -> ((s, dir) =>
      TextAnalysis.tokenIds(t(s, dir, "documents"), "doc_id", "text",
          vocabSize = 1000)
        .orderBy("doc_id", "pos")),
    "dedup_ngram_survivors" -> dedupNgramSurvivors _,
    "dedup_edit_distance" -> ((s, dir) =>
      Dedup.editDistancePairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("id_a", "id_b")),
    "dedup_clusters"      -> dedupClusters _,
    "dedup_fuzzy_pipeline" -> dedupFuzzyPipeline _,
    "dedup_spans"         -> ((s, dir) =>
      Dedup.duplicateSpans(t(s, dir, "documents"), "doc_id", "text", n = 10)
        .orderBy("doc_id", "start_tok")),
    "dedup_incremental"   -> dedupIncremental _,
    "dedup_incremental_indexed" -> dedupIncrementalIndexed _,
    "dedup_ingest"        -> dedupIngestLoop _,
    "dedup_spans_applied" -> dedupSpansApplied _,
    "text_repetition"     -> textRepetition _,
    "text_tfidf"          -> ((s, dir) =>
      TextAnalysis.tfidfTopK(t(s, dir, "documents"), "doc_id", "text", k = 5)
        .orderBy("doc_id", "rank")),
    "text_commonness"     -> ((s, dir) =>
      TextAnalysis.commonnessReport(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    "mm_decode"           -> mmDecode _,
    "mm_frames"           -> mmFrames _,
    "mm_audio_frames"     -> mmAudioFrames _,
    "mm_dedup_exact"      -> mmDedupExact _,
    "mm_phash"            -> mmPhash _,
    "mm_phash_stub"       -> mmPhashStub _,
    "mm_phash_images"     -> mmPhashImages _,
    "mm_phash_neardup"    -> mmPhashNearDup _,
    "mm_phash_candidates" -> mmPhashCandidates _,
    "mm_phash_decode_faults" -> mmPhashDecodeFaults _,
    "mm_audio_fingerprint" -> mmAudioFingerprint _,
    "mm_audio_neardup"    -> mmAudioNearDup _,
    "mm_sniff"            -> mmSniff _,
    "mm_video_meta"       -> mmVideoMeta _,
    "mm_video_frame_hashes" -> mmVideoFrameHashes _,
    "mm_video_fingerprint" -> mmVideoFingerprint _,
    "mm_video_neardup"    -> mmVideoNearDup _,
    "mm_video_shared_frames" -> mmVideoSharedFrames _,
    "mm_video_mjpeg"      -> mmVideoMjpeg _,
    "pipeline_mm_ingest"  -> pipelineMmIngest _,
    "pipeline_mm_ingest_pairs" -> pipelineMmIngestPairs _,
    "mm_neardup_incremental" -> mmNearDupIncremental _,
    "mm_ingest_loop"      -> mmIngestLoop _,
    "stream_mm_ingest"    -> streamMmIngest _,
    "stream_mm_ingest_gen" -> streamMmIngestGen _,
    "dedup_embed_ingest"  -> dedupEmbedIngest _,
    "stream_embed_ingest" -> streamEmbedIngest _,
    "stream_pipeline_mm_ingest" -> streamPipelineMmIngest _,
    "mm_image_headers"    -> mmImageHeaders _,
    "mm_wav_frames"       -> mmWavFrames _,
    "events_json"         -> eventsJson _,
    "events_json_malformed" -> eventsJsonMalformed _,
    "q_window_suite"      -> qWindowSuite _,
    "text_redact"         -> textRedact _,
    "sql_functions"       -> sqlFunctions _,
    // live engine paths (readStream → foreachBatch → sink, read back)
    "stream_pipeline_e2e" -> streamPipelineE2e _,
    "stream_dedup_ingest" -> streamDedupIngest _,
    "stream_dedup_ingest_folded" -> streamDedupIngestFolded _,
    "stream_ivf_probe"    -> streamIvfProbe _,
    "dedup_ingest_compacted" -> dedupIngestCompacted _,
    "http_push_e2e"       -> httpPushE2e _)

  // ==== DuckDB oracles ====================================================

  /** Normalized-token expression shared by several oracles (DuckDB SQL
    * equivalent of TextFunctions.normText/tokens). */
  private val sqlToks =
    """string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ')"""

  /** CTE chain ending in `ok(id_a, id_b, jaccard, ...)` — brute-force exact
    * all-pairs n-gram Jaccard ≥ `threshold` over the inverted index, the
    * shared oracle for every exact-Jaccard row (`dedup_ngram`, the
    * prefix-filtered twin, the source-overlap rollup). DuckDB joins on the
    * shingle STRING where the engine joins on `xxhash64` of it — identical
    * pairing absent a 64-bit collision on the same corpus. */
  private def ngramJaccardCtes(threshold: Double): String = s"""
      toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
        FROM toks),
      posting AS (SELECT doc_id, len(hs) AS n, unnest(hs) AS h FROM sh),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter,
               any_value(a.n) AS na, any_value(b.n) AS nb
        FROM posting a JOIN posting b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      ok AS (
        SELECT id_a, id_b, inter::DOUBLE / (na + nb - inter) AS jaccard
        FROM pairs WHERE inter::DOUBLE / (na + nb - inter) >= $threshold)"""

  private def ngramJaccardOracle(threshold: Double): String = s"""
      WITH ${ngramJaccardCtes(threshold)}
      SELECT id_a, id_b, jaccard FROM ok ORDER BY id_a, id_b"""

  /** DuckDB replica of `TextAnalysis.bpeMerges`: the k merge iterations are
    * unrolled as staged CTE blocks (the kmeans-oracle pattern). Each block
    * replays one iteration relationally: pair-weight aggregation → argmax
    * with the engine's exact `(weight DESC, l, r)` tie-break → the greedy
    * left-to-right merge, which the engine does as an array fold and the
    * oracle as islands-and-parity over exploded positions (consecutive
    * overlapping occurrences — only possible for (a,a) pairs — form an
    * island; the 1st, 3rd, … members merge, the following position is
    * consumed). Pure BIGINT weights and `[a-z0-9]` symbol strings, so the
    * merge table matches bit-for-bit. */
  private def bpeCtes(numMerges: Int): String = {
    def iterBlock(k: Int): String = {
      val p = k - 1
      s"""
      p$k AS (
        SELECT pr.l AS l, pr.r AS r, sum(cnt)::BIGINT AS weight
        FROM (SELECT cnt, unnest(list_transform(range(1, len(syms)),
                i -> {'l': syms[i], 'r': syms[i + 1]})) AS pr
              FROM s$p WHERE len(syms) >= 2)
        GROUP BY 1, 2),
      b$k AS MATERIALIZED (SELECT l, r, weight FROM p$k
              ORDER BY weight DESC, l ASC, r ASC LIMIT 1),
      e$k AS (SELECT w, cnt, unnest(range(1, len(syms) + 1)) AS pos, syms
              FROM s$p),
      x$k AS (SELECT w, cnt, pos, syms[pos] AS sym,
                (syms[pos] = (SELECT l FROM b$k) AND
                 pos < len(syms) AND
                 syms[pos + 1] = (SELECT r FROM b$k)) AS occ
              FROM e$k),
      g$k AS (SELECT *, CASE WHEN occ THEN pos - row_number()
                OVER (PARTITION BY w, occ ORDER BY pos) END AS isl
              FROM x$k),
      sel$k AS (SELECT *, occ AND (row_number()
                OVER (PARTITION BY w, isl ORDER BY pos) % 2 = 1) AS sel
              FROM g$k),
      m$k AS (SELECT *, coalesce(lag(sel) OVER (PARTITION BY w ORDER BY pos),
                false) AS consumed
              FROM sel$k),
      s$k AS MATERIALIZED (SELECT w, any_value(cnt) AS cnt,
                list(CASE WHEN sel THEN sym || (SELECT r FROM b$k) ELSE sym END
                     ORDER BY pos) AS syms
              FROM m$k WHERE NOT consumed GROUP BY w)"""
    }
    s"""w0 AS (SELECT w, count(*)::BIGINT AS cnt
             FROM (SELECT unnest($sqlToks) AS w FROM documents)
             WHERE len(w) > 0 GROUP BY 1),
      s0 AS MATERIALIZED (SELECT w, cnt,
               list_transform(range(1, len(w) + 1), i -> w[i]) AS syms
             FROM w0),
      ${(1 to numMerges).map(iterBlock).mkString(",")}"""
  }

  private def bpeOracle(numMerges: Int): String = {
    val unions = (1 to numMerges)
      .map(k => s"""SELECT $k AS rank, l AS "left", r AS "right", weight FROM b$k""")
      .mkString(" UNION ALL ")
    s"""
      WITH ${bpeCtes(numMerges)}
      SELECT * FROM ($unions) ORDER BY rank"""
  }

  /** DuckDB replica of `TextAnalysis.bpeEncode`: the learned merge table
    * (shared `bpeCtes` chain — single source of truth with the
    * `text_bpe_merges` oracle) collected into rank-ordered pattern/
    * replacement lists, then applied to every word as the same
    * `numMerges`-deep chain of literal `replace` calls the engine uses.
    * `replace` is leftmost-non-overlapping in both engines — exactly the
    * trainer's greedy fold (see `bpeMerges`) — and an exhausted merge slot
    * no-ops via a `chr(1)` pattern that cannot occur in `[a-z0-9 ]` text. */
  private def bpeApplyOracle(numMerges: Int): String = {
    val chain = (1 to numMerges).foldLeft(
      "array_to_string(list_transform(range(1, len(w) + 1), i -> w[i]), ' ')") {
      (acc, k) =>
        s"replace($acc, coalesce(pats[$k], chr(1)), coalesce(reps[$k], ''))"
    }
    val unions = (1 to numMerges)
      .map(k => s"SELECT $k AS rank, l, r FROM b$k")
      .mkString(" UNION ALL ")
    s"""
      WITH ${bpeCtes(numMerges)},
      mg AS MATERIALIZED (
        SELECT list(l || ' ' || r ORDER BY rank) AS pats,
               list(l || r ORDER BY rank) AS reps
        FROM ($unions)),
      dtk AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      enc AS (SELECT doc_id, len(tk)::BIGINT AS n_words,
                list_transform(tk, w -> $chain) AS ew
              FROM dtk CROSS JOIN mg),
      rep AS (SELECT doc_id, n_words,
                list_aggregate(list_transform(ew, e ->
                  CASE WHEN e = '' THEN 0 ELSE len(string_split(e, ' ')) END),
                  'sum')::BIGINT AS n_tokens_bpe,
                md5(array_to_string(ew, ' | ')) AS enc_md5
              FROM enc)
      SELECT doc_id, n_words, n_tokens_bpe, enc_md5 FROM rep ORDER BY doc_id"""
  }

  /** DuckDB replica of the unigram-LM tokenizer
    * (`TextAnalysis.unigramTrain` / `unigramEncode`): word-frequency table
    * → substring seed vocabulary (coverage cut) → `emIters` rounds of
    * {unrolled Viterbi DP, recount, coverage cut}. The DP is the engine's
    * lexicographic integer objective replayed relationally: one CTE per
    * word position holds the best (np ASC, mass DESC, seg ASC) state —
    * candidates are the ≤ `maxPieceLen` predecessors' states extended by
    * one piece (length-1 pieces always valid at coalesce-0 frequency,
    * longer ones LEFT-JOIN-validated against the round's vocabulary) and
    * a `row_number` argmin picks the survivor. `seg ASC` compares
    * identically cross-engine on the `[a-z0-9 ]` alphabet. */
  private def unigramCtes(vocabSize: Int, maxPieceLen: Int, maxWordLen: Int,
                          emIters: Int, finalSeg: Boolean): String = {
    def cut(src: String) = s"""
      SELECT p AS piece, sum(cnt)::BIGINT AS freq FROM $src GROUP BY 1
      ORDER BY sum(cnt) * len(p) DESC, p ASC LIMIT $vocabSize"""
    def dpBlock(tag: String, vocab: String): String = {
      val positions = (1 to maxWordLen).map { j =>
        val arms = (math.max(0, j - maxPieceLen) until j).map { i =>
          s"""SELECT w, cnt, np, mass, seg, substr(w, ${i + 1}, ${j - i}) AS p
              FROM d${i}_$tag WHERE len(w) >= $j"""
        }.mkString(" UNION ALL ")
        s"""
      c${j}_$tag AS (
        SELECT q.w, q.cnt, q.np + 1 AS np,
               q.mass + coalesce(v.freq, 0) AS mass,
               CASE WHEN q.seg = '' THEN q.p
                    ELSE q.seg || ' ' || q.p END AS seg
        FROM ($arms) q LEFT JOIN $vocab v ON v.piece = q.p
        WHERE len(q.p) = 1 OR v.piece IS NOT NULL),
      d${j}_$tag AS MATERIALIZED (
        SELECT w, cnt, np, mass, seg FROM (
          SELECT *, row_number() OVER (PARTITION BY w
            ORDER BY np ASC, mass DESC, seg ASC) AS rn
          FROM c${j}_$tag) WHERE rn = 1)"""
      }.mkString(",")
      val finals = (1 to maxWordLen)
        .map(j => s"SELECT w, cnt, seg FROM d${j}_$tag WHERE len(w) = $j")
        .mkString(" UNION ALL ")
      s"""
      d0_$tag AS (SELECT w, cnt, 0 AS np, 0::BIGINT AS mass, '' AS seg
                  FROM wd),
      $positions,
      sg_$tag AS MATERIALIZED ($finals)"""
    }
    val rounds = (1 to emIters).map { k =>
      s"""${dpBlock(s"e$k", s"vc${k - 1}")},
      vc$k AS MATERIALIZED (${cut(
        s"(SELECT cnt, unnest(string_split(seg, ' ')) AS p FROM sg_e$k)")})"""
    }.mkString(",")
    val fin = if (!finalSeg) ""
      else s",${dpBlock("fin", s"vc$emIters")}"
    s"""wd AS MATERIALIZED (
        SELECT w, count(*)::BIGINT AS cnt
        FROM (SELECT unnest($sqlToks) AS w FROM documents)
        WHERE len(w) > 0 AND len(w) <= $maxWordLen GROUP BY 1),
      sc AS (
        SELECT cnt, unnest(flatten(list_transform(range(1, len(w) + 1),
          st -> list_transform(
            range(1, least($maxPieceLen, len(w) - st + 1) + 1),
            pl -> substr(w, st, pl))))) AS p
        FROM wd),
      vc0 AS MATERIALIZED (${cut("sc")}),
      $rounds
      $fin"""
  }

  private def unigramLmOracle(vocabSize: Int, maxPieceLen: Int,
                              maxWordLen: Int, emIters: Int): String = s"""
      WITH ${unigramCtes(vocabSize, maxPieceLen, maxWordLen, emIters,
                         finalSeg = false)}
      SELECT row_number() OVER (
               ORDER BY freq * len(piece) DESC, piece ASC)::BIGINT AS rank,
             piece, freq, (freq * len(piece))::BIGINT AS coverage_chars
      FROM vc$emIters ORDER BY rank"""

  /** Per-document encode replica: the final-vocabulary DP block gives each
    * word its segmentation; documents re-tokenize with ordinality so the
    * md5 stream pin (`' | '`-joined) reproduces word order exactly. */
  private def unigramApplyOracle(vocabSize: Int, maxPieceLen: Int,
                                 maxWordLen: Int, emIters: Int): String = s"""
      WITH ${unigramCtes(vocabSize, maxPieceLen, maxWordLen, emIters,
                         finalSeg = true)},
      dtk AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      ex AS (SELECT doc_id, len(tk) AS nw,
               unnest(range(1, len(tk) + 1)) AS i, tk
             FROM dtk),
      ewx AS (SELECT doc_id, nw, i, tk[i] AS w FROM ex),
      sj AS (SELECT e.doc_id, e.nw, e.i,
               CASE WHEN e.w = '' THEN ''
                    WHEN len(e.w) > $maxWordLen THEN e.w
                    ELSE s.seg END AS seg
             FROM ewx e LEFT JOIN sg_fin s ON e.w = s.w),
      enc AS (SELECT doc_id, any_value(nw)::BIGINT AS n_words,
                sum(CASE WHEN seg = '' THEN 0
                    ELSE len(string_split(seg, ' ')) END)::BIGINT
                  AS n_tokens_uni,
                md5(string_agg(seg, ' | ' ORDER BY i)) AS enc_md5
              FROM sj GROUP BY doc_id)
      SELECT doc_id, n_words, n_tokens_uni, enc_md5 FROM enc
      ORDER BY doc_id"""

  /** BPE-vs-unigram comparison replica: both trainer chains (`bpeCtes` +
    * `unigramCtes` — disjoint CTE namespaces) in one WITH, each encoding
    * the corpus its own way, joined per language on identical word
    * denominators. */
  private def tokenizerCompareOracle(numMerges: Int, vocabSize: Int,
                                     maxPieceLen: Int, maxWordLen: Int,
                                     emIters: Int): String = {
    val chain = (1 to numMerges).foldLeft(
      "array_to_string(list_transform(range(1, len(w) + 1), i -> w[i]), ' ')") {
      (acc, k) =>
        s"replace($acc, coalesce(pats[$k], chr(1)), coalesce(reps[$k], ''))"
    }
    val unions = (1 to numMerges)
      .map(k => s"SELECT $k AS rank, l, r FROM b$k")
      .mkString(" UNION ALL ")
    s"""
      WITH ${bpeCtes(numMerges)},
      mg AS MATERIALIZED (
        SELECT list(l || ' ' || r ORDER BY rank) AS pats,
               list(l || r ORDER BY rank) AS reps
        FROM ($unions)),
      ${unigramCtes(vocabSize, maxPieceLen, maxWordLen, emIters,
                    finalSeg = true)},
      dtk2 AS MATERIALIZED (SELECT lang, $sqlToks AS tk FROM documents),
      benc AS (SELECT lang, len(tk)::BIGINT AS nw,
                 list_transform(tk, w -> $chain) AS ew
               FROM dtk2 CROSS JOIN mg),
      bagg AS (SELECT lang, sum(nw)::BIGINT AS sum_words,
                 sum(list_aggregate(list_transform(ew, e ->
                   CASE WHEN e = '' THEN 0
                        ELSE len(string_split(e, ' ')) END),
                   'sum'))::BIGINT AS sum_bpe_tokens
               FROM benc GROUP BY 1),
      uex AS (SELECT lang, unnest(range(1, len(tk) + 1)) AS i, tk
              FROM dtk2),
      uw AS (SELECT lang, tk[i] AS w FROM uex),
      usj AS (SELECT u.lang,
                CASE WHEN u.w = '' THEN ''
                     WHEN len(u.w) > $maxWordLen THEN u.w
                     ELSE s.seg END AS seg
              FROM uw u LEFT JOIN sg_fin s ON u.w = s.w),
      uagg AS (SELECT lang,
                 sum(CASE WHEN seg = '' THEN 0
                     ELSE len(string_split(seg, ' ')) END)::BIGINT
                   AS sum_uni_tokens
               FROM usj GROUP BY 1)
      SELECT b.lang, b.sum_words, b.sum_bpe_tokens, u.sum_uni_tokens,
             CASE WHEN b.sum_words = 0 THEN NULL
                  ELSE (b.sum_bpe_tokens * 1000 // b.sum_words) END
               ::BIGINT AS bpe_tpw_pm,
             CASE WHEN b.sum_words = 0 THEN NULL
                  ELSE (u.sum_uni_tokens * 1000 // b.sum_words) END
               ::BIGINT AS uni_tpw_pm
      FROM bagg b JOIN uagg u USING (lang) ORDER BY lang"""
  }

  /** Per-lang fertility rollup over the same BPE-apply replica chain. */
  private def bpeFertilityOracle(numMerges: Int): String = {
    val chain = (1 to numMerges).foldLeft(
      "array_to_string(list_transform(range(1, len(w) + 1), i -> w[i]), ' ')") {
      (acc, k) =>
        s"replace($acc, coalesce(pats[$k], chr(1)), coalesce(reps[$k], ''))"
    }
    val unions = (1 to numMerges)
      .map(k => s"SELECT $k AS rank, l, r FROM b$k")
      .mkString(" UNION ALL ")
    s"""
      WITH ${bpeCtes(numMerges)},
      mg AS MATERIALIZED (
        SELECT list(l || ' ' || r ORDER BY rank) AS pats,
               list(l || r ORDER BY rank) AS reps
        FROM ($unions)),
      dtk AS (SELECT doc_id, lang, $sqlToks AS tk FROM documents),
      enc AS (SELECT doc_id, lang, len(tk)::BIGINT AS nw,
                list_aggregate(list_transform(tk, w -> len(w)), 'sum')::BIGINT AS nc,
                list_transform(tk, w -> $chain) AS ew
              FROM dtk CROSS JOIN mg),
      rep AS (SELECT lang, nw, nc,
                list_aggregate(list_transform(ew, e ->
                  CASE WHEN e = '' THEN 0 ELSE len(string_split(e, ' ')) END),
                  'sum')::BIGINT AS nt
              FROM enc),
      agg AS (SELECT lang, sum(nw)::BIGINT AS sum_words,
                sum(nc)::BIGINT AS sum_word_chars,
                sum(nt)::BIGINT AS sum_bpe_tokens
              FROM rep GROUP BY 1)
      SELECT lang, sum_words, sum_word_chars, sum_bpe_tokens,
             CASE WHEN sum_words = 0 THEN NULL
                  ELSE (sum_bpe_tokens * 1000) // sum_words END AS tokens_per_word_pm,
             CASE WHEN sum_bpe_tokens = 0 THEN NULL
                  ELSE (sum_word_chars * 1000) // sum_bpe_tokens END AS chars_per_token_pm
      FROM agg ORDER BY lang"""
  }

  /** Shared CTE chain producing `spans(doc_id, start_tok, end_tok,
    * n_windows)` — the DuckDB replica of `Dedup.duplicateSpans` (positional
    * 10-gram windows grouped by their STRING where the engine groups by
    * xxhash64 of it — identical partitioning of positions absent a 64-bit
    * collision; each group's globally-first occurrence kept, the rest
    * merged into maximal spans). Used by the `dedup_spans` report oracle
    * and the `dedup_spans_applied` cut oracle. */
  private lazy val sqlSpanCtes = s"""toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      ge AS (SELECT doc_id,
               unnest(list_transform(range(1, len(tk) - 8),
                 i -> {'pos': i - 1,
                       'g': array_to_string(list_slice(tk, i, i + 9), ' ')})) AS u
             FROM toks WHERE len(tk) >= 10),
      grams AS (SELECT doc_id, (u.pos)::BIGINT AS pos, u.g AS g FROM ge),
      rk AS (SELECT doc_id, pos,
               row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
               count(*) OVER (PARTITION BY g) AS cnt
             FROM grams),
      dup AS (SELECT doc_id, pos FROM rk WHERE cnt > 1 AND rn > 1),
      fl AS (SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 10
                    THEN 1 ELSE 0 END AS brk
             FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      gr AS (SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
             FROM fl),
      spans AS (SELECT doc_id, min(pos)::BIGINT AS start_tok,
                       (max(pos) + 10)::BIGINT AS end_tok,
                       count(*)::BIGINT AS n_windows
                FROM gr GROUP BY doc_id, gid)"""

  /** DuckDB replica of `TextFunctions.rollingHash` (Karp-Rabin over UTF-8
    * bytes, B=257, mod 2^61-1) on column `text` — shared by the
    * `text_rollhash` and `sql_functions` oracles. */
  private val rollhashExprSql = """
        list_reduce(
          list_prepend(0::HUGEINT,
            list_transform(range(0, octet_length(encode(text))),
              i -> (strpos('123456789ABCDEF', substr(hex(encode(text)), 2*i+1, 1)) * 16
                    + strpos('123456789ABCDEF', substr(hex(encode(text)), 2*i+2, 1)))::HUGEINT)),
          (h, b) -> (h * 257 + b) % 2305843009213693951::HUGEINT
        )::BIGINT"""

  /** Sequential-loop replica of the embedding ingest gates
    * (`dedup_embed_ingest` / `stream_embed_ingest`): bucket every vector
    * with the hyperplane replica, then per batch drop ids whose cosine to
    * an ACCEPTED bucket-mate or a smaller-id batch bucket-mate meets the
    * threshold — the [[OracleXX.hammingIngestOracle]] unrolling with the
    * LSH-bucket join swapped in for the fragment join. */
  private def embedIngestOracle(bounds: Seq[(Long, Long)],
                                threshold: Double): String = {
    val steps = bounds.zipWithIndex.map { case ((lo, hi), i0) =>
      val i = i0 + 1
      s"""drop$i AS (
        SELECT DISTINCT a.vec_id
        FROM cb a JOIN cb b ON a.bucket = b.bucket
        WHERE a.vec_id >= $lo AND a.vec_id < $hi
          AND (b.vec_id IN (SELECT vec_id FROM acc${i - 1})
               OR (b.vec_id >= $lo AND b.vec_id < $hi AND b.vec_id < a.vec_id))
          AND list_cosine_similarity(a.v, b.v) >= $threshold),
      acc$i AS MATERIALIZED (
        SELECT vec_id FROM acc${i - 1}
        UNION ALL
        SELECT vec_id FROM cb
        WHERE vec_id >= $lo AND vec_id < $hi
          AND vec_id NOT IN (SELECT vec_id FROM drop$i))"""
    }
    s"""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      cb AS MATERIALIZED (
        SELECT vec_id, label, v, ${hyperplaneBucketSql(8, 64)} AS bucket FROM e),
      acc0 AS (SELECT vec_id FROM embeddings WHERE FALSE),
      ${steps.mkString(",\n      ")}
      SELECT cb.vec_id, cb.label
      FROM cb JOIN acc${bounds.size} a ON a.vec_id = cb.vec_id
      ORDER BY cb.vec_id"""
  }

  /** DuckDB replica of `Similarity.lshTopK`: same deterministic hyperplanes
    * (literal-embedded), same sign-bit bucket formula (double arithmetic,
    * sequential sum — matching Spark's `aggregate` over the array), same
    * 1-bit multi-probe sequence, same candidate join + exact cosine rank. */
  /** SQL expr: sign-bit hyperplane bucket of DOUBLE[] column `v` — exact
    * replica of `Similarity.hyperplaneBucket` with the same deterministic
    * hyperplane constants embedded as literals. */
  private def hyperplaneBucketSql(bits: Int, dim: Int): String = {
    val hLit = Similarity.hyperplanes(bits, dim)
      .map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    // list_dot_product is bit-identical to the explicit sequential
    // lambda-sum (verified over every pair in the corpus) and indexes the
    // hyperplane literal once per PLANE instead of once per COMPONENT —
    // ~50x less literal re-evaluation, which dominated the driver-side
    // compare cost of every embedding oracle (round-9 diagnosis of the
    // empty CORRECTNESS_r08 record: a contention-slowed gate timing out)
    s"""list_aggregate(list_transform(range(0, $bits), i ->
                 CASE WHEN list_dot_product(v, ($hLit)[i + 1]) > 0
                      THEN (1::BIGINT << i) ELSE 0::BIGINT END), 'sum')"""
  }

  private def lshReplicaOracle(bits: Int, probes: Int, k: Int,
                               dim: Int = 64): String = {
    val nProbes = math.min(probes, bits)
    s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      cb AS (
        SELECT vec_id, v, ${hyperplaneBucketSql(bits, dim)} AS bucket
        FROM e),
      qp AS (
        SELECT vec_id AS qid, v AS qv,
               unnest(list_transform(range(0, ${nProbes + 1}), p ->
                 CASE WHEN p = 0 THEN bucket
                      ELSE xor(bucket, (1::BIGINT << (p - 1))) END)) AS bucket
        FROM cb WHERE vec_id < 5),
      cand AS (
        SELECT DISTINCT qp.qid, qp.qv, c.vec_id AS id, c.v AS v
        FROM qp JOIN cb c USING (bucket) WHERE c.vec_id <> qp.qid),
      scored AS (SELECT qid, id, list_cosine_similarity(v, qv) AS cosine FROM cand),
      ranked AS (
        SELECT qid, id, cosine,
               row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank
        FROM scored)
      SELECT qid, id, cosine, rank::INT AS rank FROM ranked
      WHERE rank <= $k ORDER BY qid, rank"""
  }

  /** DuckDB replica of `Similarity.ivfTopK` with fixed centroids: distance
    * mirrors `VectorKernels.l2Sq` float arithmetic exactly (FLOAT subtract
    * and multiply per term — DuckDB FLOAT ops round identically — summed as
    * DOUBLE), probe order ties break on centroid index like
    * `nearestCentroids`. */
  /** DuckDB replica of `Similarity.pqTopK` with literal codebooks: per-
    * subspace encoding uses the same FLOAT-subtract/multiply + DOUBLE-
    * accumulate arithmetic as the engine kernel; the ADC lookup tables are
    * DOUBLE dot products in list order (matching Spark's left-fold
    * `aggregate`); the refine cut and final re-rank break ties on id
    * exactly like the engine's windows. Codebooks are hoisted into one-row
    * MATERIALIZED CTEs (FLOAT for encoding, DOUBLE for the LUTs) — see
    * `semanticOracle` for why inlining them is catastrophic. */
  /** DuckDB replica of `Similarity.rpTopK` with the literal sign matrix:
    * quantize → project (all BIGINT — bit-exact) → projected-L2 refine cut
    * → exact cosine re-rank. */
  private def rpReplicaOracle(signs: Array[Array[Long]], k: Int,
                              refine: Int): String = {
    val outDim = signs.length
    val sl = signs.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    s"""
      WITH st AS MATERIALIZED (SELECT $sl AS sg),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                   list_transform(embedding, x -> floor(x::DOUBLE * 1024)::BIGINT) AS qv
            FROM embeddings),
      p AS MATERIALIZED (
        SELECT vec_id, v,
          list_transform(range(1, ${outDim + 1}), d ->
            list_aggregate(list_transform(range(1, len(qv) + 1), j ->
              sg[d][j] * qv[j]), 'sum')::BIGINT) AS pv
        FROM e CROSS JOIN st),
      qs AS (SELECT vec_id AS qid, v AS qvec, pv AS pq FROM p WHERE vec_id < 5),
      cand AS (
        SELECT qid, qvec, c.vec_id AS id, c.v AS cv,
               list_aggregate(list_transform(range(1, ${outDim + 1}), d ->
                 (c.pv[d] - pq[d]) * (c.pv[d] - pq[d])), 'sum')::BIGINT AS pdist
        FROM p c CROSS JOIN qs WHERE c.vec_id <> qid),
      topr AS (
        SELECT qid, qvec, id, cv,
               row_number() OVER (PARTITION BY qid ORDER BY pdist ASC, id ASC) AS arank
        FROM cand),
      scored AS (
        SELECT qid, id, list_cosine_similarity(cv, qvec) AS cosine
        FROM topr WHERE arank <= $refine),
      ranked AS (
        SELECT qid, id, cosine,
               row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank
        FROM scored)
      SELECT qid, id, cosine, rank::INT AS rank FROM ranked
      WHERE rank <= $k ORDER BY qid, rank"""
  }

  private def pqReplicaOracle(cbs: Array[Array[Array[Float]]], k: Int,
                              refine: Int, dim: Int = 64): String = {
    val m = cbs.length
    val nK = cbs(0).length
    val sub = dim / m
    def lit3(f: Float => String): String =
      cbs.map(_.map(_.map(f).mkString("[", ", ", "]")).mkString("[", ", ", "]"))
        .mkString("[", ", ", "]")
    val cbf = lit3(x => s"$x::FLOAT")
    val cbd = lit3(x => s"${x.toDouble}")
    s"""
      WITH cbft AS MATERIALIZED (SELECT $cbf AS cf),
      cbdt AS MATERIALIZED (SELECT $cbd AS cd),
      e AS (SELECT vec_id, embedding AS f, embedding::DOUBLE[] AS v FROM embeddings),
      codes AS MATERIALIZED (
        SELECT vec_id, v,
          list_transform(range(0, $m), mi ->
            list_extract(list_transform(list_slice(list_sort(
              list_transform(range(0, $nK), ki ->
                {'d': list_aggregate(list_transform(range(1, ${sub + 1}), j ->
                        ((f[mi * $sub + j] - cf[mi + 1][ki + 1][j]) *
                         (f[mi * $sub + j] - cf[mi + 1][ki + 1][j]))::DOUBLE),
                      'sum'),
                 'i': ki})), 1, 1), s -> s.i), 1)) AS codes
        FROM e CROSS JOIN cbft),
      qluts AS MATERIALIZED (
        SELECT vec_id AS qid, v AS qv,
          list_transform(range(0, $m), mi ->
            list_transform(range(0, $nK), ki ->
              list_aggregate(list_transform(range(1, ${sub + 1}), j ->
                v[mi * $sub + j] * cd[mi + 1][ki + 1][j]), 'sum'))) AS luts
        FROM e CROSS JOIN cbdt WHERE vec_id < 5),
      cand AS (
        SELECT qid, qv, c.vec_id AS id, c.v AS cv,
               list_aggregate(list_transform(range(0, $m), mi ->
                 luts[mi + 1][codes[mi + 1] + 1]), 'sum') AS approx
        FROM codes c CROSS JOIN qluts WHERE c.vec_id <> qid),
      topr AS (
        SELECT qid, qv, id, cv,
               row_number() OVER (PARTITION BY qid ORDER BY approx DESC, id ASC) AS arank
        FROM cand),
      scored AS (
        SELECT qid, id, list_cosine_similarity(cv, qv) AS cosine
        FROM topr WHERE arank <= $refine),
      ranked AS (
        SELECT qid, id, cosine,
               row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank
        FROM scored)
      SELECT qid, id, cosine, rank::INT AS rank FROM ranked
      WHERE rank <= $k ORDER BY qid, rank"""
  }

  /** DuckDB replica of `Dedup.semanticSurvivors` with literal centroids:
    * nearest-centroid assignment uses the same FLOAT-subtract/multiply +
    * DOUBLE-accumulate arithmetic as the engine kernel (validated by
    * `sim_ivf_verified`), then the within-cluster cosine prune and the
    * greedy drop-larger-id rule. The guard errors if any cluster exceeds
    * the engine's skew cap — beyond it the engine's star-pairing keeps
    * survivor semantics but the oracle's all-pairs join would diverge. */
  private def semanticOracle(cents: Array[Array[Float]], threshold: Double,
                             maxClusterSize: Long, dim: Int = 64): String = {
    val cLit = cents.map(_.map(f => s"$f::FLOAT").mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")
    val nc = cents.length
    // the centroid literal is hoisted into a one-row MATERIALIZED CTE and
    // referenced as a column — inlining it at every [i+1][j] access makes
    // DuckDB rebuild the 16×64 nested list per element (measured: 236s vs
    // 0.4s for the identical result at sf0.01)
    val assign =
      s"""list_extract(list_transform(list_slice(list_sort(list_transform(range(0, $nc), i ->
            {'d': list_aggregate(list_transform(range(1, ${dim + 1}),
                    j -> ((f[j] - cc[i + 1][j]) * (f[j] - cc[i + 1][j]))::DOUBLE),
                  'sum'),
             'i': i})), 1, 1), s -> s.i), 1)"""
    s"""
      WITH cents AS MATERIALIZED (SELECT $cLit AS cc),
      e AS (SELECT vec_id, embedding AS f, embedding::DOUBLE[] AS v FROM embeddings),
      cb AS MATERIALIZED (SELECT vec_id, v, ($assign)::BIGINT AS cluster
                          FROM e CROSS JOIN cents),
      guard AS (SELECT CASE WHEN (SELECT max(c) FROM
                  (SELECT count(*) AS c FROM cb GROUP BY cluster)) > $maxClusterSize
                THEN error('semantic oracle models the UNCAPPED cluster join; a cluster exceeds the engine skew cap ($maxClusterSize) so outputs would diverge')
                ELSE 1 END AS ok),
      dups AS (SELECT DISTINCT b.vec_id
               FROM cb a JOIN cb b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
               WHERE list_cosine_similarity(a.v, b.v) >= $threshold)
      SELECT cb.vec_id, cb.cluster FROM cb CROSS JOIN guard
      WHERE cb.vec_id NOT IN (SELECT vec_id FROM dups)
      ORDER BY vec_id"""
  }

  /** Shared CTE chain ending in `scored(qid, id, cosine)` — the DuckDB
    * replica of the fixed-centroid IVF probe (assignment, nProbe query
    * cells, candidate join, exact cosine). Consumed by the top-k oracle
    * (adds the rank window) and the range-search oracle (adds a plain
    * threshold filter — mirroring exactly the operators' shared/divergent
    * structure). */
  private def ivfReplicaCtes(cents: Array[Array[Float]], nProbe: Int,
                             dim: Int, queryPred: String = "vec_id < 5"): String = {
    val cLit = cents.map(_.map(f => s"$f::FLOAT").mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")
    val nc = cents.length
    // nearest-centroid probe list over the raw FLOAT[] embedding `f`; the
    // centroid literal is hoisted into a one-row MATERIALIZED CTE (`cc`) —
    // inlined per-access it made DuckDB rebuild the nested list for every
    // [i+1][j] element (measured: 215s → <1s for the identical result)
    def probeList(n: Int): String =
      s"""list_transform(list_slice(list_sort(list_transform(range(0, $nc), i ->
            {'d': list_aggregate(list_transform(range(1, ${dim + 1}),
                    j -> ((f[j] - cc[i + 1][j]) * (f[j] - cc[i + 1][j]))::DOUBLE),
                  'sum'),
             'i': i})), 1, $n), s -> s.i)"""
    s"""cents AS MATERIALIZED (SELECT $cLit AS cc),
      e AS (SELECT vec_id, embedding AS f, embedding::DOUBLE[] AS v FROM embeddings),
      cb AS (SELECT vec_id, v, list_extract(${probeList(1)}, 1) AS cluster
             FROM e CROSS JOIN cents),
      qp AS (
        SELECT vec_id AS qid, v AS qv, unnest(${probeList(nProbe)}) AS cluster
        FROM e CROSS JOIN cents WHERE $queryPred),
      cand AS (
        SELECT DISTINCT qp.qid, qp.qv, c.vec_id AS id, c.v AS v
        FROM qp JOIN cb c USING (cluster) WHERE c.vec_id <> qp.qid),
      scored AS (SELECT qid, id, list_cosine_similarity(v, qv) AS cosine FROM cand)"""
  }

  private def ivfReplicaOracle(cents: Array[Array[Float]], nProbe: Int,
                               k: Int, dim: Int = 64,
                               queryPred: String = "vec_id < 5"): String = s"""
      WITH ${ivfReplicaCtes(cents, nProbe, dim, queryPred)},
      ranked AS (
        SELECT qid, id, cosine,
               row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank
        FROM scored)
      SELECT qid, id, cosine, rank::INT AS rank FROM ranked
      WHERE rank <= $k ORDER BY qid, rank"""

  private def ivfRangeOracle(cents: Array[Array[Float]], nProbe: Int,
                             minCosine: Double, dim: Int = 64): String = s"""
      WITH ${ivfReplicaCtes(cents, nProbe, dim)}
      SELECT qid, id, cosine FROM scored
      WHERE cosine >= $minCosine ORDER BY qid, id"""

  /** DuckDB replica of the FULL trained-IVF pipeline (`Similarity.ivfTopK`
    * with driver k-means): the 5 Lloyd iterations are unrolled as CTE
    * stages mirroring `trainCentroids` exactly — first-2048-by-id sample,
    * evenly-strided init, FLOAT subtract/multiply with DOUBLE accumulation
    * in sample order (sums are ordered-list reductions, not unordered SQL
    * aggregates, so the float means round identically), ties on centroid
    * index — then assignment/probing/re-ranking like the fixed-centroid
    * replica. */
  private def ivfTrainedOracle(nCentroids: Int = 16, nProbe: Int = 4,
                               k: Int = 10, iters: Int = 5,
                               sampleN: Int = 2048, dim: Int = 64): String = {
    def dist(f: String, ccI: String): String =
      s"""list_aggregate(list_transform(range(1, ${dim + 1}), j ->
            ((($f)[j] - ($ccI)[j]) * (($f)[j] - ($ccI)[j]))::DOUBLE), 'sum')"""
    def probeList(n: Int): String =
      s"""list_transform(list_slice(list_sort(list_transform(range(0, $nCentroids), i ->
            {'d': ${dist("f", "cc[i+1]")}, 'i': i})), 1, $n), s -> s.i)"""
    def lloydIter(t: Int): String = s"""
      a$t AS (SELECT sid, f, list_extract(${probeList(1)}, 1) AS c
              FROM smp CROSS JOIN c${t - 1}),
      g$t AS (SELECT c, count(*) AS n, list(f ORDER BY sid) AS fs FROM a$t GROUP BY c),
      c$t AS (SELECT list(newv ORDER BY i) AS cc FROM (
        SELECT t.i AS i,
               CASE WHEN g.c IS NULL THEN p.cc[t.i+1]
                    ELSE list_transform(range(1, ${dim + 1}), j ->
                      (list_aggregate(list_transform(g.fs, v -> v[j]::DOUBLE), 'sum') / g.n)::FLOAT) END AS newv
        FROM (SELECT unnest(range(0, $nCentroids)) AS i) t
        CROSS JOIN c${t - 1} p
        LEFT JOIN g$t g ON g.c = t.i))"""
    val iterCtes = (1 to iters).map(lloydIter).mkString(",")
    s"""
      WITH smp AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS sid, embedding AS f
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $sampleN)),
      c0 AS (SELECT list_transform(range(0, $nCentroids), i -> sl[(i*n)//$nCentroids + 1]) AS cc FROM
        (SELECT list(f ORDER BY sid) AS sl, count(*) AS n FROM smp)),
      $iterCtes,
      e AS (SELECT vec_id, embedding AS f, embedding::DOUBLE[] AS v FROM embeddings),
      cb AS MATERIALIZED (SELECT vec_id, v, list_extract(${probeList(1)}, 1) AS cluster
            FROM e CROSS JOIN c$iters),
      qp AS (SELECT vec_id AS qid, v AS qv, unnest(${probeList(nProbe)}) AS cluster
             FROM e CROSS JOIN c$iters WHERE vec_id < 5),
      cand AS (SELECT DISTINCT qp.qid, qp.qv, c.vec_id AS id, c.v AS v
               FROM qp JOIN cb c USING (cluster) WHERE c.vec_id <> qp.qid),
      scored AS (SELECT qid, id, list_cosine_similarity(v, qv) AS cosine FROM cand),
      ranked AS (SELECT qid, id, cosine,
                   row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank
                 FROM scored)
      SELECT qid, id, cosine, rank::INT AS rank FROM ranked
      WHERE rank <= $k ORDER BY qid, rank"""
  }

  /** Shared CTE chain replicating `QualityLangKeep` (quality score +
    * language pick) ending in `kept(doc_id, lang, source)` — used by the
    * quality-filter oracle and composed with repetition caps by the Gopher
    * oracle. */
  private def qualityKeptCtes: String = s"""c AS (
        SELECT doc_id, lang, source,
               len($sqlToks)::BIGINT AS n_tokens,
               CASE WHEN length(text) > 0 THEN
                 floor(len(regexp_extract_all(text, '[.,;:!?]')) * 1000.0 / length(text))::BIGINT
               ELSE 0 END AS punct_pm,
               ${langScoreSql("en")} AS stop_hits,
               ${langScoreSql("de")} AS s_de, ${langScoreSql("en")} AS s_en,
               ${langScoreSql("es")} AS s_es, ${langScoreSql("fr")} AS s_fr,
               ${langScoreSql("zh")} AS s_zh
        FROM documents),
      scored AS (
        SELECT doc_id, lang, source,
               (least(n_tokens, 200) * 2 +
                CASE WHEN punct_pm <= 80 THEN 300 ELSE 100 END +
                least(stop_hits * 30, 300)) AS quality,
               CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                    WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
                    WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                    WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                    WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                    ELSE 'de' END AS lang_pred
        FROM c),
      kept AS (
        SELECT doc_id, lang, source FROM scored
        WHERE quality >= 450 AND lang_pred IN ('en', 'fr'))"""

  /** Shared chain for the Gopher-filter family: [[qualityKeptCtes]] plus
    * the 2-gram repetition caps (dup_ppm <= 120000, top_ppm <= 60000,
    * computed over the kept set only — per-doc signals, order-invariant),
    * ending in `gkept(doc_id, lang, source)` — the full Gopher survivor
    * set. `text_gopher_filter` dumps it; `curation_pipeline` stacks dedup
    * and the source cap on top. */
  private def gopherKeptCtes: String = s"""$qualityKeptCtes,
      ktoks AS MATERIALIZED (
        SELECT doc_id, $sqlToks AS tk FROM documents JOIN kept USING (doc_id)),
      ng AS (
        SELECT doc_id,
               list_transform(range(1, greatest(len(tk), 1)),
                 i -> array_to_string(list_slice(tk, i, i + 1), ' ')) AS gs
        FROM ktoks),
      occ AS (SELECT doc_id, unnest(gs) AS g FROM ng),
      gcnt AS (SELECT doc_id, g, count(*)::BIGINT AS cnt FROM occ GROUP BY 1, 2),
      ragg AS (
        SELECT doc_id, sum(cnt)::BIGINT AS total,
               coalesce(sum(cnt) FILTER (WHERE cnt > 1), 0)::BIGINT AS dup,
               max(cnt)::BIGINT AS top
        FROM gcnt GROUP BY 1),
      bad AS (
        SELECT doc_id FROM ragg
        WHERE dup * 1000000 // total > 120000 OR top * 1000000 // total > 60000),
      gkept AS (
        SELECT doc_id, lang, source FROM kept
        WHERE doc_id NOT IN (SELECT doc_id FROM bad))"""

  /** Funnel oracle (greedy first-touch, 7-day step window) — shared by the
    * batch funnel and its live streaming twin, which must land on the
    * identical summary. */
  /** Shared by `events_attribution` (batch window scan) and
    * `stream_attribution` (the live stateful fold): both must reproduce
    * this report bit-exactly. */
  private val attributionOracle: String = """
      WITH e AS (
        SELECT user_id, event_id, event_type, epoch_ms(ts) AS t,
               (value::DECIMAL(18,2) * 100)::BIGINT AS cents
        FROM events),
      w AS (
        SELECT event_type, cents,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN event_type END IGNORE NULLS)
                 OVER pre AS lt,
               first_value(CASE WHEN event_type IN ('click', 'view')
                                THEN event_type END IGNORE NULLS)
                 OVER pre AS ft
        FROM e
        WINDOW pre AS (PARTITION BY user_id ORDER BY t, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      c AS (SELECT * FROM w WHERE event_type = 'purchase' AND lt IS NOT NULL),
      bf AS (SELECT ft AS touch_type, count(*)::BIGINT AS n_first,
                    sum(cents)::BIGINT AS cents_first
             FROM c GROUP BY 1),
      bl AS (SELECT lt AS touch_type, count(*)::BIGINT AS n_last,
                    sum(cents)::BIGINT AS cents_last
             FROM c GROUP BY 1)
      SELECT coalesce(bf.touch_type, bl.touch_type) AS touch_type,
             coalesce(n_first, 0)::BIGINT AS n_first,
             coalesce(cents_first, 0)::BIGINT AS cents_first,
             coalesce(n_last, 0)::BIGINT AS n_last,
             coalesce(cents_last, 0)::BIGINT AS cents_last
      FROM bf FULL OUTER JOIN bl ON bf.touch_type = bl.touch_type
      ORDER BY touch_type"""

  private val funnelOracle: String = """
      WITH ev AS (SELECT user_id AS u, event_type AS et, epoch_ms(ts) AS t
                  FROM events),
      r1 AS (SELECT u, min(t) AS t FROM ev WHERE et = 'signup' GROUP BY u),
      r2 AS (SELECT ev.u, min(ev.t) AS t FROM ev JOIN r1 ON ev.u = r1.u
             WHERE ev.et = 'view' AND ev.t > r1.t
               AND ev.t <= r1.t + 604800000 GROUP BY ev.u),
      r3 AS (SELECT ev.u, min(ev.t) AS t FROM ev JOIN r2 ON ev.u = r2.u
             WHERE ev.et = 'click' AND ev.t > r2.t
               AND ev.t <= r2.t + 604800000 GROUP BY ev.u),
      r4 AS (SELECT ev.u, min(ev.t) AS t FROM ev JOIN r3 ON ev.u = r3.u
             WHERE ev.et = 'purchase' AND ev.t > r3.t
               AND ev.t <= r3.t + 604800000 GROUP BY ev.u),
      stages AS (
        SELECT 1 AS step, 'signup' AS step_name, count(*)::BIGINT AS users FROM r1
        UNION ALL SELECT 2, 'view', count(*)::BIGINT FROM r2
        UNION ALL SELECT 3, 'click', count(*)::BIGINT FROM r3
        UNION ALL SELECT 4, 'purchase', count(*)::BIGINT FROM r4)
      SELECT step, step_name, users,
             users::DOUBLE /
               (max(CASE WHEN step = 1 THEN users END) OVER ())::DOUBLE AS pct
      FROM stages WHERE users > 0 ORDER BY step"""

  /** Chained replica of `Dedup.dedupIngest`: per batch, candidates against
    * the ACCEPTED set so far (`acc{i-1}`) plus smaller-id same-batch docs,
    * jaccard-thresholded drops, survivors accumulated. The batch split
    * comes from [[ingestBounds]] — the same constants the gate query uses. */
  private def ingestOracle(bounds: Seq[(Long, Long)]): String = {
    val steps = bounds.zipWithIndex.map { case ((lo, hi), i0) =>
      val i = i0 + 1
      s"""pairs$i AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter,
               any_value(a.n) AS na, any_value(b.n) AS nb
        FROM posting a JOIN posting b ON a.h = b.h
        WHERE a.doc_id >= $lo AND a.doc_id < $hi
          AND (b.doc_id IN (SELECT doc_id FROM acc${i - 1})
               OR (b.doc_id >= $lo AND b.doc_id < $hi AND b.doc_id < a.doc_id))
        GROUP BY 1, 2),
      drop$i AS (
        SELECT DISTINCT id_a AS doc_id FROM pairs$i
        WHERE inter::DOUBLE / (na + nb - inter) >= 0.5),
      acc$i AS MATERIALIZED (
        SELECT doc_id FROM acc${i - 1}
        UNION ALL
        SELECT doc_id FROM documents
        WHERE doc_id >= $lo AND doc_id < $hi
          AND doc_id NOT IN (SELECT doc_id FROM drop$i))"""
    }
    s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
        FROM toks),
      posting AS MATERIALIZED (
        SELECT doc_id, len(hs) AS n, unnest(hs) AS h FROM sh),
      acc0 AS (SELECT doc_id FROM documents WHERE 1 = 0),
      ${steps.mkString(",\n      ")}
      SELECT d.doc_id, d.lang FROM documents d
      JOIN acc${bounds.size} a USING (doc_id)
      ORDER BY d.doc_id"""
  }

  /** [[ingestOracle]] with df pruning replayed: at step i a shingle
    * participates in candidate generation only when its batch-side df plus
    * its GLOBAL accepted-corpus df (what compaction guarantees the index
    * carries) is ≤ maxDocFreq; intersections count only surviving
    * shingles, jaccard denominators keep the FULL set sizes — exactly
    * `incrementalSurvivorsIndexed`'s semantics. */
  private def ingestPrunedOracle(bounds: Seq[(Long, Long)], maxDF: Long): String = {
    val steps = bounds.zipWithIndex.map { case ((lo, hi), i0) =>
      val i = i0 + 1
      s"""dfc$i AS MATERIALIZED (
        SELECT h, count(*)::BIGINT AS dfc FROM posting
        WHERE doc_id IN (SELECT doc_id FROM acc${i - 1}) GROUP BY h),
      dfb$i AS MATERIALIZED (
        SELECT h, count(*)::BIGINT AS dfb FROM posting
        WHERE doc_id >= $lo AND doc_id < $hi GROUP BY h),
      cpairs$i AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter,
               any_value(a.n) AS na, any_value(b.n) AS nb
        FROM posting a JOIN posting b ON a.h = b.h
        JOIN dfb$i fb ON fb.h = a.h
        JOIN dfc$i fc ON fc.h = a.h
        WHERE a.doc_id >= $lo AND a.doc_id < $hi
          AND b.doc_id IN (SELECT doc_id FROM acc${i - 1})
          AND fb.dfb + fc.dfc <= $maxDF
        GROUP BY 1, 2),
      ipairs$i AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter,
               any_value(a.n) AS na, any_value(b.n) AS nb
        FROM posting a JOIN posting b ON a.h = b.h
        JOIN dfb$i fb ON fb.h = a.h
        LEFT JOIN dfc$i fc ON fc.h = a.h
        WHERE a.doc_id >= $lo AND a.doc_id < $hi
          AND b.doc_id >= $lo AND b.doc_id < $hi AND b.doc_id < a.doc_id
          AND fb.dfb + coalesce(fc.dfc, 0) <= $maxDF
        GROUP BY 1, 2),
      drop$i AS (
        SELECT DISTINCT id_a AS doc_id FROM (
          SELECT * FROM cpairs$i UNION ALL SELECT * FROM ipairs$i)
        WHERE inter::DOUBLE / (na + nb - inter) >= 0.5),
      acc$i AS MATERIALIZED (
        SELECT doc_id FROM acc${i - 1}
        UNION ALL
        SELECT doc_id FROM documents
        WHERE doc_id >= $lo AND doc_id < $hi
          AND doc_id NOT IN (SELECT doc_id FROM drop$i))"""
    }
    s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
        FROM toks),
      posting AS MATERIALIZED (
        SELECT doc_id, len(hs) AS n, unnest(hs) AS h FROM sh),
      acc0 AS (SELECT doc_id FROM documents WHERE 1 = 0),
      ${steps.mkString(",\n      ")}
      SELECT d.doc_id, d.lang FROM documents d
      JOIN acc${bounds.size} a USING (doc_id)
      ORDER BY d.doc_id"""
  }

  /** DuckDB replica of `Relational.part1by1` — the identical magic-mask
    * shift ladder in integer SQL (masks as decimal literals). */
  private def sqlPart1by1(e: String): String = {
    val a = s"(($e) & 65535)"
    val b = s"(($a | ($a << 8)) & 16711935)"
    val c = s"(($b | ($b << 4)) & 252645135)"
    val d = s"(($c | ($c << 2)) & 858993459)"
    s"(($d | ($d << 1)) & 1431655765)"
  }

  /** DuckDB replica of `Relational.zorderValue` (2-D Morton interleave). */
  private def sqlZorder(x: String, y: String): String =
    s"(${sqlPart1by1(x)} | (${sqlPart1by1(y)} << 1))"

  /** Shared CTE chain for the bigram-LM family — the DuckDB replica of
    * `TextAnalysis.lmScore` (string bigrams where the engine uses xxhash64
    * keys — identical grouping absent a 64-bit collision; integer-ppm MLE
    * rates), ending in `sc(doc_id, n_bigrams, sum_ppm, min_ppm)`. Docs
    * with < 2 tokens are absent from `sc` — callers zero-fill via LEFT
    * JOIN. `text_lm_score` dumps it; `text_ppl_buckets` adds the ntile
    * split. */
  private lazy val lmScoreCtes = s"""toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      bg AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
               i -> {'w1': tk[i], 'w2': tk[i+1]}), recursive := true)
             FROM toks WHERE len(tk) >= 2),
      c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM bg GROUP BY w1, w2),
      rates AS (SELECT w1, w2,
                  c2 * 1000000 // (sum(c2) OVER (PARTITION BY w1))::BIGINT AS ppm
                FROM c2),
      sc AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
                    sum(ppm)::BIGINT AS sum_ppm, min(ppm)::BIGINT AS min_ppm
             FROM bg JOIN rates USING (w1, w2) GROUP BY doc_id)"""

  /** Brute-force cosine top-k replica (the `sim_topk` oracle), shared with
    * the recall-matrix rollup. */
  private lazy val simTopkOracleSql = """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
      scored AS (
        SELECT qid, e.vec_id AS id, list_cosine_similarity(e.v, q.qv) AS cosine
        FROM e CROSS JOIN q WHERE e.vec_id <> q.qid),
      ranked AS (
        SELECT qid, id, cosine,
               row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank
        FROM scored)
      SELECT qid, id, cosine, rank::INT AS rank FROM ranked
      WHERE rank <= 10 ORDER BY qid, rank"""

  /** Hamming sign-code retrieval replica, shared with the recall matrix:
    * sign-bit packing into 32-bit words (every word a positive BIGINT),
    * per-word XOR + popcount distance, candK cut, exact-cosine rerank —
    * the approximate pipeline itself, not a brute-force proxy. */
  private lazy val hammingOracleSql = """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      cw AS (SELECT vec_id, v,
               list_transform(range(0, 2), w ->
                 list_aggregate(list_transform(range(1, 33), i ->
                   CASE WHEN v[w * 32 + i] > 0
                        THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END),
                 'sum')::BIGINT) AS code
             FROM e),
      q AS (SELECT vec_id AS qid, v AS qv, code AS qc
            FROM cw WHERE vec_id < 5),
      h AS (SELECT qid, c.vec_id AS id,
              (bit_count(xor(c.code[1], q.qc[1])) +
               bit_count(xor(c.code[2], q.qc[2])))::BIGINT AS hamming
            FROM cw c CROSS JOIN q WHERE c.vec_id <> q.qid),
      cand AS (SELECT qid, id, hamming,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY hamming ASC, id ASC) AS hrank
               FROM h),
      rer AS (SELECT c.qid, c.id,
                list_cosine_similarity(e.v, q.qv) AS cosine, c.hamming
              FROM cand c JOIN e ON e.vec_id = c.id JOIN q ON q.qid = c.qid
              WHERE c.hrank <= 30),
      ranked AS (SELECT qid, id, cosine, hamming,
                   row_number() OVER (PARTITION BY qid
                     ORDER BY cosine DESC, id ASC) AS rank
                 FROM rer)
      SELECT qid, id, cosine, hamming, rank::INT AS rank FROM ranked
      WHERE rank <= 10 ORDER BY qid, rank"""

  /** Cohort-LTV triangle replica, shared by the batch operator and its
    * streaming twin (bit-exact batch/stream parity gate). */
  private lazy val cohortLtvOracleSql = """
      WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_type,
               (value::DECIMAL(18,2) * 100)::BIGINT AS cents
             FROM events),
      fs AS (SELECT user_id, min(ms // 604800000)::BIGINT AS cohort
             FROM e GROUP BY 1),
      sz AS (SELECT cohort, count(*)::BIGINT AS cohort_size
             FROM fs GROUP BY 1),
      b AS (SELECT user_id, (ms // 604800000)::BIGINT AS bucket, cents
            FROM e WHERE event_type = 'purchase'),
      ba AS (SELECT f.cohort, (b.bucket - f.cohort)::BIGINT AS age,
               count(DISTINCT b.user_id)::BIGINT AS n_buyers,
               sum(cents)::BIGINT AS revenue_cents
             FROM b JOIN fs f USING (user_id) GROUP BY 1, 2),
      c AS (SELECT cohort, age, n_buyers, revenue_cents,
              sum(revenue_cents) OVER (PARTITION BY cohort ORDER BY age
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              )::BIGINT AS cum_revenue_cents
            FROM ba)
      SELECT c.cohort, c.age, s.cohort_size, c.n_buyers, c.revenue_cents,
             c.cum_revenue_cents,
             (c.cum_revenue_cents // s.cohort_size)::BIGINT AS ltv_cents_per_user
      FROM c JOIN sz s USING (cohort) ORDER BY cohort, age"""

  /** CTE chain ending in `sp(doc_id, gid, span_start, span_end, n_starts)`
    * — the span-corruption plan replica shared by the plan gate and the
    * apply gate. */
  private lazy val spanCorruptionCtes: String = {
    val key = "(doc_id * 100000 + pos)"
    s"""toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      flat AS (
        SELECT doc_id, len(tk)::BIGINT AS n_toks,
               unnest(list_transform(range(1, len(tk) + 1),
                 i -> {'pos': i - 1, 'tok': tk[i]}), recursive := true)
        FROM toks),
      f2 AS (SELECT doc_id, n_toks, pos::BIGINT AS pos FROM flat
             WHERE tok <> ''),
      st AS (SELECT doc_id, pos,
               least(pos + 1 + ${OracleXX.mix64Pmod(key, 5L, seed = 35L)},
                     n_toks)::BIGINT AS e
             FROM f2
             WHERE ${OracleXX.mix64Pmod(key, 1000000L, seed = 31L)} < 50000),
      m AS (SELECT doc_id, pos, e,
              max(e) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
            FROM st),
      b AS (SELECT doc_id, pos, e,
              CASE WHEN pme IS NULL OR pos > pme THEN 1 ELSE 0 END AS brk
            FROM m),
      g AS (SELECT doc_id, pos, e,
              sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              )::BIGINT AS gid
            FROM b),
      sp AS (SELECT doc_id, gid, min(pos)::BIGINT AS span_start,
               max(e)::BIGINT AS span_end, count(*)::BIGINT AS n_starts
             FROM g GROUP BY 1, 2)"""
  }

  /** Recursive replay of the two-sided integer CUSUM with restart-on-
    * alarm; `tExpr` is the per-group target expression (the self-
    * calibrating mean, or a fixed baseline for the streaming twin).
    * spr/snr are inlined per reference (SQL has no local bindings). */
  private def cusumOracleSql(tExpr: String): String = {
    val q = 1048576L
    val spr = s"greatest(0, s.sp + n.y * $q - t.t - t.t // 8)"
    val snr = s"greatest(0, s.sn + t.t - t.t // 8 - n.y * $q)"
    s"""
      WITH RECURSIVE ev AS (
        SELECT event_type, epoch_ms(ts) // 3600000 AS h FROM events),
      cnt AS (SELECT event_type, h, count(*)::BIGINT AS y
              FROM ev GROUP BY 1, 2),
      idx AS MATERIALIZED (SELECT event_type, h, y,
                row_number() OVER (PARTITION BY event_type ORDER BY h) AS i
              FROM cnt),
      tg AS MATERIALIZED (SELECT event_type, ($tExpr)::BIGINT AS t,
               count(*)::BIGINT AS n
             FROM idx GROUP BY 1),
      sm AS (
        SELECT event_type, 0::BIGINT AS i, 0::BIGINT AS sp, 0::BIGINT AS sn,
               0::BIGINT AS nup, 0::BIGINT AS ndn, (-1)::BIGINT AS fst,
               0::BIGINT AS msp, 0::BIGINT AS msn
        FROM tg
        UNION ALL
        SELECT s.event_type, n.i,
               (CASE WHEN $spr > t.t THEN 0 ELSE $spr END)::BIGINT AS sp,
               (CASE WHEN $snr > t.t THEN 0 ELSE $snr END)::BIGINT AS sn,
               (s.nup + CASE WHEN $spr > t.t THEN 1 ELSE 0 END)::BIGINT AS nup,
               (s.ndn + CASE WHEN $snr > t.t THEN 1 ELSE 0 END)::BIGINT AS ndn,
               (CASE WHEN s.fst = -1 AND ($spr > t.t OR $snr > t.t)
                     THEN n.h ELSE s.fst END)::BIGINT AS fst,
               greatest(s.msp, $spr)::BIGINT AS msp,
               greatest(s.msn, $snr)::BIGINT AS msn
        FROM sm s
        JOIN idx n ON n.event_type = s.event_type AND n.i = s.i + 1
        JOIN tg t ON t.event_type = s.event_type),
      fin AS (SELECT s.* FROM sm s JOIN tg t
                ON s.event_type = t.event_type AND s.i = t.n)
      SELECT f.event_type AS event_type, t.n AS n_buckets, t.t AS target_fp,
             f.nup AS n_up_alarms, f.ndn AS n_down_alarms,
             (CASE WHEN f.fst = -1 THEN NULL ELSE f.fst END)::BIGINT
               AS first_alarm_h,
             f.msp AS max_sp_fp, f.msn AS max_sn_fp
      FROM fin f JOIN tg t USING (event_type) ORDER BY event_type"""
  }

  /** Matryoshka prefix-retrieval replica, shared with the recall matrix. */
  private lazy val matryoshkaOracleSql = """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
      pre AS (
        SELECT qid, e.vec_id AS id,
               list_cosine_similarity(e.v[1:16], q.qv[1:16]) AS prefix_cosine
        FROM e CROSS JOIN q WHERE e.vec_id <> q.qid),
      cand AS (
        SELECT qid, id, prefix_cosine,
               row_number() OVER (PARTITION BY qid ORDER BY prefix_cosine DESC, id ASC) AS prank
        FROM pre),
      rer AS (
        SELECT c.qid, c.id, list_cosine_similarity(e.v, q.qv) AS cosine,
               c.prefix_cosine
        FROM cand c JOIN e ON e.vec_id = c.id JOIN q ON q.qid = c.qid
        WHERE c.prank <= 30),
      ranked AS (
        SELECT qid, id, cosine, prefix_cosine,
               row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank
        FROM rer)
      SELECT qid, id, cosine, prefix_cosine, rank::INT AS rank FROM ranked
      WHERE rank <= 10 ORDER BY qid, rank"""

  /** Kneser-Ney replica: the lmScore bigram CTEs extended with the two
    * continuation statistics; all products lifted to HUGEINT (the engine
    * uses DECIMAL(38)) so the ppm floor is exact at any count scale. */
  private lazy val knScoreCtes = s"""toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      bg AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
               i -> {'w1': tk[i], 'w2': tk[i+1]}), recursive := true)
             FROM toks WHERE len(tk) >= 2),
      c2t AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM bg GROUP BY w1, w2),
      nb AS (SELECT count(*)::BIGINT AS nbi FROM c2t),
      st AS (SELECT w1, w2, c2,
               (sum(c2) OVER (PARTITION BY w1))::BIGINT AS c1,
               (count(*) OVER (PARTITION BY w1))::BIGINT AS n1w1,
               (count(*) OVER (PARTITION BY w2))::BIGINT AS n1w2
             FROM c2t),
      rates AS (SELECT w1, w2,
          ((1000000::HUGEINT *
            ((4 * c2 - 3) * nbi::HUGEINT + 3::HUGEINT * n1w1 * n1w2))
           // (4::HUGEINT * c1 * nbi))::BIGINT AS ppm
        FROM st CROSS JOIN nb),
      sc AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
                    sum(ppm)::BIGINT AS sum_ppm, min(ppm)::BIGINT AS min_ppm
             FROM bg JOIN rates USING (w1, w2) GROUP BY doc_id)"""

  private def langScoreSql(lang: String, toks: String = null): String = {
    val words = TF.Stopwords(lang).map(w => s"'$w'").mkString("[", ", ", "]")
    val tk = if (toks == null) sqlToks else toks
    s"len(list_intersect(list_distinct($tk), $words))::BIGINT"
  }

  /** Unrolled k-core peel: `peels` staged (degree filter -> edge restrict)
    * rounds over the symmetric edge CTE `e0`, with an error() guard that
    * the last two stages agree (fixpoint actually reached) — the same
    * unroll-plus-guard discipline as the k-means and PageRank replicas. */
  private def kcoreOracleStages(k: Int, peels: Int): String = {
    val rounds = (1 to peels).map { i =>
      val prev = s"e${i - 1}"
      s"""k$i AS (SELECT src FROM $prev GROUP BY src HAVING count(*) >= $k),
      e$i AS MATERIALIZED (SELECT $prev.src, $prev.dst FROM $prev
        JOIN k$i ka ON $prev.src = ka.src
        JOIN k$i kb ON $prev.dst = kb.src)"""
    }.mkString(",\n      ")
    s"""$rounds,
      kguard AS (SELECT CASE WHEN (SELECT count(*) FROM e$peels) <>
                              (SELECT count(*) FROM e${peels - 1})
                 THEN error('k-core oracle: no fixpoint in $peels unrolled peels — raise the unroll')
                 ELSE 1 END AS ok)"""
  }

  lazy val oracleSql: Map[String, String] = Map(
    "pipe_transform" -> """
      SELECT event_id, props AS body, 'graft' AS source
      FROM events WHERE regexp_matches(props, '"k": 8\d')
      ORDER BY event_id""",
    "pipe_drop_all" -> "SELECT props AS body FROM events WHERE 1 = 0",
    "pipe_route" -> """
      SELECT CASE WHEN event_type = 'purchase' THEN 'kafka_sink'
                  WHEN event_type = 'error' THEN 'syslog_sink'
                  ELSE 'http_sink' END AS sink,
             count(*)::BIGINT AS n
      FROM events GROUP BY 1 ORDER BY sink""",
    "pipe_split_words" -> s"""
      WITH w AS (SELECT unnest($sqlToks) AS word FROM documents)
      SELECT word, count(*)::BIGINT AS n FROM w WHERE word <> ''
      GROUP BY word ORDER BY word""",
    "pipe_b64" -> """
      SELECT event_id, to_base64(encode(props)) AS b64, true AS roundtrip_ok
      FROM events ORDER BY event_id""",
    "pipe_batch_assembly" -> """
      WITH rn AS (
        SELECT event_type AS tag, props, event_id,
               row_number() OVER (PARTITION BY event_type ORDER BY event_id) - 1 AS r
        FROM events)
      SELECT tag, r // 100 AS batch_idx, count(*)::BIGINT AS batch_n,
             md5(string_agg(props, chr(10) ORDER BY r)) AS batch_md5
      FROM rn GROUP BY tag, r // 100 ORDER BY tag, batch_idx""",
    "pipe_backoff" -> """
      SELECT range AS attempt,
             least((pow(2, least(range, 16)) * 1000)::BIGINT, 32000)::BIGINT AS delay_ms
      FROM range(20) ORDER BY attempt""",
    "pipe_devzero" -> """
      SELECT range AS seq, '0' AS body FROM range(1024) ORDER BY seq""",
    "pipe_headers" -> """
      SELECT event_id,
             'event_id=' || event_id || ',event_type=' || event_type ||
             ',source=graft,user_id=' || user_id AS headers_flat
      FROM events ORDER BY event_id""",
    "pipe_dump_codec" -> """
      SELECT event_id,
             to_base64(encode(props)) || ';' || to_base64(encode('et')) || ',' ||
             to_base64(encode(event_type)) AS dump
      FROM events ORDER BY event_id""",
    // decode-side gzip oracle: the Spark side round-trips through the real
    // gzip/gunzip expressions; equality of the decoded projection to the
    // original column is engine-independent (zlib BYTES are not — hence no
    // oracle on the compressed form).
    "pipe_gzip" -> """
      SELECT doc_id, text AS roundtrip_text,
             length(text)::INT AS plain_chars, md5(text) AS plain_md5
      FROM documents ORDER BY doc_id""",
    // bit_or the day bits, then shift-AND-popcount — same one-word bit
    // trick as Analytics.activityBitmap
    "events_activity_bitmap" -> """
      WITH d AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
      b AS (SELECT user_id, (day - (SELECT min(day) FROM d))::INT AS idx FROM d),
      m AS (SELECT user_id, bit_or(1::BIGINT << idx) AS mask FROM b GROUP BY 1)
      SELECT user_id, mask,
             bit_count(mask)::BIGINT AS n_active_days,
             bit_count(mask & (mask >> 1))::BIGINT AS ret_days_1,
             bit_count(mask & (mask >> 7))::BIGINT AS ret_days_7
      FROM m ORDER BY user_id""",
    // the streaming twin's state is the same bin sketch -> same replica
    "stream_value_histogram" -> """
      WITH v AS (SELECT event_type AS grp,
                        (value::DECIMAL(18,2) * 100)::BIGINT AS v FROM events),
      b AS (SELECT grp,
                   CASE WHEN v >= 0 THEN v // 1000
                        ELSE -((0 - v + 999) // 1000) END AS bin,
                   count(*)::BIGINT AS cnt
            FROM v GROUP BY 1, 2),
      c AS (SELECT grp, bin, cnt,
                   sum(cnt) OVER (PARTITION BY grp ORDER BY bin)::BIGINT AS cum,
                   sum(cnt) OVER (PARTITION BY grp)::BIGINT AS n
            FROM b),
      qq AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q)
      SELECT grp AS event_type, qq.q,
             (0 + bin * 1000)::DOUBLE +
               (qq.q * n - (cum - cnt)::DOUBLE) / cnt::DOUBLE * 1000 AS est,
             n
      FROM c, qq
      WHERE cum >= qq.q * n AND cum - cnt < qq.q * n
      ORDER BY event_type, q""",
    // mergeable-histogram quantile replica: same bin math, same cumulative
    // frame, same interpolation op order — see Analytics.histogramQuantiles
    "events_value_histogram" -> """
      WITH v AS (SELECT event_type AS grp,
                        (value::DECIMAL(18,2) * 100)::BIGINT AS v FROM events),
      b AS (SELECT grp,
                   CASE WHEN v >= 0 THEN v // 1000
                        ELSE -((0 - v + 999) // 1000) END AS bin,
                   count(*)::BIGINT AS cnt
            FROM v GROUP BY 1, 2),
      c AS (SELECT grp, bin, cnt,
                   sum(cnt) OVER (PARTITION BY grp ORDER BY bin)::BIGINT AS cum,
                   sum(cnt) OVER (PARTITION BY grp)::BIGINT AS n
            FROM b),
      qq AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q)
      SELECT grp AS event_type, qq.q,
             (0 + bin * 1000)::DOUBLE +
               (qq.q * n - (cum - cnt)::DOUBLE) / cnt::DOUBLE * 1000 AS est,
             n
      FROM c, qq
      WHERE cum >= qq.q * n AND cum - cnt < qq.q * n
      ORDER BY event_type, q""",
    // latest purchase per user by (ts, event_id) — the CDC merge result
    "stream_upsert" -> """
      WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
                        (value::DECIMAL(18,2) * 100)::BIGINT AS value_c
                 FROM events WHERE event_type = 'purchase'),
      r AS (SELECT user_id, ts_ms AS last_ts_ms, event_id AS last_event_id,
                   value_c AS last_value_c,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY ts_ms DESC, event_id DESC) AS rn
            FROM p)
      SELECT user_id, last_ts_ms, last_event_id, last_value_c
      FROM r WHERE rn = 1 ORDER BY user_id""",
    // the DUAL-watermark state machine replayed from the pmod file split
    // (SPARK-24634 semantics, confirmed against the offset log and a
    // two-file probe): the LATE-EVENT filter of batch N uses batch N-1's
    // watermark — so batch 1 filters with W=0 (admits everything) and
    // batch 2 with W = max(batch-0 ts) - delay — while EVICTION/emission
    // uses the current watermark, so the emitted set is every window the
    // FINAL watermark passed, containing exactly the admitted rows
    "stream_late_data" -> """
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
      ORDER BY wstart_ms""",
    "stream_static_join" -> """
      SELECT c_mktsegment, event_type, count(*)::BIGINT AS n,
             sum((value::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS sum_value_c
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY 1, 2 ORDER BY c_mktsegment, event_type""",
    "stream_hour_window" -> """
      SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
             count(*)::BIGINT AS n,
             sum((value::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS sum_value_c
      FROM events GROUP BY 1, 2 ORDER BY hour_ms, event_type""",
    "stream_sessionize" -> """
      WITH g AS (
        SELECT user_id,
               CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                         OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                    THEN 1 ELSE 0 END AS new_session
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT user_id, sum(new_session)::BIGINT AS n_sessions,
             count(*)::BIGINT AS n_events
      FROM g GROUP BY user_id ORDER BY user_id""",
    // session_window twin: break at diff >= gap (Spark merges only a
    // STRICT overlap; exactly-gap splits), active = last-first per session
    "stream_session_window" -> """
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
      FROM sess GROUP BY user_id ORDER BY user_id""",
    "stream_dedup_events" -> """
      SELECT user_id, event_type, min(event_id) AS first_event_id,
             count(*)::BIGINT AS n
      FROM events GROUP BY 1, 2 ORDER BY user_id, event_type""",
    "stream_interval_join" -> """
      SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
             (epoch_ms(p.ts) - epoch_ms(v.ts))::BIGINT AS gap_ms
      FROM events p JOIN events v ON p.user_id = v.user_id
      WHERE p.event_type = 'purchase' AND v.event_type = 'view'
        AND epoch_ms(v.ts) >= epoch_ms(p.ts) - 1800000
        AND epoch_ms(v.ts) < epoch_ms(p.ts)
      ORDER BY purchase_id, view_id""",
    "stream_interval_join_left" -> """
      SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
             (epoch_ms(p.ts) - epoch_ms(v.ts))::BIGINT AS gap_ms
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        ON p.user_id = v.user_id
        AND epoch_ms(v.ts) >= epoch_ms(p.ts) - 1800000
        AND epoch_ms(v.ts) < epoch_ms(p.ts)
      ORDER BY purchase_id, view_id""",
    "stream_interval_join_full" -> """
      SELECT coalesce(p.user_id, v.user_id) AS user_id,
             p.event_id AS purchase_id, v.event_id AS view_id,
             (epoch_ms(p.ts) - epoch_ms(v.ts))::BIGINT AS gap_ms
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      FULL JOIN (SELECT * FROM events WHERE event_type = 'view') v
        ON p.user_id = v.user_id
        AND epoch_ms(v.ts) >= epoch_ms(p.ts) - 1800000
        AND epoch_ms(v.ts) < epoch_ms(p.ts)
      ORDER BY user_id, purchase_id, view_id""",
    "stream_interval_join_right" -> """
      SELECT v.user_id AS user_id,
             p.event_id AS purchase_id, v.event_id AS view_id,
             (epoch_ms(p.ts) - epoch_ms(v.ts))::BIGINT AS gap_ms
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      RIGHT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        ON p.user_id = v.user_id
        AND epoch_ms(v.ts) >= epoch_ms(p.ts) - 1800000
        AND epoch_ms(v.ts) < epoch_ms(p.ts)
      ORDER BY user_id, view_id, purchase_id""",
    // funnel: greedy first-touch chaining — each step's reach time is the
    // earliest qualifying event strictly after the previous step's, ≤7d
    // later; a zero-reach step yields no row in both engines.
    // stream_funnel drives the LIVE stateful streaming path over the same
    // events and must land on the identical summary — same oracle.
    "stream_funnel" -> funnelOracle,
    "events_funnel" -> funnelOracle,
    // batch sessionization: same 30-min gap rule as stream_sessionize,
    // per-session stats; ties in the ordered window break on event_id
    "events_sessions" -> """
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
      ORDER BY user_id, session_seq""",
    // within-session transition matrix over the same session assignment
    // same sessionization chain, two lags -> within-session trigrams
    "events_paths" -> """
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
      ORDER BY n DESC, t1, t2, t3 LIMIT 20""",
    "events_churn" -> """
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
      FROM f GROUP BY 1 ORDER BY cohort""",
    "events_transitions" -> """
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
      FROM cnt ORDER BY from_type, to_type""",
    // same transition counts, then 8 unrolled integer power iterations:
    // a-priori pair mining replica: same frequent-item semi-join, same
    // mega-basket width cap, same truncating-ppm metrics (lift derived
    // from the already-truncated confidence — see Analytics.basketRules)
    "q_basket_rules" -> """
      WITH bk AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
                  FROM lineitem),
      itn AS MATERIALIZED (SELECT it, count(*)::BIGINT AS n_item
                           FROM bk GROUP BY 1),
      fq AS (SELECT it, n_item FROM itn WHERE n_item >= 20),
      nb AS (SELECT count(DISTINCT bk)::BIGINT AS n_baskets FROM bk),
      fb AS MATERIALIZED (
        SELECT bk, it, n_item FROM (
          SELECT b.bk, b.it, f.n_item,
                 count(*) OVER (PARTITION BY b.bk) AS w
          FROM bk b JOIN fq f ON b.it = f.it)
        WHERE w <= 64),
      pr AS (SELECT a.it AS item_a, b.it AS item_b,
                    any_value(a.n_item)::BIGINT AS n_a,
                    any_value(b.n_item)::BIGINT AS n_b,
                    count(*)::BIGINT AS n_ab
             FROM fb a JOIN fb b ON a.bk = b.bk AND a.it < b.it
             GROUP BY 1, 2 HAVING count(*) >= 2)
      SELECT item_a, item_b, n_a, n_b, n_ab,
             (n_ab * 1000000 // n_baskets)::BIGINT AS support_ppm,
             (n_ab * 1000000 // n_a)::BIGINT AS conf_ab_ppm,
             (n_ab * 1000000 // n_b)::BIGINT AS conf_ba_ppm,
             ((n_ab * 1000000 // n_a) * n_baskets // n_b)::BIGINT AS lift_ppm
      FROM pr CROSS JOIN nb
      ORDER BY n_ab DESC, item_a, item_b LIMIT 100""",
    // trigrams via two leads over each user's (t, event_id) total
    // order, exact counts, support >= 20
    "events_seq_patterns" -> """
      WITH tg AS (
        SELECT event_type AS e1,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id))
      SELECT e1, e2, e3, count(*)::BIGINT AS n
      FROM tg WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      GROUP BY 1, 2, 3 HAVING count(*) >= 20
      ORDER BY n DESC, e1, e2, e3""",
    // p at 10^6, pi at 10^12, per-step mass (pi*p)//10^6 — * and // share
    // left-assoc precedence in both engines, so every intermediate matches
    "events_markov" -> s"""
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
      SELECT st AS event_type, pi AS pi_fp FROM pi8 ORDER BY event_type""",
    // value-based RANGE frame: trailing 30-minute activity per user
    "q_window_range" -> """
      SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
             (count(*) OVER w)::BIGINT AS n_trailing_30m,
             (sum((value::DECIMAL(18,2) * 100)::BIGINT) OVER w)::BIGINT
               AS cents_trailing_30m
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                   RANGE BETWEEN 1800000 PRECEDING AND CURRENT ROW)
      ORDER BY event_id""",
    // DAU / trailing-28-day MAU / stickiness; the day dimension is always
    // one row per day, so the trailing window is a broadcast range join
    "events_dau_mau" -> """
      WITH p AS (SELECT DISTINCT epoch_ms(ts) // 86400000 AS day, user_id
                 FROM events),
      d AS (SELECT DISTINCT day AS d FROM p),
      dau AS (SELECT day, count(*)::BIGINT AS dau FROM p GROUP BY 1),
      mau AS (SELECT d.d AS day, count(DISTINCT p.user_id)::BIGINT AS mau
              FROM d JOIN p ON p.day BETWEEN d.d - 27 AND d.d GROUP BY 1)
      SELECT day, dau.dau, mau.mau,
             dau.dau::DOUBLE / mau.mau::DOUBLE AS stickiness
      FROM dau JOIN mau USING (day) ORDER BY day""",
    // weekly cohort retention; offset-0 actives ARE the cohort size
    "events_retention" -> """
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
      FROM sized ORDER BY cohort, "offset"""",
    // MAD outliers: medians over exact cents (quantile_cont ≡ Spark's
    // percentile: same 1+(n-1)p linear interpolation), so dev/mad doubles
    // derive from identical arithmetic on both engines
    // de-seasonalized residual MAD: same profile rollup + MAD shapes
    "events_seasonal_anomaly" -> """
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
      WHERE d.dev > 3.0 * m.mad ORDER BY event_type, hour""",
    "events_anomaly" -> """
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
      WHERE d.dev > 3.0 * m.mad ORDER BY d.event_id""",
    // the salted join is result-identical to the plain join — the oracle
    // runs the unsalted form, so the gate proves salting changes only the
    // partitioning, never the answer
    "q_skew_salted_join" -> """
      SELECT c.c_mktsegment, count(*)::BIGINT AS n_events,
             count(DISTINCT e.user_id)::BIGINT AS n_users,
             sum(CASE WHEN e.event_type = 'purchase'
                      THEN (e.value::DECIMAL(18,2) * 100)::BIGINT
                      ELSE 0 END)::BIGINT AS purchase_cents
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY 1 ORDER BY 1""",
    "q1_agg" -> """
      SELECT l_returnflag, l_linestatus,
             sum((l_quantity::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS sum_qty_c,
             sum((l_extendedprice::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS sum_base_price_c,
             sum((l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2)) * 10000)::BIGINT)::BIGINT AS sum_disc_price_tm,
             count(*)::BIGINT AS count_order
      FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""",
    "q_join_null_safe" -> """
      WITH o AS (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
                             ELSE o_orderpriority END AS k, o_orderkey
                 FROM orders WHERE o_totalprice > 450000)
      SELECT coalesce(a.k, 'NULLKEY') AS k, count(*)::BIGINT AS n_pairs
      FROM o a JOIN o b ON a.k IS NOT DISTINCT FROM b.k
      GROUP BY 1 ORDER BY k""",
    "q_dynamic_pruning" -> """
      SELECT event_type, count(*)::BIGINT AS n,
             sum((value::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS sum_value_c
      FROM events WHERE event_type IN ('purchase', 'click')
      GROUP BY 1 ORDER BY event_type""",
    "q_full_outer" -> """
      WITH c AS (SELECT c_custkey, c_mktsegment FROM customer
                 WHERE c_acctbal > 9000),
      o AS (SELECT o_custkey, count(*)::BIGINT AS n_urgent FROM orders
            WHERE o_orderpriority = '1-URGENT' GROUP BY 1)
      SELECT CASE WHEN c_custkey IS NULL THEN 'order_only'
                  WHEN o_custkey IS NULL THEN 'customer_only'
                  ELSE 'both' END AS side,
             coalesce(c_custkey, o_custkey)::BIGINT AS key,
             c_mktsegment, n_urgent
      FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
      ORDER BY side, key""",
    "q_unpivot" -> """
      WITH wide AS (
        SELECT l_linestatus,
               coalesce(sum(CASE WHEN l_returnflag = 'A'
                 THEN (l_quantity::DECIMAL(18,2) * 100)::BIGINT END), 0)::BIGINT AS qty_a,
               coalesce(sum(CASE WHEN l_returnflag = 'N'
                 THEN (l_quantity::DECIMAL(18,2) * 100)::BIGINT END), 0)::BIGINT AS qty_n,
               coalesce(sum(CASE WHEN l_returnflag = 'R'
                 THEN (l_quantity::DECIMAL(18,2) * 100)::BIGINT END), 0)::BIGINT AS qty_r
        FROM lineitem GROUP BY 1)
      SELECT l_linestatus, flag, sum_qty_c
      FROM wide UNPIVOT (sum_qty_c FOR flag IN (qty_a, qty_n, qty_r))
      ORDER BY l_linestatus, flag""",
    "q_grouping_sets" -> """
      SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag_g,
             coalesce(l_linestatus, 'ALL') AS l_linestatus_g,
             GROUPING_ID(l_returnflag, l_linestatus)::BIGINT AS gid,
             sum((l_quantity::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS sum_qty_c,
             count(*)::BIGINT AS n
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                              (l_returnflag), (l_linestatus))
      ORDER BY gid, l_returnflag_g, l_linestatus_g""",
    "q_rollup" -> """
      SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag_g,
             coalesce(l_linestatus, 'ALL') AS l_linestatus_g,
             GROUPING_ID(l_returnflag, l_linestatus)::BIGINT AS gid,
             sum((l_quantity::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS sum_qty_c,
             count(*)::BIGINT AS n
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY gid, l_returnflag_g, l_linestatus_g""",
    "q_cube" -> """
      SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag_g,
             coalesce(l_linestatus, 'ALL') AS l_linestatus_g,
             GROUPING_ID(l_returnflag, l_linestatus)::BIGINT AS gid,
             sum((l_quantity::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS sum_qty_c,
             count(*)::BIGINT AS n
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY gid, l_returnflag_g, l_linestatus_g""",
    // min-per-group join-back, decorrelated; ties on linenumber
    "q_cheapest_lineitem" -> """
      WITH r AS (
        SELECT l_orderkey, l_linenumber,
               (l_extendedprice::DECIMAL(18,2) * 100)::BIGINT AS price_c,
               row_number() OVER (PARTITION BY l_orderkey
                 ORDER BY l_extendedprice ASC, l_linenumber ASC) AS rn
        FROM lineitem)
      SELECT l_orderkey, l_linenumber, price_c FROM r
      WHERE rn = 1 ORDER BY l_orderkey""",
    // per-day purchase-spend leaderboard, exact cents
    "events_windowed_topk" -> """
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
      WHERE rank <= 3 ORDER BY day, rank""",
    "q_pivot" -> """
      SELECT user_id,
             count(*) FILTER (event_type = 'click')::BIGINT AS click,
             count(*) FILTER (event_type = 'error')::BIGINT AS error,
             count(*) FILTER (event_type = 'purchase')::BIGINT AS purchase,
             count(*) FILTER (event_type = 'signup')::BIGINT AS signup,
             count(*) FILTER (event_type = 'view')::BIGINT AS view
      FROM events GROUP BY user_id ORDER BY user_id""",
    "q3_topk" -> """
      SELECT l_orderkey, strftime(o_orderdate::DATE, '%Y-%m-%d') AS o_orderdate,
             sum((l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2)) * 10000)::BIGINT)::BIGINT AS revenue_tm
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY 1, 2 ORDER BY revenue_tm DESC, l_orderkey ASC LIMIT 10""",
    "q5_join" -> """
      SELECT n_name,
             sum((l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2)) * 10000)::BIGINT)::BIGINT AS revenue_tm
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY n_name ORDER BY n_name""",
    "q_window_rank" -> """
      WITH r AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        FROM orders)
      SELECT o_custkey, rk::INT AS rk, o_orderkey, o_totalprice FROM r
      WHERE rk <= 2 ORDER BY o_custkey, rk""",
    "q_setops" -> """
      WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
           rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
      SELECT 'intersect' AS op, c_custkey FROM (SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM rich)
      UNION ALL
      SELECT 'except' AS op, c_custkey FROM (SELECT c_custkey FROM building EXCEPT SELECT c_custkey FROM rich)
      ORDER BY op, c_custkey""",
    "q_setops_all" -> """
      WITH a AS (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'),
           b AS (SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'),
      u AS (
        SELECT 'intersect_all' AS op, l_orderkey
        FROM (SELECT l_orderkey FROM a INTERSECT ALL SELECT l_orderkey FROM b)
        UNION ALL
        SELECT 'except_all' AS op, l_orderkey
        FROM (SELECT l_orderkey FROM a EXCEPT ALL SELECT l_orderkey FROM b))
      SELECT op, l_orderkey, count(*)::BIGINT AS n
      FROM u GROUP BY 1, 2 ORDER BY op, l_orderkey""",
    "q_quantiles" -> """
      WITH c AS (SELECT l_returnflag,
                        (l_extendedprice::DECIMAL(18,2) * 100)::BIGINT AS price_c
                 FROM lineitem)
      SELECT l_returnflag,
             quantile_cont(price_c, 0.5) AS p50,
             quantile_cont(price_c, 0.9) AS p90,
             quantile_cont(price_c, 0.99) AS p99,
             count(*)::BIGINT AS n
      FROM c GROUP BY 1 ORDER BY 1""",
    "q_upsert" -> """
      WITH base AS (
        SELECT o_orderkey, (o_totalprice::DECIMAL(18,2) * 100)::BIGINT AS base_c
        FROM orders WHERE o_orderkey % 3 <> 0),
      upd AS (
        SELECT o_orderkey,
               (o_totalprice::DECIMAL(18,2) * 100)::BIGINT + 100000 AS upd_c
        FROM orders WHERE o_orderkey % 2 = 0)
      SELECT coalesce(b.o_orderkey, u.o_orderkey) AS o_orderkey,
             coalesce(u.upd_c, b.base_c)::BIGINT AS price_c,
             CASE WHEN b.o_orderkey IS NOT NULL AND u.o_orderkey IS NOT NULL
                  THEN 'updated'
                  WHEN b.o_orderkey IS NULL THEN 'inserted'
                  ELSE 'kept' END AS action
      FROM base b FULL JOIN upd u ON b.o_orderkey = u.o_orderkey
      ORDER BY o_orderkey""",
    "q_scd2" -> """
      WITH ch AS (
        SELECT user_id, epoch_ms(ts) AS ts_ms,
               max((value::DECIMAL(18,2) * 100)::BIGINT) AS value_c
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      SELECT user_id, value_c, ts_ms AS valid_from,
             lead(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) AS valid_to
      FROM ch ORDER BY user_id, valid_from""",
    "q_exists_subquery" -> """
      SELECT c_mktsegment, COUNT(*)::BIGINT AS n
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderstatus = 'O'
                      AND o.o_totalprice > c.c_acctbal)
        AND NOT EXISTS (SELECT 1 FROM orders o2
                        WHERE o2.o_custkey = c.c_custkey
                          AND o2.o_orderpriority = '1-URGENT')
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_scalar_subquery" -> """
      WITH o AS (SELECT o_orderpriority,
                        (o_totalprice::DECIMAL(18,2) * 100)::BIGINT AS price_c
                 FROM orders)
      SELECT 'global' AS kind, o_orderpriority, COUNT(*)::BIGINT AS n
      FROM o o1
      WHERE price_c * (SELECT COUNT(*) FROM o) > (SELECT SUM(price_c) FROM o)
      GROUP BY o_orderpriority
      UNION ALL
      SELECT 'per_priority' AS kind, o_orderpriority, COUNT(*)::BIGINT AS n
      FROM o o1
      WHERE price_c * (SELECT COUNT(*) FROM o o2
                       WHERE o2.o_orderpriority = o1.o_orderpriority)
                    > (SELECT SUM(price_c) FROM o o3
                       WHERE o3.o_orderpriority = o1.o_orderpriority)
      GROUP BY o_orderpriority
      ORDER BY kind, o_orderpriority""",
    "q_not_in_nullaware" -> """
      SELECT 'not_in_nullable' AS kind, COUNT(*)::BIGINT AS n FROM customer
      WHERE c_custkey NOT IN
        (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_custkey END
         FROM orders WHERE o_totalprice > 150000)
      UNION ALL
      SELECT 'not_in_clean' AS kind, COUNT(*)::BIGINT AS n FROM customer
      WHERE c_custkey NOT IN
        (SELECT o_custkey FROM orders
         WHERE o_totalprice > 150000 AND o_orderstatus <> 'P')
      ORDER BY kind""",
    "q_lateral_explode" -> """
      WITH toks AS (SELECT string_split(trim(regexp_replace(regexp_replace(
                      lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS ts
                    FROM documents)
      SELECT i - 1 AS pos, ts[i] AS tok, COUNT(*)::BIGINT AS n
      FROM toks, unnest(generate_series(1, least(3, len(ts)))) AS g(i)
      WHERE ts[i] <> ''
      GROUP BY 1, 2
      HAVING COUNT(*) >= 5
      ORDER BY pos, n DESC, tok""",
    "q_sort_limit" -> """
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""",
    "q_semi_anti" -> """
      SELECT 'with_orders' AS kind, count(*)::BIGINT AS n FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      UNION ALL
      SELECT 'without_orders' AS kind, count(*)::BIGINT AS n FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY kind""",
    "q_distinct_agg" -> """
      SELECT n_name, count(DISTINCT s_suppkey)::BIGINT AS n_suppliers,
             count(*)::BIGINT AS n_rows
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""",
    "q_asof_join" -> """
      WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events),
      c AS (SELECT user_id, epoch_ms(ts) AS ts_ms, max(value) AS last_purchase_value
            FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      SELECT p.event_id, p.user_id, p.ts_ms, c.last_purchase_value
      FROM p ASOF LEFT JOIN c
        ON p.user_id = c.user_id AND p.ts_ms >= c.ts_ms
      ORDER BY event_id""",
    "q_asof_join_fwd" -> """
      WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events),
      c AS (SELECT user_id, epoch_ms(ts) AS ts_ms, max(value) AS next_purchase_value
            FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      SELECT p.event_id, p.user_id, p.ts_ms, c.next_purchase_value
      FROM p ASOF LEFT JOIN c
        ON p.user_id = c.user_id AND p.ts_ms <= c.ts_ms
      ORDER BY event_id""",
    // both ASOF directions + a row-local nearest pick (ties -> backward)
    "q_asof_join_nearest" -> """
      WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events),
      c AS (SELECT user_id, epoch_ms(ts) AS ts_ms,
                   max((value::DECIMAL(18,2) * 100)::BIGINT) AS pv
            FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      b AS (SELECT p.event_id, p.user_id, p.ts_ms,
                   c.pv AS pv_b, c.ts_ms AS ts_b
            FROM p ASOF LEFT JOIN c
              ON p.user_id = c.user_id AND p.ts_ms >= c.ts_ms),
      f AS (SELECT p.event_id, c.pv AS pv_f, c.ts_ms AS ts_f
            FROM p ASOF LEFT JOIN c
              ON p.user_id = c.user_id AND p.ts_ms <= c.ts_ms)
      SELECT b.event_id, b.user_id, b.ts_ms,
             CASE WHEN ts_b IS NULL AND ts_f IS NULL THEN NULL
                  WHEN ts_f IS NULL THEN pv_b
                  WHEN ts_b IS NULL THEN pv_f
                  WHEN b.ts_ms - ts_b <= ts_f - b.ts_ms THEN pv_b
                  ELSE pv_f END AS nearest_value_c,
             CASE WHEN ts_b IS NULL AND ts_f IS NULL THEN NULL
                  WHEN ts_f IS NULL THEN b.ts_ms - ts_b
                  WHEN ts_b IS NULL THEN ts_f - b.ts_ms
                  ELSE least(b.ts_ms - ts_b, ts_f - b.ts_ms) END AS dist_ms
      FROM b JOIN f USING (event_id)
      ORDER BY event_id""",
    "q_asof_join_tolerance" -> """
      WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events),
      c AS (SELECT user_id, epoch_ms(ts) AS ts_ms,
                   max((value::DECIMAL(18,2) * 100)::BIGINT) AS pv
            FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      b AS (SELECT p.event_id, p.user_id, p.ts_ms,
                   c.pv, c.ts_ms AS mts
            FROM p ASOF LEFT JOIN c
              ON p.user_id = c.user_id AND p.ts_ms >= c.ts_ms)
      SELECT event_id, user_id, ts_ms,
             CASE WHEN mts IS NOT NULL AND ts_ms - mts <= 3600000
                  THEN pv END AS last_purchase_value_c,
             CASE WHEN mts IS NOT NULL AND ts_ms - mts <= 3600000
                  THEN mts END AS match_ts
      FROM b ORDER BY event_id""",
    "q_range_join" -> """
      WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events),
      iv AS (SELECT event_id AS iv_id, user_id, epoch_ms(ts) AS start_ms,
                    epoch_ms(ts) + 600000 AS end_ms
             FROM events WHERE event_type = 'view')
      SELECT p.event_id, iv.iv_id
      FROM p JOIN iv ON p.user_id = iv.user_id
        AND p.ts_ms >= iv.start_ms AND p.ts_ms < iv.end_ms
      ORDER BY event_id, iv_id""",
    "q_partition_pruned" -> """
      SELECT user_id // 100 AS user_bucket, count(*)::BIGINT AS n,
             sum((value::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS value_cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1 ORDER BY 1""",
    "q_bucketed_join" -> """
      SELECT o_orderpriority, sum(l_quantity::BIGINT)::BIGINT AS sum_qty,
             count(*)::BIGINT AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY 1""",
    "dedup_exact" -> """
      SELECT md5(text) AS text_hash, min(doc_id) AS doc_id,
             count(*)::BIGINT AS n_copies
      FROM documents GROUP BY 1 ORDER BY text_hash""",
    "dedup_normalized" -> """
      SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS text_hash,
             min(doc_id) AS doc_id, count(*)::BIGINT AS n_copies
      FROM documents GROUP BY 1 ORDER BY text_hash""",
    "dedup_ngram" -> ngramJaccardOracle(0.5),
    // integer-IDF weights (N DIV df) keep every sum BIGINT/order-free;
    // the engine joins on xxhash64 of the shingle, the oracle on its
    // string — identical pairing absent a 64-bit collision
    "dedup_weighted_jaccard" -> s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
        FROM toks),
      posting AS (SELECT doc_id, unnest(hs) AS h FROM sh),
      nd AS (SELECT count(*)::BIGINT AS n FROM documents),
      dfreq AS (SELECT h, count(*)::BIGINT AS dfh FROM posting GROUP BY 1),
      wp AS MATERIALIZED (
        SELECT doc_id, p.h, ((SELECT n FROM nd) // dfh)::BIGINT AS w
        FROM posting p JOIN dfreq USING (h) WHERE dfh <= 1000),
      docw AS (SELECT doc_id, sum(w)::BIGINT AS wt FROM wp GROUP BY 1),
      pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    sum(a.w)::BIGINT AS shared_w
             FROM wp a JOIN wp b ON a.h = b.h AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
      SELECT pr.id_a, pr.id_b, pr.shared_w,
             pr.shared_w::DOUBLE / (wa.wt + wb.wt - pr.shared_w)::DOUBLE
               AS wjaccard
      FROM pr JOIN docw wa ON pr.id_a = wa.doc_id
              JOIN docw wb ON pr.id_b = wb.doc_id
      WHERE pr.shared_w::DOUBLE / (wa.wt + wb.wt - pr.shared_w)::DOUBLE >= 0.5
      ORDER BY id_a, id_b""",
    // oracle-budget shape (the 10 s per-oracle tripwire): candidates form
    // BEFORE any levenshtein (length band + the LOSSLESS char-histogram
    // bound — an edit moves at most two counts by one, so dist >= sum of
    // per-char count deltas / 2; pairs with delta-sum > 2*16 can never
    // reach dist <= 16), and the distance is computed ONCE per survivor.
    // First cut: 9.0 s (levenshtein in WHERE and SELECT over the full
    // length-band product); this shape: ~1 s.
    "dedup_edit_distance" -> {
      val alphabet = ('a' to 'z') ++ ('0' to '9') :+ ' '
      val hist = alphabet
        .map(c => s"length(t) - length(replace(t, '$c', ''))")
        .mkString("[", ", ", "]")
      s"""
      WITH n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
                   lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS t
                 FROM documents),
           s AS MATERIALIZED (SELECT doc_id, t, length(t) AS l, $hist AS hg
                 FROM n WHERE length(t) <= 512),
           -- MATERIALIZED is load-bearing twice here: s so the regex
           -- normalization runs once (not per pair on both join sides),
           -- and cand so the optimizer cannot inline d and reorder the
           -- levenshtein ahead of the cheap histogram prune (measured:
           -- inlined plan 7.8 s, staged plan ~1 s for the same 181
           -- surviving candidates)
           cand AS MATERIALIZED (SELECT a.doc_id AS id_a, a.t AS ta,
                           b.doc_id AS id_b, b.t AS tb
                    FROM s a JOIN s b
                      ON a.doc_id < b.doc_id AND abs(a.l - b.l) <= 16
                    WHERE list_sum(list_transform(range(1, ${alphabet.size + 1}),
                            i -> abs(list_extract(a.hg, i) - list_extract(b.hg, i))))
                          <= 32),
           d AS (SELECT id_a, id_b, levenshtein(ta, tb)::INTEGER AS dist
                 FROM cand)
      SELECT id_a, id_b, dist FROM d WHERE dist <= 16
      ORDER BY id_a, id_b"""
    },
    "dedup_containment" -> s"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               array_to_string(list_slice($sqlToks, 1, 12), ' ') AS text
        FROM documents WHERE doc_id % 7 = 0),
      toks AS (SELECT doc_id, $sqlToks AS tk FROM corpus),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
        FROM toks),
      posting AS (SELECT doc_id, len(hs) AS n, unnest(hs) AS h FROM sh),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter,
               any_value(a.n) AS na, any_value(b.n) AS nb
        FROM posting a JOIN posting b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      ok AS (
        SELECT CASE WHEN na < nb THEN id_a ELSE id_b END AS contained_id,
               CASE WHEN na < nb THEN id_b ELSE id_a END AS container_id,
               inter::DOUBLE / least(na, nb) AS containment
        FROM pairs WHERE inter::DOUBLE / least(na, nb) >= 0.8)
      SELECT contained_id, container_id, containment FROM ok
      ORDER BY contained_id, container_id""",
    // the prefix-filtered operator promises output IDENTICAL to the plain
    // inverted-index join, so its oracle is the same brute-force all-pairs
    // SQL — any pair the filter drops is a hash mismatch here
    "dedup_ngram_prefix" -> ngramJaccardOracle(0.4),
    "curation_overlap" -> s"""
      WITH ${ngramJaccardCtes(0.5)},
      sel AS (
        SELECT least(sa.source, sb.source) AS source_a,
               greatest(sa.source, sb.source) AS source_b, id_a, id_b
        FROM ok JOIN documents sa ON ok.id_a = sa.doc_id
                JOIN documents sb ON ok.id_b = sb.doc_id),
      np AS (SELECT source_a, source_b, count(*)::BIGINT AS n_pairs
             FROM sel GROUP BY 1, 2),
      nd AS (SELECT source_a, source_b, count(DISTINCT d)::BIGINT AS n_docs
             FROM (SELECT source_a, source_b, unnest([id_a, id_b]) AS d
                   FROM sel) GROUP BY 1, 2)
      SELECT source_a, source_b, n_pairs, n_docs
      FROM np JOIN nd USING (source_a, source_b)
      ORDER BY source_a, source_b""",
    // full replicas of the hash-sketch dedup operators: XXH64 (the exact
    // Spark xxhash64 bit mixing) is reproduced in DuckDB HUGEINT
    // arithmetic, so the estimate-scored MinHash pairs and the SimHash
    // Hamming pairs are oracle-checked as-is — see OracleXX
    "dedup_minhash" -> OracleXX.minhashOracle(numHashes = 128, bands = 16,
      threshold = 0.4),
    // 1-bit estimator on the same banded candidates: parity agreement
    // replayed per permutation, Ĵ = 2·agree/k − 1 (engine packs the
    // parities into two words and XOR+popcounts — same observable)
    "dedup_minhash_bbit" -> s"""
      WITH ${OracleXX.minhashBandCtes(128, 16)},
      prs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                     a.sig AS siga, b.sig AS sigb
              FROM bk a CROSS JOIN guard
                   JOIN bk b ON a.band = b.band AND a.doc_id < b.doc_id),
      agp AS (SELECT id_a, id_b,
                list_aggregate(list_transform(range(0, 128), j ->
                  CASE WHEN siga[j+1] % 2 = sigb[j+1] % 2 THEN 1 ELSE 0 END),
                  'sum') AS agree
              FROM prs)
      SELECT id_a, id_b,
             (agree * 2 - 128)::DOUBLE / 128 AS est_jaccard_b1
      FROM agp WHERE (agree * 2 - 128)::DOUBLE / 128 >= 0.4
      ORDER BY id_a, id_b""",
    // leakage audit = the same banded pair replica + hashSplit's bucket
    // thresholds replayed on both endpoints, cross-split rows only
    "dedup_split_leakage" -> {
      val b = OracleXX.xxh64LongPmod("doc_id", 1000000L)
      s"""
      WITH ${OracleXX.minhashAgreeCtes(numHashes = 128, bands = 16)},
      sp AS (SELECT doc_id,
               CASE WHEN ($b) < 900000 THEN 'train' ELSE 'val' END AS split
             FROM documents),
      lk AS (SELECT id_a, id_b, agree::DOUBLE / 128 AS est_jaccard
             FROM ag WHERE agree::DOUBLE / 128 >= 0.4)
      SELECT l.id_a, l.id_b, sa.split AS split_a, sb.split AS split_b,
             l.est_jaccard
      FROM lk l JOIN sp sa ON sa.doc_id = l.id_a
                JOIN sp sb ON sb.doc_id = l.id_b
      WHERE sa.split <> sb.split
      ORDER BY l.id_a, l.id_b"""
    },
    "dedup_simhash" -> OracleXX.simhashOracle(maxHamming = 3),
    // exact-verified MinHash: candidates from LSH, output = exact n-gram
    // Jaccard ≥ 0.5 — oracle is the same all-pairs exact computation, with
    // the engine's band keys replicated (bands=64) purely to feed the same
    // skew-cap guard as dedup_minhash: cap-induced divergence fails with the
    // explanatory error() instead of a bare row/hash mismatch
    "dedup_minhash_verified" -> s"""
      WITH ${OracleXX.minhashBandCtes(numHashes = 128, bands = 64)},
      posting AS (SELECT doc_id, len(hs) AS n, unnest(hs) AS h FROM sh3),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter,
               any_value(a.n) AS na, any_value(b.n) AS nb
        FROM posting a JOIN posting b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b, inter::DOUBLE / (na + nb - inter) AS jaccard
      FROM pairs CROSS JOIN guard WHERE inter::DOUBLE / (na + nb - inter) >= 0.5
      ORDER BY id_a, id_b""",
    // LSH-blocked config (the scale path): oracle replicates the
    // hyperplane bucketing, then exact cosine within buckets
    "dedup_embedding" -> s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      cb AS (SELECT vec_id, v, ${hyperplaneBucketSql(8, 64)} AS bucket FROM e),
      guard AS (SELECT CASE WHEN (SELECT max(c) FROM
                  (SELECT count(*) AS c FROM cb GROUP BY bucket)) > 4096
                THEN error('embedding oracle models the UNCAPPED bucket join; a bucket exceeds the engine skew cap (4096) so outputs would diverge')
                ELSE 1 END AS ok)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_cosine_similarity(a.v, b.v) AS cosine
      FROM cb a CROSS JOIN guard JOIN cb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= 0.4
      ORDER BY id_a, id_b""",
    // incremental ingest twin: same hyperplane blocking, victim = incoming
    // (vec_id < 350), source = accepted corpus or smaller-id batch-mate
    "dedup_embedding_incremental" -> s"""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      cb AS (SELECT vec_id, label, v, ${hyperplaneBucketSql(8, 64)} AS bucket FROM e),
      drp AS (
        SELECT DISTINCT a.vec_id
        FROM cb a JOIN cb b ON a.bucket = b.bucket
         AND a.vec_id < 350 AND (b.vec_id >= 350 OR b.vec_id < a.vec_id)
        WHERE list_cosine_similarity(a.v, b.v) >= 0.4)
      SELECT vec_id, label FROM cb
      WHERE vec_id < 350 AND vec_id NOT IN (SELECT vec_id FROM drp)
      ORDER BY vec_id""",
    "dedup_embedding_exact" -> """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_cosine_similarity(a.v, b.v) AS cosine
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= 0.4
      ORDER BY id_a, id_b""",
    // SemDeDup replica: fixed-centroid assignment (same float-exact
    // distance arithmetic as the IVF replica), within-cluster cosine
    // prune, greedy min-id survivor rule — with the skew-cap guard
    "dedup_semantic" -> semanticOracle(
      Similarity.fixedCentroids(16, 64), threshold = 0.4,
      maxClusterSize = 4096L),
    // hard negatives: same exact-cosine replica minus the label pairs
    "sim_hard_negatives" -> """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
      scored AS (
        SELECT qid, e.vec_id AS id, list_cosine_similarity(e.v, q.qv) AS cosine
        FROM e CROSS JOIN q WHERE e.vec_id <> q.qid),
      neg AS (SELECT * FROM scored WHERE NOT (id % 7 = qid)),
      ranked AS (
        SELECT qid, id, cosine,
               row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank
        FROM neg)
      SELECT qid, id, cosine, rank::INT AS rank FROM ranked
      WHERE rank <= 10 ORDER BY qid, rank""",
    "sim_topk" -> simTopkOracleSql,
    // sign-bit packing into 32-bit words (every word positive BIGINT),
    // per-word XOR + popcount Hamming, candK cut, exact-cosine rerank —
    // the approximate pipeline itself replayed, not a brute-force proxy
    "sim_hamming_topk" -> hammingOracleSql,
    // pre-filter semantics: the label equality restricts the candidate
    // set BEFORE ranking, so every query gets a full k inside its group
    "sim_filtered_topk" -> """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label::BIGINT AS l
                 FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv, l AS ql FROM e WHERE vec_id < 5),
      scored AS (
        SELECT qid, e.l AS filter_value, e.vec_id AS id,
               list_cosine_similarity(e.v, q.qv) AS cosine
        FROM e JOIN q ON e.l = q.ql WHERE e.vec_id <> q.qid),
      ranked AS (
        SELECT qid, filter_value, id, cosine,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cosine DESC, id ASC) AS rank
        FROM scored)
      SELECT qid, filter_value, id, cosine, rank::INT AS rank FROM ranked
      WHERE rank <= 10 ORDER BY qid, rank""",
    // fixed-point centroids (sum // count truncates toward zero in both
    // engines), squared-L2 argmin via the dist*16+label encode, confusion
    // rollup — the integer pipeline replayed end to end
    "sim_centroid_classifier" -> """
      WITH e AS (SELECT vec_id, label::BIGINT AS lbl,
               list_transform(embedding::DOUBLE[],
                 x -> floor(x * 1048576)::BIGINT) AS xq
             FROM embeddings),
      comp AS (SELECT lbl, unnest(list_transform(range(1, len(xq) + 1),
                 i -> {'d': i, 'x': xq[i]}), recursive := true)
               FROM e),
      cent AS (SELECT lbl AS cand, d, (sum(x) // count(*))::BIGINT AS c
               FROM comp GROUP BY 1, 2),
      ca AS (SELECT cand, list(c ORDER BY d) AS cv FROM cent GROUP BY cand),
      sc AS (SELECT e.vec_id, e.lbl,
               (list_aggregate(list_transform(range(1, len(xq) + 1),
                  i -> (xq[i] - a.cv[i]) * (xq[i] - a.cv[i])),
                'sum')::BIGINT * 16 + a.cand)::BIGINT AS enc
             FROM e CROSS JOIN ca a),
      pr AS (SELECT vec_id, lbl, min(enc) AS me FROM sc GROUP BY 1, 2)
      SELECT lbl AS label, (me % 16)::BIGINT AS pred, count(*)::BIGINT AS n
      FROM pr GROUP BY 1, 2 ORDER BY label, pred""",
    // full replica of the LSH ANN operator: the deterministic hyperplanes
    // are embedded as literals, DuckDB recomputes bucket assignment,
    // multi-probe, the candidate join, and the exact-cosine re-rank —
    // oracle-checking the APPROXIMATE output itself, not a brute-force proxy
    "sim_lsh_topk" -> lshReplicaOracle(bits = 8, probes = 2, k = 10),
    "sim_pca_top" -> pcaOracle(dim = 64, scaleBits = 7, iters = 8,
                               vScaleBits = 20),
    "sim_pca_residual" -> pcaProjOracle(dim = 64, scaleBits = 7, iters = 8,
                                        vScaleBits = 20),
    "sim_matryoshka_topk" -> matryoshkaOracleSql,
    // trained-k-means IVF, Lloyd iterations unrolled in SQL
    "sim_ivf_topk" -> ivfTrainedOracle(nCentroids = 16, nProbe = 4, k = 10),
    "sim_ivf_verified" -> ivfReplicaOracle(
      Similarity.fixedCentroids(16, 64), nProbe = 4, k = 10),
    // the indexed path changes WHERE assignments come from (the persisted
    // bucketed table), not what they are — same replica oracle
    "sim_ivf_indexed" -> ivfReplicaOracle(
      Similarity.fixedCentroids(16, 64), nProbe = 4, k = 10),
    // the live twin changes HOW queries arrive (two checkpointed
    // micro-batches) and where assignments come from (the persisted
    // bucketed table), not what the retrieval computes — same replica,
    // query set extended to both batches
    "stream_ivf_probe" -> ivfReplicaOracle(
      Similarity.fixedCentroids(16, 64), nProbe = 4, k = 10,
      queryPred = "vec_id < 10"),
    // exact top-20 pool, pool-pairwise cosines, then 5 unrolled greedy MMR
    // steps: each picks argmax(0.7·rel − 0.3·max-sim-to-selected) with the
    // identical exact-rounded double ops and id tie-break
    "sim_mmr_topk" -> {
      val iters = (2 to 5).map { i =>
        val selPrev = (1 until i).map(j => s"SELECT qid, id FROM s$j")
          .mkString(" UNION ALL ")
        s"""
      sel$i AS ($selPrev),
      ms$i AS (
        SELECT p.qid, p.id, p.rel, max(pr.sim) AS maxsim
        FROM pool p
        JOIN pr ON pr.qid = p.qid AND pr.id_a = p.id
        JOIN sel$i sl ON sl.qid = pr.qid AND sl.id = pr.id_b
        WHERE NOT EXISTS (SELECT 1 FROM sel$i x
                          WHERE x.qid = p.qid AND x.id = p.id)
        GROUP BY p.qid, p.id, p.rel),
      s$i AS (
        SELECT qid, id, $i AS rank, score FROM (
          SELECT qid, id, score,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY score DESC, id ASC) AS rnk
          FROM (SELECT qid, id,
                       0.7::DOUBLE * rel - 0.3::DOUBLE * maxsim AS score
                FROM ms$i)) WHERE rnk = 1)"""
      }.mkString(",")
      s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
      sc AS (SELECT qid, c.vec_id AS id, list_cosine_similarity(c.v, qv) AS rel
             FROM e c CROSS JOIN q WHERE c.vec_id <> qid),
      pool AS MATERIALIZED (
        SELECT qid, id, rel FROM (
          SELECT qid, id, rel, row_number() OVER (PARTITION BY qid
            ORDER BY rel DESC, id ASC) AS rnk FROM sc)
        WHERE rnk <= 20),
      pv AS (SELECT p.qid, p.id, e.v FROM pool p JOIN e ON e.vec_id = p.id),
      pr AS MATERIALIZED (
        SELECT a.qid, a.id AS id_a, b.id AS id_b,
               list_cosine_similarity(a.v, b.v) AS sim
        FROM pv a JOIN pv b ON a.qid = b.qid AND a.id <> b.id),
      s1 AS (
        SELECT qid, id, 1 AS rank, rel AS score FROM (
          SELECT qid, id, rel, row_number() OVER (PARTITION BY qid
            ORDER BY rel DESC, id ASC) AS rnk FROM pool)
        WHERE rnk = 1),
      $iters
      SELECT qid, id, rank, score AS mmr_score
      FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
            UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
            UNION ALL SELECT * FROM s5)
      ORDER BY qid, rank"""
    },
    // both replica rankings nested whole (DuckDB allows WITH inside a CTE
    // body), fused by the identical integer reciprocal-rank arithmetic
    "sim_rrf_fusion" -> s"""
      WITH rpr AS (${rpReplicaOracle(
                      Similarity.fixedProjection(16, 64), k = 10, refine = 50)}),
      ivfr AS (${ivfReplicaOracle(
                   Similarity.fixedCentroids(16, 64), nProbe = 4, k = 10)}),
      u AS (
        SELECT qid, id, 1000000000 // (60 + rank) AS s FROM rpr
        UNION ALL
        SELECT qid, id, 1000000000 // (60 + rank) AS s FROM ivfr),
      f AS (SELECT qid, id, sum(s)::BIGINT AS rrf_score
            FROM u GROUP BY qid, id),
      r AS (SELECT qid, id, rrf_score,
              row_number() OVER (PARTITION BY qid
                ORDER BY rrf_score DESC, id ASC) AS rank
            FROM f)
      SELECT qid, id, rrf_score, rank::INT AS rank FROM r
      WHERE rank <= 10 ORDER BY qid, rank""",
    // recall@10 of the IVF replica against the brute-force replica — the
    // `e` CTE from the IVF chain is reused for the exact pass
    "sim_recall_report" -> s"""
      WITH ${ivfReplicaCtes(Similarity.fixedCentroids(16, 64), nProbe = 4,
                            dim = 64)},
      ivfr AS (SELECT qid, id FROM (
          SELECT qid, id, row_number() OVER (PARTITION BY qid
                 ORDER BY cosine DESC, id ASC) AS rank FROM scored)
        WHERE rank <= 10),
      q2 AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
      bscored AS (
        SELECT q2.qid, e.vec_id AS id, list_cosine_similarity(e.v, q2.qv) AS cosine
        FROM e CROSS JOIN q2 WHERE e.vec_id <> q2.qid),
      br AS (SELECT qid, id FROM (
          SELECT qid, id, row_number() OVER (PARTITION BY qid
                 ORDER BY cosine DESC, id ASC) AS rank FROM bscored)
        WHERE rank <= 10),
      h AS (SELECT i.qid, count(*)::BIGINT AS n_hit
            FROM ivfr i JOIN br USING (qid, id) GROUP BY 1)
      SELECT q2.qid, coalesce(h.n_hit, 0)::BIGINT AS n_hit,
             coalesce(h.n_hit, 0)::DOUBLE / 10.0 AS recall_at_10
      FROM q2 LEFT JOIN h USING (qid) ORDER BY qid""",
    "sim_ivf_range" -> ivfRangeOracle(
      Similarity.fixedCentroids(16, 64), nProbe = 4, minCosine = 0.25),
    // every retriever replica nested as a subquery, each hoisted into a
    // MATERIALIZED CTE, hits counted against the one brute-force truth
    // ANN replica + document join: the serving-layer projection
    "sim_retrieval_e2e" -> s"""
      WITH ${ivfReplicaCtes(Similarity.fixedCentroids(16, 64), nProbe = 4,
                            dim = 64)},
      ranked AS (
        SELECT qid, id, cosine,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cosine DESC, id ASC) AS rank
        FROM scored),
      tk AS (SELECT qid, id, cosine, rank FROM ranked WHERE rank <= 10)
      SELECT tk.qid, tk.rank::INT AS rank, d.doc_id, d.lang,
             substr(d.text, 1, 40) AS snippet, tk.cosine
      FROM tk JOIN documents d ON tk.id = d.doc_id
      ORDER BY qid, rank""",
    "sim_recall_matrix" -> {
      val reps = Seq(
        "hamming" -> hammingOracleSql,
        "ivf" -> ivfReplicaOracle(Similarity.fixedCentroids(16, 64),
          nProbe = 4, k = 10),
        "lsh" -> lshReplicaOracle(bits = 8, probes = 2, k = 10),
        "matryoshka" -> matryoshkaOracleSql,
        "pq" -> pqReplicaOracle(Similarity.fixedCodebooks(8, 16, 8),
          k = 10, refine = 50),
        "rp" -> rpReplicaOracle(Similarity.fixedProjection(16, 64),
          k = 10, refine = 50))
      val ctes = (("bt" -> simTopkOracleSql) +: reps.map { case (l, sql) =>
        s"g_$l" -> sql
      }).map { case (n, sql) =>
        s"$n AS MATERIALIZED (SELECT qid, id FROM ($sql) t)"
      }.mkString(",\n      ")
      val rows = reps.map { case (l, _) => s"""
        SELECT '$l' AS method,
               (SELECT count(*) FROM g_$l)::BIGINT AS n_returned,
               (SELECT count(*) FROM g_$l JOIN bt USING (qid, id))::BIGINT AS n_hit,
               CASE WHEN (SELECT count(*) FROM bt) = 0 THEN NULL
                    ELSE (SELECT count(*) FROM g_$l JOIN bt USING (qid, id))::DOUBLE
                         / (SELECT count(*) FROM bt)::DOUBLE
               END AS recall"""
      }.mkString("\n        UNION ALL")
      s"""
      WITH $ctes
      $rows
      ORDER BY method"""
    },
    // all-nodes variant of the IVF replica: query predicate TRUE, so the
    // oracle replays assignment/probing/re-rank for every corpus vector
    "sim_knn_graph" -> s"""
      WITH ${ivfReplicaCtes(Similarity.fixedCentroids(16, 64), nProbe = 4,
                            dim = 64, queryPred = "TRUE")},
      ranked AS (
        SELECT qid AS src, id AS dst, cosine,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cosine DESC, id ASC) AS rank
        FROM scored)
      SELECT src, dst, cosine, rank::INT AS rank FROM ranked
      WHERE rank <= 5 ORDER BY src, rank""",
    // the sim_knn_graph replica thresholded into an undirected pair
    // relation, then DuckDB's native recursive reachability + min-id
    // labeling — the same composition the engine runs (IVF blocking →
    // k-NN cut → connected components → min-id survivor)
    "dedup_semantic_graph" -> s"""
      WITH RECURSIVE ${ivfReplicaCtes(Similarity.fixedCentroids(16, 64),
                                      nProbe = 4, dim = 64, queryPred = "TRUE")},
      ranked AS (
        SELECT qid AS src, id AS dst, cosine,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cosine DESC, id ASC) AS rank
        FROM scored),
      kp AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS id_a, greatest(src, dst) AS id_b
        FROM ranked WHERE rank <= 5 AND cosine >= 0.35::DOUBLE),
      eg AS (SELECT id_a AS src, id_b AS dst FROM kp
             UNION SELECT id_b, id_a FROM kp),
      reach AS (
        SELECT vec_id AS id, vec_id AS r FROM embeddings
        UNION
        SELECT eg.dst AS id, reach.r AS r FROM reach JOIN eg ON eg.src = reach.id)
      SELECT id AS vec_id, min(r) AS cluster_id,
             (CASE WHEN id = min(r) THEN 1 ELSE 0 END)::BIGINT AS is_survivor
      FROM reach GROUP BY id ORDER BY vec_id""",
    "sim_rp_topk" -> rpReplicaOracle(
      Similarity.fixedProjection(16, 64), k = 10, refine = 50),
    "sim_pq_topk" -> pqReplicaOracle(
      Similarity.fixedCodebooks(8, 16, 8), k = 10, refine = 50),
    "text_topk" -> {
      // the query string's 2-gram shingles, built with the SAME
      // normalization the engine applies, as a DuckDB list literal
      val qtoks = textTopKQuery.toLowerCase.replaceAll("[^a-z0-9\\s]", " ")
        .replaceAll("\\s+", " ").trim.split(" ").toSeq
      val qsh = (if (qtoks.size < 2) Seq(qtoks.mkString(" "))
                 else qtoks.sliding(2).map(_.mkString(" ")).toSeq).distinct
      val qlist = qsh.map(s => s"'$s'").mkString("[", ", ", "]")
      s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk)),
                         i -> array_to_string(list_slice(tk, i, i + 1), ' '))) END AS hs
        FROM toks),
      scored AS (
        SELECT doc_id AS id,
               len(list_intersect(hs, $qlist)) AS inter,
               len(hs) AS n, len($qlist) AS nq
        FROM sh)
      SELECT id, inter::DOUBLE / (n + nq - inter) AS jaccard
      FROM scored WHERE inter > 0
      ORDER BY jaccard DESC, id ASC LIMIT 10"""
    },
    "text_rollhash" -> s"""
      SELECT doc_id, $rollhashExprSql AS rollhash
      FROM documents ORDER BY doc_id""",
    // sql_functions: the SAME computations as their dedicated rows, but
    // issued through `spark.sql` against the extensions-registered
    // functions — what this row verifies is the REGISTRATION path
    // (GraftExtensions → FunctionRegistry → analysis-time literal checks),
    // end-to-end through the driver's gate
    "sql_functions" -> s"""
      WITH $qualityKeptCtes,
      shn AS (
        SELECT doc_id,
               CASE WHEN len($sqlToks) < 3 THEN 1::BIGINT
                    ELSE len(list_distinct(list_transform(
                           range(1, len($sqlToks) - 1),
                           i -> array_to_string(list_slice($sqlToks, i, i + 2), ' '))))::BIGINT
               END AS n_shingles
        FROM documents)
      SELECT d.doc_id, $rollhashExprSql AS rollhash,
             to_base64(encode(text)) AS b64,
             (quality >= 450 AND lang_pred IN ('en', 'fr')) AS keep_en_fr,
             n_shingles
      FROM documents d JOIN scored USING (doc_id) JOIN shn USING (doc_id)
      ORDER BY doc_id""",
    // dedup_spans: the oracle groups positional 10-gram windows by their
    // STRING (the engine groups by xxhash64 of it — identical partitioning
    // of positions absent a 64-bit collision), drops each window group's
    // globally-first occurrence, and merges overlapping windows per doc
    "dedup_spans" -> s"""
      WITH $sqlSpanCtes
      SELECT doc_id, start_tok, end_tok, n_windows
      FROM spans ORDER BY doc_id, start_tok""",
    // spans rolled up to per-source covered-token ppm — the
    // memorization-risk report over the same spans CTE
    "dedup_span_coverage" -> s"""
      WITH $sqlSpanCtes,
      sl AS (SELECT doc_id, sum(end_tok - start_tok)::BIGINT AS dup_toks
             FROM spans GROUP BY 1),
      dl AS (SELECT doc_id, len(tk)::BIGINT AS n_toks FROM toks),
      j AS (SELECT d.source, dl.n_toks,
                   coalesce(sl.dup_toks, 0)::BIGINT AS dup_toks
            FROM dl JOIN documents d USING (doc_id)
                 LEFT JOIN sl USING (doc_id))
      SELECT source, sum(n_toks)::BIGINT AS total_tokens,
             sum(dup_toks)::BIGINT AS dup_tokens,
             (sum(dup_toks) * 1000000 // sum(n_toks))::BIGINT AS coverage_ppm
      FROM j GROUP BY source ORDER BY source""",
    // span-cut application: the token-position complement of the spans CTE,
    // re-joined in position order — docs whose every token was cut (or that
    // had no spans) come back via the LEFT JOIN from toks
    "dedup_spans_applied" -> s"""
      WITH $sqlSpanCtes,
      pos AS (SELECT doc_id,
                unnest(list_transform(range(1, len(tk) + 1),
                  i -> {'pos': i - 1, 't': tk[i]})) AS u
              FROM toks),
      p AS (SELECT doc_id, (u.pos)::BIGINT AS pos, u.t AS tok FROM pos),
      kept AS (SELECT p.doc_id, p.pos, p.tok FROM p
               WHERE NOT EXISTS (SELECT 1 FROM spans s
                 WHERE s.doc_id = p.doc_id
                   AND p.pos >= s.start_tok AND p.pos < s.end_tok)),
      agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                     count(*)::BIGINT AS n_tokens_kept
              FROM kept GROUP BY doc_id)
      SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
             coalesce(a.n_tokens_kept, 0)::BIGINT AS n_tokens_kept,
             (len(t.tk) - coalesce(a.n_tokens_kept, 0))::BIGINT AS n_tokens_cut
      FROM toks t LEFT JOIN agg a USING (doc_id)
      ORDER BY doc_id""",
    // tf-idf with the non-log idf variant N/df: integer-valued doubles and
    // one exact-rounded division — bit-identical across engines (ln is not
    // correctly-rounded and could flip near-tie rankings)
    "text_tfidf" -> s"""
      WITH tr AS (SELECT doc_id, unnest($sqlToks) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tr GROUP BY 1, 2),
      dfr AS (SELECT term, count(*)::BIGINT AS df_docs FROM tf GROUP BY term),
      scored AS (
        SELECT doc_id, term, tf, df_docs,
               tf::DOUBLE * (SELECT count(*)::DOUBLE FROM documents)
                 / df_docs::DOUBLE AS score
        FROM tf JOIN dfr USING (term)),
      rk AS (SELECT *, row_number() OVER
               (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
             FROM scored)
      SELECT doc_id, term, tf, df_docs, score, rank::BIGINT AS rank
      FROM rk WHERE rank <= 5 ORDER BY doc_id, rank""",
    // commonness: BIGINT sums (order-free) + one exact-rounded division
    "text_commonness" -> s"""
      WITH tr AS (SELECT doc_id, unnest($sqlToks) AS term FROM documents),
      tc AS (SELECT term, count(*)::BIGINT AS term_freq FROM tr GROUP BY term)
      SELECT doc_id, count(*)::BIGINT AS n_tokens,
             sum(term_freq)::BIGINT AS sum_freq,
             sum(CASE WHEN term_freq = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
             sum(term_freq)::DOUBLE / count(*)::DOUBLE AS mean_freq
      FROM tr JOIN tc USING (term) GROUP BY doc_id ORDER BY doc_id""",
    "text_stats" -> s"""
      SELECT doc_id, len($sqlToks)::BIGINT AS n_words,
             len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_tokens_bpe,
             length(text)::BIGINT AS n_chars
      FROM documents ORDER BY doc_id""",
    "text_window_langid" -> s"""
      WITH t AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      st AS (SELECT doc_id, tk,
               unnest(range(0, (len(tk) - 1) // 25 + 1)) * 25 AS win_start
             FROM t),
      sc AS (SELECT doc_id, win_start::BIGINT AS win_start,
               ${langScoreSql("de", "list_slice(tk, win_start + 1, win_start + 50)")} AS s_de,
               ${langScoreSql("en", "list_slice(tk, win_start + 1, win_start + 50)")} AS s_en,
               ${langScoreSql("es", "list_slice(tk, win_start + 1, win_start + 50)")} AS s_es,
               ${langScoreSql("fr", "list_slice(tk, win_start + 1, win_start + 50)")} AS s_fr,
               ${langScoreSql("zh", "list_slice(tk, win_start + 1, win_start + 50)")} AS s_zh
             FROM st)
      SELECT doc_id, win_start, s_de, s_en, s_es, s_fr, s_zh,
             CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                    WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
                    WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                    WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                    WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                    ELSE 'de' END AS lang_win
      FROM sc ORDER BY doc_id, win_start""",
    "text_code_switch" -> s"""
      WITH t AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      ds0 AS (SELECT doc_id,
               ${langScoreSql("de")} AS s_de, ${langScoreSql("en")} AS s_en,
               ${langScoreSql("es")} AS s_es, ${langScoreSql("fr")} AS s_fr,
               ${langScoreSql("zh")} AS s_zh
             FROM documents),
      dl AS (SELECT doc_id, CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                    WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
                    WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                    WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                    WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                    ELSE 'de' END AS doc_lang_pred FROM ds0),
      st AS (SELECT doc_id, tk,
               unnest(range(0, (len(tk) - 1) // 25 + 1)) * 25 AS win_start
             FROM t),
      sc AS (SELECT doc_id,
               ${langScoreSql("de", "list_slice(tk, win_start + 1, win_start + 50)")} AS s_de,
               ${langScoreSql("en", "list_slice(tk, win_start + 1, win_start + 50)")} AS s_en,
               ${langScoreSql("es", "list_slice(tk, win_start + 1, win_start + 50)")} AS s_es,
               ${langScoreSql("fr", "list_slice(tk, win_start + 1, win_start + 50)")} AS s_fr,
               ${langScoreSql("zh", "list_slice(tk, win_start + 1, win_start + 50)")} AS s_zh
             FROM st),
      wl AS (SELECT doc_id, CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                    WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
                    WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                    WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                    WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                    ELSE 'de' END AS lang_win FROM sc)
      SELECT w.doc_id, d.doc_lang_pred, count(*)::BIGINT AS n_windows,
             sum(CASE WHEN w.lang_win <> d.doc_lang_pred
                       AND w.lang_win <> 'und' THEN 1 ELSE 0 END)::BIGINT
               AS n_minority,
             (sum(CASE WHEN w.lang_win <> d.doc_lang_pred
                        AND w.lang_win <> 'und' THEN 1 ELSE 0 END)
              * 1000000 // count(*))::BIGINT AS minority_ppm
      FROM wl w JOIN dl d USING (doc_id)
      GROUP BY w.doc_id, d.doc_lang_pred ORDER BY w.doc_id""",
    "text_langid" -> s"""
      WITH s AS (
        SELECT doc_id,
               ${langScoreSql("de")} AS s_de, ${langScoreSql("en")} AS s_en,
               ${langScoreSql("es")} AS s_es, ${langScoreSql("fr")} AS s_fr,
               ${langScoreSql("zh")} AS s_zh
        FROM documents)
      SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
             CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                  WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
                  WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                  WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                  WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                  ELSE 'de' END AS lang_pred
      FROM s ORDER BY doc_id""",
    "text_langid_confusion" -> s"""
      WITH s AS (
        SELECT lang,
               ${langScoreSql("de")} AS s_de, ${langScoreSql("en")} AS s_en,
               ${langScoreSql("es")} AS s_es, ${langScoreSql("fr")} AS s_fr,
               ${langScoreSql("zh")} AS s_zh
        FROM documents),
      p AS (
        SELECT lang,
               CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                    WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
                    WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                    WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                    WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                    ELSE 'de' END AS lang_pred
        FROM s),
      c AS (SELECT lang, lang_pred, count(*)::BIGINT AS n FROM p GROUP BY 1, 2)
      SELECT lang, lang_pred, n,
             n::DOUBLE / (sum(n) OVER (PARTITION BY lang))::DOUBLE AS recall
      FROM c ORDER BY lang, lang_pred""",
    "text_quality" -> s"""
      WITH c AS (
        SELECT doc_id, length(text)::BIGINT AS n_chars_m,
               len($sqlToks)::BIGINT AS n_tokens,
               CASE WHEN len($sqlToks) > 0 THEN
                 floor(list_aggregate(list_transform($sqlToks, x -> len(x)), 'sum') * 1000.0 / len($sqlToks))::BIGINT
               ELSE 0 END AS mean_word_len_pm,
               CASE WHEN length(text) > 0 THEN
                 floor(len(regexp_extract_all(text, '[.,;:!?]')) * 1000.0 / length(text))::BIGINT
               ELSE 0 END AS punct_pm,
               ${langScoreSql("en")} AS stop_hits
        FROM documents)
      SELECT doc_id, n_chars_m, n_tokens, mean_word_len_pm, punct_pm, stop_hits,
             (least(n_tokens, 200) * 2 +
              CASE WHEN punct_pm <= 80 THEN 300 ELSE 100 END +
              least(stop_hits * 30, 300))::BIGINT AS quality
      FROM c ORDER BY doc_id""",
    "text_fingerprint" -> """
      SELECT doc_id,
             md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fingerprint
      FROM documents ORDER BY doc_id""",
    // two independent UAX #15 implementations (java.text.Normalizer vs
    // DuckDB's utf8proc) hash-compared on doctored combining marks; the
    // engine's NFKC is checked against the identity NFKC(ligatured) ==
    // NFC(unligatured) — the only compatibility chars present are the
    // spliced U+FB01s, whose fold the replace() un-does exactly
    "text_normalize_unicode" -> """
      WITH d AS (SELECT doc_id, replace(text, 'e', 'e' || chr(769)) AS raw
                 FROM documents)
      SELECT doc_id, nfc_normalize(raw) AS nfc_text,
             length(raw)::INT AS raw_len,
             length(nfc_normalize(raw))::INT AS nfc_len,
             nfc_normalize(raw) AS nfkc_text
      FROM d ORDER BY doc_id""",
    "text_sentences" -> """
      WITH d AS (SELECT doc_id,
             replace(replace(replace(text,
               ' agg ', ' agg. '), ' table ', ' table!! '),
               ' query ', ' query? ') AS text
           FROM documents),
      s AS (SELECT doc_id,
             regexp_replace(text, '([.!?]+) +', '\1' || chr(1), 'g') AS m
           FROM d),
      l AS (SELECT doc_id,
              list_filter(list_transform(string_split(m, chr(1)),
                x -> trim(x)), x -> x <> '') AS ss
            FROM s),
      ix AS (SELECT doc_id, ss, unnest(range(0, len(ss))) AS i FROM l)
      SELECT doc_id, i AS sent_idx, ss[i+1] AS sentence,
             length(ss[i+1])::INT AS n_chars,
             len(string_split_regex(ss[i+1], ' +'))::INT AS n_words
      FROM ix ORDER BY doc_id, sent_idx""",
    "q_table_profile" -> """
      WITH base AS MATERIALIZED (SELECT l_orderkey,
             (l_quantity::DECIMAL(18,2) * 100)::BIGINT AS l_quantity_cents,
             strftime(l_shipdate, '%Y-%m-%d') AS l_shipdate_s,
             l_returnflag,
             CASE WHEN l_linenumber > 4 THEN NULL
                  ELSE l_returnflag END AS rf_sparse
           FROM lineitem)
      SELECT 'l_orderkey' AS "column", count(*)::BIGINT AS n_rows,
             count(CASE WHEN l_orderkey IS NULL THEN 1 END)::BIGINT AS n_nulls,
             count(DISTINCT l_orderkey)::BIGINT AS n_distinct,
             min(l_orderkey)::VARCHAR AS min_str,
             max(l_orderkey)::VARCHAR AS max_str
      FROM base
      UNION ALL
      SELECT 'l_quantity_cents', count(*)::BIGINT,
             count(CASE WHEN l_quantity_cents IS NULL THEN 1 END)::BIGINT,
             count(DISTINCT l_quantity_cents)::BIGINT,
             min(l_quantity_cents)::VARCHAR, max(l_quantity_cents)::VARCHAR
      FROM base
      UNION ALL
      SELECT 'l_shipdate_s', count(*)::BIGINT,
             count(CASE WHEN l_shipdate_s IS NULL THEN 1 END)::BIGINT,
             count(DISTINCT l_shipdate_s)::BIGINT,
             min(l_shipdate_s), max(l_shipdate_s)
      FROM base
      UNION ALL
      SELECT 'l_returnflag', count(*)::BIGINT,
             count(CASE WHEN l_returnflag IS NULL THEN 1 END)::BIGINT,
             count(DISTINCT l_returnflag)::BIGINT,
             min(l_returnflag), max(l_returnflag)
      FROM base
      UNION ALL
      SELECT 'rf_sparse', count(*)::BIGINT,
             count(CASE WHEN rf_sparse IS NULL THEN 1 END)::BIGINT,
             count(DISTINCT rf_sparse)::BIGINT,
             min(rf_sparse), max(rf_sparse)
      FROM base
      ORDER BY "column"""",
    "text_html_extract" -> """
      WITH h AS (SELECT doc_id,
        '<html><head><title>doc </title><style>p{color:red}</style></head><body onload="x()"><h1>' ||
        lang || '</h1>' || chr(10) || '<p>' ||
        replace(text, ' and ', ' &amp; ') ||
        '</p><script type="text/javascript">if (1 < 2) { emit("&amp;"); }</script></body></html>' AS html
        FROM documents),
      s1 AS (SELECT doc_id, regexp_replace(html,
               '(?is)<(script|style)[^>]*>.*?</(script|style)[ \t\n\f\r]*>', ' ', 'g') AS x FROM h),
      s2 AS (SELECT doc_id, regexp_replace(x, '(?s)<[^>]*>', ' ', 'g') AS x FROM s1),
      s3 AS (SELECT doc_id,
               replace(replace(replace(replace(replace(replace(x,
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
                 '&nbsp;', ' '), '&amp;', '&') AS x FROM s2),
      res AS (SELECT doc_id,
                trim(regexp_replace(x, '[ \t\n\r]+', ' ', 'g')) AS clean_text
              FROM s3)
      SELECT doc_id, clean_text, length(clean_text)::INT AS clean_len
      FROM res ORDER BY doc_id""",
    "text_token_report" -> s"""
      SELECT lang, count(*)::BIGINT AS n_docs,
             sum(len($sqlToks))::BIGINT AS total_words,
             sum(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')))::BIGINT AS total_tokens_bpe,
             sum(length(text))::BIGINT AS total_chars
      FROM documents GROUP BY lang ORDER BY lang""",
    "curation_split" -> {
      val b0 = OracleXX.xxh64LongPmod("doc_id", 1000000L)
      val seed7 = java.lang.Long.toUnsignedString(
        org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(7L, 42L))
      val b7 = OracleXX.xxh64LongPmod("doc_id", 1000000L, seed = seed7)
      s"""
      SELECT doc_id,
             CASE WHEN $b0 < 800000 THEN 'train'
                  WHEN $b0 < 900000 THEN 'val'
                  ELSE 'test' END AS split,
             ($b7 < 100000) AS in_sample
      FROM documents ORDER BY doc_id"""
    },
    // integer interval arithmetic over the naive window prefix sum (the
    // oracle runs single-node; the ENGINE side is the two-pass shape)
    "curation_systematic" -> """
      WITH t AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS w
        FROM documents),
      c AS (SELECT doc_id, w,
              coalesce(sum(w) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS "offset"
            FROM t),
      tot AS (SELECT sum(w)::BIGINT AS total FROM t),
      sel AS (SELECT doc_id, w, "offset",
                (("offset" * 100 + total - 1) // total)::BIGINT AS lo_j,
                ((("offset" + w) * 100 - 1) // total)::BIGINT AS hi_j
              FROM c CROSS JOIN tot WHERE w > 0 AND total > 0)
      SELECT doc_id, w AS weight, "offset", (hi_j - lo_j + 1)::BIGINT AS n_slots
      FROM sel WHERE hi_j >= lo_j ORDER BY doc_id""",
    "curation_stratified" -> {
      val b0 = OracleXX.xxh64LongPmod("doc_id", 1000000L)
      s"""
      SELECT doc_id, lang FROM documents
      WHERE $b0 < CASE WHEN lang = 'en' THEN 300000
                       WHEN lang = 'fr' THEN 500000
                       ELSE 1000000 END
      ORDER BY doc_id"""
    },
    // line dedup: first-occurrence = min (page_id, pos), encoded as
    // page_id*1e6+pos (positions are tiny here; the engine compares the
    // struct directly); dedup keys are the NORMALIZED line strings —
    // grouping by string is collision-free, the engine's xxhash64 grouping
    // agrees on any corpus without a 64-bit collision
    // intra-doc twin: first occurrence per (page, norm) survives, empties
    // always kept; the repeated banner arrives in the other case variant
    // so the cut proves the normalized compare
    "dedup_lines_intra" -> s"""
      WITH body AS (SELECT (doc_id // 5) AS page_id,
                           string_agg(text, chr(10) ORDER BY doc_id) AS body
                    FROM documents GROUP BY 1),
      pages AS (SELECT page_id,
                  (CASE WHEN page_id % 2 = 0 THEN 'Cookie Notice: ACCEPT!'
                        ELSE 'cookie notice accept' END)
                  || chr(10) || '' || chr(10) || body
                  || chr(10) || 'subscribe to the newsletter'
                  || chr(10) ||
                  (CASE WHEN page_id % 2 = 0 THEN 'cookie notice accept'
                        ELSE 'Cookie Notice: ACCEPT!' END)
                  || chr(10) || 'Subscribe, NOW!' AS page_text
                FROM body),
      l AS (SELECT page_id, string_split(page_text, chr(10)) AS ls FROM pages),
      e AS (SELECT page_id, ls, unnest(list_transform(range(1, len(ls) + 1),
              i -> {'pos': i - 1, 'line': ls[i]})) AS u
            FROM l),
      p AS (SELECT page_id, (u.pos)::BIGINT AS pos, u.line AS line,
              trim(regexp_replace(regexp_replace(lower(u.line), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm
            FROM e),
      cuts AS (SELECT page_id, pos FROM (
                 SELECT page_id, pos,
                        row_number() OVER (PARTITION BY page_id, norm
                                           ORDER BY pos) AS rn
                 FROM p WHERE norm <> '') WHERE rn > 1),
      kept AS (SELECT p.page_id, p.pos, p.line FROM p
               WHERE NOT EXISTS (SELECT 1 FROM cuts c
                 WHERE c.page_id = p.page_id AND c.pos = p.pos)),
      agg AS (SELECT page_id,
                     string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                     count(*)::BIGINT AS n_lines_kept
              FROM kept GROUP BY page_id)
      SELECT l.page_id, coalesce(a.clean_text, '') AS clean_text,
             coalesce(a.n_lines_kept, 0)::BIGINT AS n_lines_kept,
             (len(l.ls) - coalesce(a.n_lines_kept, 0))::BIGINT AS n_lines_cut
      FROM l LEFT JOIN agg a USING (page_id)
      ORDER BY page_id""",
    "dedup_lines" -> s"""
      WITH body AS (SELECT (doc_id // 5) AS page_id,
                           string_agg(text, chr(10) ORDER BY doc_id) AS body
                    FROM documents GROUP BY 1),
      pages AS (SELECT page_id,
                  (CASE WHEN page_id % 2 = 0 THEN 'Cookie Notice: ACCEPT!'
                        ELSE 'cookie notice accept' END)
                  || chr(10) || '' || chr(10) || body
                  || chr(10) || 'subscribe to the newsletter' AS page_text
                FROM body),
      l AS (SELECT page_id, string_split(page_text, chr(10)) AS ls FROM pages),
      e AS (SELECT page_id, ls, unnest(list_transform(range(1, len(ls) + 1),
              i -> {'pos': i - 1, 'line': ls[i]})) AS u
            FROM l),
      p AS (SELECT page_id, (u.pos)::BIGINT AS pos, u.line AS line,
              trim(regexp_replace(regexp_replace(lower(u.line), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm
            FROM e),
      nz AS (SELECT * FROM p WHERE norm <> ''),
      firsts AS (SELECT norm, count(*)::BIGINT AS cnt,
                        min(page_id * 1000000 + pos) AS firstkey
                 FROM nz GROUP BY norm),
      cuts AS (SELECT page_id, pos FROM nz JOIN firsts USING (norm)
               WHERE cnt >= 2 AND page_id * 1000000 + pos <> firstkey),
      kept AS (SELECT p.page_id, p.pos, p.line FROM p
               WHERE NOT EXISTS (SELECT 1 FROM cuts c
                 WHERE c.page_id = p.page_id AND c.pos = p.pos)),
      agg AS (SELECT page_id,
                     string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                     count(*)::BIGINT AS n_lines_kept
              FROM kept GROUP BY page_id)
      SELECT l.page_id, coalesce(a.clean_text, '') AS clean_text,
             coalesce(a.n_lines_kept, 0)::BIGINT AS n_lines_kept,
             (len(l.ls) - coalesce(a.n_lines_kept, 0))::BIGINT AS n_lines_cut
      FROM l LEFT JOIN agg a USING (page_id)
      ORDER BY page_id""",
    "dedup_boilerplate" -> s"""
      WITH body AS (SELECT source, (doc_id // 5) AS bucket,
                           min(doc_id) AS page_id,
                           string_agg(text, chr(10) ORDER BY doc_id) AS body
                    FROM documents GROUP BY source, bucket),
      pages AS (SELECT page_id, source,
                  'Visit ' || source || ' for the best content' || chr(10)
                  || body || chr(10)
                  || (CASE WHEN bucket % 5 = 0 THEN 'ref code ' || bucket
                           ELSE 'subscribe to the newsletter' END) AS page_text
                FROM body),
      l AS (SELECT page_id, source, string_split(page_text, chr(10)) AS ls
            FROM pages),
      e AS (SELECT page_id, source, ls,
                   unnest(list_transform(range(1, len(ls) + 1),
                     i -> {'pos': i - 1, 'line': ls[i]})) AS u
            FROM l),
      p AS (SELECT page_id, source, (u.pos)::BIGINT AS pos, u.line AS line,
              trim(regexp_replace(regexp_replace(lower(u.line), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm
            FROM e),
      nz AS (SELECT * FROM p WHERE norm <> ''),
      bp AS (SELECT source, norm FROM (
               SELECT source, norm, count(DISTINCT page_id) AS docs
               FROM nz GROUP BY source, norm) WHERE docs >= 3),
      cuts AS (SELECT page_id, pos FROM nz JOIN bp USING (source, norm)),
      kept AS (SELECT p.page_id, p.pos, p.line FROM p
               WHERE NOT EXISTS (SELECT 1 FROM cuts c
                 WHERE c.page_id = p.page_id AND c.pos = p.pos)),
      agg AS (SELECT page_id,
                     string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                     count(*)::BIGINT AS n_lines_kept
              FROM kept GROUP BY page_id)
      SELECT l.page_id, coalesce(a.clean_text, '') AS clean_text,
             coalesce(a.n_lines_kept, 0)::BIGINT AS n_lines_kept,
             (len(l.ls) - coalesce(a.n_lines_kept, 0))::BIGINT AS n_lines_cut
      FROM l LEFT JOIN agg a USING (page_id)
      ORDER BY page_id""",
    // snapshot diff: both sides' membership and the mutation replay on
    // seeded XXH64 bucket replicas; fingerprints are md5 of the exact
    // (coalesced) text on both engines
    "curation_snapshot_diff" -> {
      def seeded(seed: Long) = OracleXX.xxh64LongPmod("doc_id", 1000000L,
        seed = java.lang.Long.toUnsignedString(
          org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(seed, 42L)))
      val (b3, b5, b9) = (seeded(3L), seeded(5L), seeded(9L))
      s"""
      WITH o AS (SELECT doc_id, md5(coalesce(text, '')) AS old_fp
                 FROM documents WHERE $b3 < 800000),
      n AS (SELECT doc_id,
              md5(coalesce(CASE WHEN $b9 < 300000 THEN text || ' updated'
                                ELSE text END, '')) AS new_fp
            FROM documents WHERE $b5 < 800000)
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN o.old_fp = n.new_fp THEN 'unchanged'
                  ELSE 'changed' END AS status,
             o.old_fp AS old_fp, n.new_fp AS new_fp
      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
      ORDER BY doc_id"""
    },
    // weighted sampling: the per-row ppm threshold is the quality score
    // (integer arithmetic, shared with text_quality) scaled and clamped —
    // the keep decision replays on the XXH64 bucket replica
    "curation_weighted" -> {
      val b0 = OracleXX.xxh64LongPmod("doc_id", 1000000L)
      s"""
      WITH c AS (
        SELECT doc_id, len($sqlToks)::BIGINT AS n_tokens,
               CASE WHEN length(text) > 0 THEN
                 floor(len(regexp_extract_all(text, '[.,;:!?]')) * 1000.0 / length(text))::BIGINT
               ELSE 0 END AS punct_pm,
               ${langScoreSql("en")} AS stop_hits
        FROM documents),
      q AS (SELECT doc_id,
              (least(n_tokens, 200) * 2 +
               CASE WHEN punct_pm <= 80 THEN 300 ELSE 100 END +
               least(stop_hits * 30, 300))::BIGINT AS quality
            FROM c)
      SELECT d.doc_id, q.quality,
             least(q.quality * 1200, 1000000)::BIGINT AS rate_ppm
      FROM documents d JOIN q USING (doc_id)
      WHERE $b0 < least(q.quality * 1200, 1000000)
      ORDER BY d.doc_id"""
    },
    // temperature mixture: rate_ppm = floor(T*sqrt(c)/S/c*1e6) with the
    // weight sum S folded in domain-name order — every double op is IEEE
    // raw signed xxhash64 order + explicit floor-div shard (both engines'
    // native integer division truncates toward zero, so the correction
    // term is spelled out identically on both sides)
    "curation_order" -> {
      val h = OracleXX.xxh64LongSigned("doc_id")
      s"""
      WITH h AS (SELECT doc_id, source, ($h) AS ord FROM documents)
      SELECT doc_id, source, ord,
             (ord // 288230376151711744 -
              (CASE WHEN ord % 288230376151711744 < 0 THEN 1 ELSE 0 END)
              + 32)::BIGINT AS shard
      FROM h ORDER BY ord"""
    },
    // per-source rank window + the closed-form round-robin position
    // (Σ min(c_s', r-1) + tie count) — see Sampling.interleaveBySource
    "curation_interleave" -> {
      val h = OracleXX.xxh64LongSigned("doc_id")
      s"""
      WITH h AS (SELECT doc_id, source, ($h) AS ord FROM documents),
      r AS (SELECT doc_id, source,
              row_number() OVER (PARTITION BY source
                                 ORDER BY ord, doc_id)::BIGINT AS rank_in_source
            FROM h),
      c AS MATERIALIZED (SELECT source, count(*)::BIGINT AS c
                         FROM documents GROUP BY 1)
      SELECT r.doc_id, r.source, r.rank_in_source,
             (1 + (SELECT sum(least(c.c, r.rank_in_source - 1)) FROM c)
                + (SELECT count(*) FROM c
                   WHERE c.source < r.source
                     AND c.c >= r.rank_in_source))::BIGINT AS pos
      FROM r ORDER BY pos"""
    },
    // the planner's float steps mirror temperatureMixture's determinism
    // contract (sqrt + left-assoc div chain + name-ordered sequential sum);
    // the epoch/planned columns are pure integer arithmetic on both engines
    "curation_epoch_plan" -> s"""
      WITH toks AS (SELECT source, len($sqlToks)::BIGINT AS tk FROM documents),
      cnt AS (SELECT source, count(*)::BIGINT AS n_docs,
                     sum(tk)::BIGINT AS avail
              FROM toks GROUP BY source),
      tot AS (SELECT list_aggregate(list(sqrt(avail::DOUBLE) ORDER BY source),
                                    'sum') AS sw FROM cnt),
      base AS (SELECT source, n_docs, avail,
                 floor(sqrt(avail::DOUBLE) / (SELECT sw FROM tot)
                       * 1000000.0)::BIGINT AS weight_ppm,
                 floor(100000::DOUBLE * sqrt(avail::DOUBLE)
                       / (SELECT sw FROM tot))::BIGINT AS target
               FROM cnt),
      ep AS (SELECT *, least(4000, (1000 * target) // avail)::BIGINT
                         AS epochs_milli FROM base)
      SELECT source, n_docs, avail AS avail_tokens, weight_ppm,
             target AS target_tokens, epochs_milli,
             ((avail * epochs_milli) // 1000)::BIGINT AS planned_tokens
      FROM ep ORDER BY source""",
    // exact-rounded (sqrt, left-assoc mul/div chain, sequential list sum),
    // so the engine's Scala arithmetic and this SQL agree bit-for-bit
    "curation_mixture" -> {
      val b0 = OracleXX.xxh64LongPmod("doc_id", 1000000L)
      s"""
      WITH cnt AS (SELECT source, count(*)::BIGINT AS c
                   FROM documents GROUP BY source),
      tot AS (SELECT list_aggregate(list(sqrt(c::DOUBLE) ORDER BY source),
                                    'sum') AS sw FROM cnt),
      rates AS (SELECT source, c AS group_rows,
                  least(1000000, floor(250::DOUBLE * sqrt(c::DOUBLE)
                    / (SELECT sw FROM tot) / c::DOUBLE * 1000000.0)::BIGINT)
                    AS rate_ppm
                FROM cnt)
      SELECT d.doc_id, d.source, r.group_rows, r.rate_ppm
      FROM documents d JOIN rates r USING (source)
      WHERE $b0 < r.rate_ppm
      ORDER BY d.doc_id"""
    },
    // the QA report's quantized-norm columns reuse the kmeans/pq
    // floor(x·2^10) contract, so min/max/sum are BIGINT-exact here too
    "sim_embed_qa" -> """
      WITH e AS (SELECT label, embedding AS v FROM embeddings),
      f AS (SELECT label,
              (v IS NULL) AS is_null,
              (v IS NOT NULL AND len(v) != 64) AS bad_dim,
              (v IS NOT NULL AND len(v) = 64 AND
               len(list_filter(v, x -> x IS NULL OR isnan(x) OR isinf(x))) > 0) AS nonfin,
              CASE WHEN v IS NOT NULL AND len(v) = 64 AND
                        len(list_filter(v, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
                   THEN len(list_filter(v, x -> x != 0)) = 0
                   ELSE FALSE END AS is_zero,
              CASE WHEN v IS NOT NULL AND len(v) = 64 AND
                        len(list_filter(v, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
                   THEN list_sum(list_transform(v, x ->
                          (floor(x::DOUBLE * 1024))::BIGINT *
                          (floor(x::DOUBLE * 1024))::BIGINT))::BIGINT
              END AS q2
            FROM e)
      SELECT label, count(*)::BIGINT AS n_vecs,
             sum(CASE WHEN is_null THEN 1 ELSE 0 END)::BIGINT AS n_null,
             sum(CASE WHEN bad_dim THEN 1 ELSE 0 END)::BIGINT AS n_bad_dim,
             sum(CASE WHEN nonfin THEN 1 ELSE 0 END)::BIGINT AS n_nonfinite,
             sum(CASE WHEN is_zero THEN 1 ELSE 0 END)::BIGINT AS n_zero,
             min(q2) AS q2_min, max(q2) AS q2_max, sum(q2)::BIGINT AS q2_sum
      FROM f GROUP BY 1 ORDER BY label""",
    "sim_kmeans" -> s"""${kmeansCtes(k = 8, iters = 3)}
      SELECT vec_id, cl AS cluster, dist FROM fin ORDER BY vec_id""",
    // composition: the kmeans chain + the per-group cap replayed on top
    "curation_embed_balance" -> s"""${kmeansCtes(k = 8, iters = 3)}
      SELECT vec_id, cluster, dist, group_rank FROM (
        SELECT vec_id, cl AS cluster, dist,
               (row_number() OVER (PARTITION BY cl
                  ORDER BY dist ASC, vec_id ASC))::BIGINT AS group_rank
        FROM fin)
      WHERE group_rank <= 40 ORDER BY vec_id""",
    // winnowing: the hash VALUES drive the min-selection, so the oracle
    // must replicate XXH64 (unlike the grouping-invariant rows); unsigned
    // HUGEINT hashes convert back to signed BIGINT before comparing
    "text_bpe_merges" -> bpeOracle(numMerges = 8),
    "text_unigram_lm" -> unigramLmOracle(vocabSize = 48, maxPieceLen = 6,
      maxWordLen = 12, emIters = 2),
    "text_unigram_apply" -> unigramApplyOracle(vocabSize = 48,
      maxPieceLen = 6, maxWordLen = 12, emIters = 2),
    "text_tokenizer_compare" -> tokenizerCompareOracle(numMerges = 8,
      vocabSize = 48, maxPieceLen = 6, maxWordLen = 12, emIters = 2),
    "text_heavy_hitters" -> OracleXX.cmsOracle(depth = 4, width = 32,
                                               minCount = 100L),
    // the streaming sketch twin must land on the identical report
    "stream_heavy_hitters" -> OracleXX.cmsOracle(depth = 4, width = 32,
                                                 minCount = 100L),
    "text_hll_cardinality" -> OracleXX.hllOracle(p = 8),
    "text_hll_rollup" -> OracleXX.hllRollupOracle(p = 8),
    // bottom-k quantile sketch: the k smallest signed-mix64(doc_id) rows
    // per lang are the sample; both arms pick the value at 1-based rank
    // floor(q·(n−1))+1 (one IEEE multiply on exact integer operands).
    // The streaming twin aggregates the SAME buffer under the state store
    // → same oracle (batch/stream parity, like stream_bloom_sketch).
    "text_length_sketch" -> lengthSketchOracle(k = 256),
    "stream_length_sketch" -> lengthSketchOracle(k = 256),
    // union-truncate of per-(lang, source) bottom-k sketches equals the
    // per-lang bottom-k directly (any pair among the k smallest of its
    // lang is among the k smallest of its own source subset), so the
    // oracle computes ONE sample and pins both fingerprints to it
    "text_length_sketch_rollup" -> lengthSketchRollupOracle(k = 256),
    // the windowed streaming twin: per event hour, the k smallest
    // signed-mix64(event_id) rows sample value cents; both arms use the
    // shared lower-interpolation rank rule
    "stream_hourly_value_sketch" -> s"""
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
      FROM sq JOIN eq USING (hour) ORDER BY hour""",
    "text_hll_intersect" -> OracleXX.hllIntersectOracle(p = 8),
    "text_bloom_sketch" -> OracleXX.bloomSketchOracle(numBits = 262144, numHashes = 5),
    "stream_bloom_sketch" -> OracleXX.bloomSketchOracle(numBits = 262144, numHashes = 5),
    "text_bloom_decontaminate" -> OracleXX.bloomDecontaminateOracle(numBits = 65536, numHashes = 7),
    // live streaming sketch must land on the batch gate's exact bytes
    "stream_hll_cardinality" -> OracleXX.hllOracle(p = 8),
    "events_dau_hll" -> OracleXX.hllDauOracle(p = 8),
    "stream_hourly_hll" -> OracleXX.hllUserBucketOracle(p = 8,
      bucketMs = 3600000L, alias = "hour"),
    "events_hourly_profile" -> """
      WITH c AS (
        SELECT (epoch_ms(ts) // 3600000) % 24 AS hour, event_type,
               count(*)::BIGINT AS n
        FROM events GROUP BY 1, 2)
      SELECT hour, event_type, n,
             n::DOUBLE / (sum(n) OVER (PARTITION BY event_type))::DOUBLE AS share
      FROM c ORDER BY hour, event_type""",
    "graph_pagerank" -> pagerankOracle(iters = 5),
    "graph_hits" -> hitsOracle(rounds = 4),
    "graph_bfs" -> bfsOracle(maxHops = 4),
    "graph_ppr" -> pprOracle(iters = 5),
    "graph_landmark_est" -> landmarkOracle(maxHops = 3),
    // first/last preceding touch via IGNORE NULLS window scans over the
    // same (ts, event_id) total order; credit in exact cents; full outer
    // across the two rollups (a type can be first-touch yet never last)
    "events_attribution" -> attributionOracle,
    // per-user aggregate + fixed-cut scoring; recency scores DOWN, the
    // corpus max rides a cross join exactly like the engine's broadcast
    "events_rfm" -> """
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
      FROM s2 ORDER BY user_id""",
    // the LIVE stateful fold must reproduce the batch report bit-exactly
    "stream_attribution" -> attributionOracle,
    // live twin gated against the SAME triangle oracle as the batch op
    "stream_cohort_ltv" -> cohortLtvOracleSql,
    // the engine's shiftright(x, 1) is floor division by 2 — identical to
    // DuckDB's BIGINT `>> 1` on negatives too (its `//` TRUNCATES), so the
    // CTE replays the integer Holt recurrence bit-exactly
    "events_holt" -> """
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
      ORDER BY f.event_type""",
    // same recurrence with error accumulators: one-step forecast l+b is
    // read BEFORE folding the bucket in; naive error uses the carried
    // previous value — both at the identical 2^20 fixed point
    "events_forecast_eval" -> """
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
      ORDER BY f.event_type""",
    "events_cusum" -> cusumOracleSql("sum(y) * 1048576 // count(*)"),
    // live twin against the fixed 3-events/hour baseline (3 << 20)
    "stream_cusum" -> cusumOracleSql("3145728"),
    // first-seen weekly cohorts, sparse (cohort, age) revenue cells,
    // per-cohort running sum; // and DIV truncate identically
    "events_cohort_ltv" -> cohortLtvOracleSql,
    // hash-assigned arms; doubled midrank = 2*(strictly-less count) +
    // ties + 1 via one ordered window over DISTINCT revenue values;
    // u2 = sum(r2) - n(n+1)
    "events_ab_test" -> {
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
    },
    // sketch candidates + exact capped-weight verification
    "dedup_weighted_minhash_verified" -> s"""
      WITH ${OracleXX.weightedMinhashAgreeCtes(128, 16, capW = 8)},
      cnd AS (SELECT id_a, id_b FROM ag WHERE agree::DOUBLE / 128 >= 0.3),
      wp2 AS MATERIALIZED (
        SELECT doc_id, s, least((SELECT n FROM ndw) // dfh, 8)::BIGINT AS w
        FROM shr JOIN dfq USING (s)),
      dw AS (SELECT doc_id, sum(w)::BIGINT AS wt FROM wp2 GROUP BY 1),
      shw AS (SELECT c.id_a, c.id_b, sum(a.w)::BIGINT AS shared_w
              FROM cnd c
              JOIN wp2 a ON a.doc_id = c.id_a
              JOIN wp2 b ON b.doc_id = c.id_b AND b.s = a.s
              GROUP BY 1, 2)
      SELECT s1.id_a, s1.id_b, s1.shared_w,
             s1.shared_w::DOUBLE / (wa.wt + wb.wt - s1.shared_w)::DOUBLE
               AS wjaccard
      FROM shw s1 JOIN dw wa ON s1.id_a = wa.doc_id
                  JOIN dw wb ON s1.id_b = wb.doc_id
      WHERE s1.shared_w::DOUBLE / (wa.wt + wb.wt - s1.shared_w)::DOUBLE >= 0.4
      ORDER BY id_a, id_b""",
    // weighted-minhash sketch: multiset expansion + the banded chain
    "dedup_weighted_minhash" -> s"""
      WITH ${OracleXX.weightedMinhashAgreeCtes(128, 16, capW = 8)}
      SELECT id_a, id_b, agree::DOUBLE / 128 AS est_wjaccard
      FROM ag WHERE agree::DOUBLE / 128 >= 0.4
      ORDER BY id_a, id_b""",
    // two-pass SNM: union of the rank chains keyed at char offsets 1 and
    // 17, deduplicated on the pair
    "dedup_snm_multipass" -> s"""
      WITH nrm AS (SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS t
             FROM documents),
      tk AS (SELECT doc_id, substr(t, 1, 24) AS k0, substr(t, 17, 24) AS k1,
               string_split(t, ' ') AS tks FROM nrm),
      sh AS (SELECT doc_id, k0, k1,
               CASE WHEN len(tks) < 3 THEN [array_to_string(tks, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tks) - 1),
                         i -> array_to_string(list_slice(tks, i, i + 2), ' '))) END AS hs
             FROM tk),
      r0 AS (SELECT doc_id, hs, len(hs)::BIGINT AS n,
               row_number() OVER (ORDER BY k0, doc_id) - 1 AS rank FROM sh),
      r1 AS (SELECT doc_id, hs, len(hs)::BIGINT AS n,
               row_number() OVER (ORDER BY k1, doc_id) - 1 AS rank FROM sh),
      cand AS (
        SELECT a.doc_id AS da, b.doc_id AS db,
               len(list_intersect(a.hs, b.hs))::BIGINT AS inter,
               a.n AS na, b.n AS nb
        FROM r0 a JOIN r0 b ON b.rank > a.rank AND b.rank - a.rank <= 8
        UNION ALL
        SELECT a.doc_id, b.doc_id,
               len(list_intersect(a.hs, b.hs))::BIGINT,
               a.n, b.n
        FROM r1 a JOIN r1 b ON b.rank > a.rank AND b.rank - a.rank <= 8)
      SELECT DISTINCT least(da, db) AS id_a, greatest(da, db) AS id_b,
             inter::DOUBLE / (na + nb - inter)::DOUBLE AS jaccard
      FROM cand
      WHERE inter::DOUBLE / (na + nb - inter)::DOUBLE >= 0.3::DOUBLE
      ORDER BY id_a, id_b""",
    // discrete type-1 percentile bounds (a member value -> all-BIGINT
    // clamp and sums); floor((n-1)*p) is one exact-rounded product
    "events_winsorized" -> """
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
      GROUP BY 1 ORDER BY 1""",
    // df over the shingle posting table; novelty = unique fraction ppm
    "text_novelty" -> s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      sh AS (SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
             FROM toks),
      posting AS (SELECT doc_id, unnest(hs) AS h FROM sh),
      dfreq AS (SELECT h, count(*)::BIGINT AS dfh FROM posting GROUP BY 1)
      SELECT doc_id, count(*)::BIGINT AS n_shingles,
             sum(CASE WHEN dfh = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
             ((sum(CASE WHEN dfh = 1 THEN 1 ELSE 0 END) * 1000000)
               // count(*))::BIGINT AS novelty_ppm
      FROM posting JOIN dfreq USING (h)
      GROUP BY doc_id ORDER BY doc_id""",
    // SNM: global (normalized-prefix, id) rank, candidates within the
    // rank window, exact-Jaccard verify on shingle STRINGS (count-multiset
    // invariance vs the engine's 64-bit hashes, as everywhere)
    "dedup_sorted_neighborhood" -> s"""
      WITH nrm AS (SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS t
             FROM documents),
      tk AS (SELECT doc_id, substr(t, 1, 24) AS k,
               string_split(t, ' ') AS tks FROM nrm),
      sh AS (SELECT doc_id, k,
               CASE WHEN len(tks) < 3 THEN [array_to_string(tks, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tks) - 1),
                         i -> array_to_string(list_slice(tks, i, i + 2), ' '))) END AS hs
             FROM tk),
      rk AS (SELECT doc_id, hs, len(hs)::BIGINT AS n,
               row_number() OVER (ORDER BY k, doc_id) - 1 AS rank FROM sh),
      cand AS (SELECT a.doc_id AS da, b.doc_id AS db,
                 len(list_intersect(a.hs, b.hs))::BIGINT AS inter,
                 a.n AS na, b.n AS nb
               FROM rk a JOIN rk b
                 ON b.rank > a.rank AND b.rank - a.rank <= 8)
      SELECT least(da, db) AS id_a, greatest(da, db) AS id_b,
             inter::DOUBLE / (na + nb - inter)::DOUBLE AS jaccard
      FROM cand
      WHERE inter::DOUBLE / (na + nb - inter)::DOUBLE >= 0.3::DOUBLE
      ORDER BY id_a, id_b""",
    // same quality replica as text_quality + an exact-integer-ratio
    // percentile window; the keep cut applies to the percentile
    "text_quality_calibrated" -> s"""
      WITH c AS (
        SELECT doc_id, lang,
               (least(len($sqlToks), 200) * 2 +
                CASE WHEN (CASE WHEN length(text) > 0 THEN
                  floor(len(regexp_extract_all(text, '[.,;:!?]')) * 1000.0 / length(text))::BIGINT
                  ELSE 0 END) <= 80 THEN 300 ELSE 100 END +
                least(${langScoreSql("en")} * 30, 300))::BIGINT AS quality
        FROM documents)
      SELECT doc_id, lang, quality,
             percent_rank() OVER (PARTITION BY lang
               ORDER BY quality, doc_id) AS pct_rank,
             percent_rank() OVER (PARTITION BY lang
               ORDER BY quality, doc_id) >= 0.5::DOUBLE AS kept
      FROM c ORDER BY doc_id""",
    // iterative peel to the 2-core over the same minhash edge relation
    "graph_kcore" -> s"""
      WITH ${OracleXX.minhashAgreeCtes(128, 16)},
      kp AS (SELECT id_a, id_b FROM ag WHERE agree::DOUBLE / 128 >= 0.4),
      e0 AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM kp
        UNION ALL SELECT id_b AS src, id_a AS dst FROM kp),
      ${kcoreOracleStages(k = 2, peels = 4)}
      SELECT src AS doc_id, count(*)::BIGINT AS core_deg
      FROM e4 CROSS JOIN kguard GROUP BY src ORDER BY doc_id""",
    // 3 unrolled synchronous LPA rounds over the same candidate graph:
    // per-round neighbor-label counts, argmax via the identical integer
    // encode cnt*10^9 + (10^9-1-label) — max picks highest count then
    // smallest label, exactly the engine's aggregate
    "graph_labelprop" -> s"""
      WITH ${OracleXX.minhashAgreeCtes(128, 16)},
      kp AS (SELECT id_a, id_b FROM ag WHERE agree::DOUBLE / 128 >= 0.4),
      e0 AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM kp
        UNION ALL SELECT id_b AS src, id_a AS dst FROM kp),
      l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM e0),
      ${(1 to 3).map(r => s"""
      c$r AS (SELECT e.dst, l.lbl, count(*)::BIGINT AS cnt
              FROM e0 e JOIN l${r - 1} l ON e.src = l.id GROUP BY e.dst, l.lbl),
      l$r AS (SELECT dst AS id,
                (999999999 - (max(cnt * 1000000000 + (999999999 - lbl))
                              % 1000000000))::BIGINT AS lbl
              FROM c$r GROUP BY dst)""").mkString(",")}
      SELECT id AS doc_id, lbl AS community FROM l3 ORDER BY doc_id""",
    // open triads via the capped-pivot self-join, existing edges removed
    // with NOT EXISTS, full degrees in the integer scores — // and DIV
    // both floor on the non-negative operands
    "graph_link_pred" -> s"""
      WITH ${OracleXX.minhashAgreeCtes(128, 16)},
      kp AS MATERIALIZED (
        SELECT id_a, id_b FROM ag WHERE agree::DOUBLE / 128 >= 0.4),
      e0 AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM kp
        UNION ALL SELECT id_b AS src, id_a AS dst FROM kp),
      dg AS (SELECT src, count(*)::BIGINT AS deg FROM e0 GROUP BY src),
      pe AS (SELECT e.src, e.dst FROM e0 e JOIN dg d ON e.src = d.src
             WHERE d.deg <= 1000),
      cd AS (SELECT x.dst AS id_a, y.dst AS id_b, count(*)::BIGINT AS cn
             FROM pe x JOIN pe y ON x.src = y.src AND x.dst < y.dst
             GROUP BY 1, 2),
      nc AS (SELECT * FROM cd c WHERE NOT EXISTS (
               SELECT 1 FROM kp k
               WHERE k.id_a = c.id_a AND k.id_b = c.id_b))
      SELECT n.id_a, n.id_b, n.cn, (da.deg * db.deg)::BIGINT AS pa,
             (n.cn * 1000000 // (da.deg + db.deg - n.cn))::BIGINT AS jaccard_ppm
      FROM nc n JOIN dg da ON n.id_a = da.src JOIN dg db ON n.id_b = db.src
      ORDER BY n.id_a, n.id_b""",
    // native recursive-CTE ancestor walk vs the engine's pointer doubling:
    // same decimal forest (parent = partkey // 10, both floor on
    // non-negatives), root/depth read from the deepest walk row per id
    "q_hierarchy" -> """
      WITH RECURSIVE nodes AS (
        SELECT p_partkey AS id,
               CASE WHEN p_partkey >= 10 THEN p_partkey // 10 END AS parent
        FROM part),
      walk AS (
        SELECT id, id AS cur, 0::BIGINT AS depth FROM nodes
        UNION ALL
        SELECT w.id, n.parent, w.depth + 1
        FROM walk w JOIN nodes n ON w.cur = n.id
        WHERE n.parent IS NOT NULL),
      fin AS (SELECT id, max(depth) AS md FROM walk GROUP BY id)
      SELECT w.id AS p_partkey, w.cur AS root, w.depth AS depth
      FROM walk w JOIN fin f ON w.id = f.id AND w.depth = f.md
      ORDER BY p_partkey""",
    // operation-for-operation replica of Int8QuantUtil.stats: max-abs
    // scale, floor (not round) codes clamped to +/-127, reconstruct,
    // sequential-sum dot products (list_dot_product === the JVM loop)
    "sim_int8_quant" -> """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id, v,
              list_aggregate(list_transform(v, x -> abs(x)), 'max') AS ma
            FROM e),
      rw AS (SELECT vec_id, v, ma,
              CASE WHEN ma = 0 THEN list_transform(v, x -> 0.0::DOUBLE)
                   ELSE list_transform(v, x -> floor(x * 127.0::DOUBLE / ma))
              END AS raw
             FROM q),
      c AS (SELECT vec_id, v, ma,
              list_transform(raw, r ->
                greatest(-127.0::DOUBLE, least(127.0::DOUBLE, r))::BIGINT) AS codes,
              len(list_filter(raw, r ->
                r > 127.0::DOUBLE OR r < -127.0::DOUBLE))::BIGINT AS n_clamped
            FROM rw),
      r AS (SELECT vec_id, v, ma, n_clamped,
              list_transform(codes, k -> k::DOUBLE * ma / 127.0::DOUBLE) AS rv
            FROM c),
      m AS (SELECT vec_id, ma AS max_abs, n_clamped,
              list_dot_product(v, rv) AS dot,
              list_dot_product(v, v) AS nv,
              list_dot_product(rv, rv) AS nr,
              list_aggregate(list_transform(range(1, len(v) + 1),
                i -> abs(v[i] - rv[i])), 'max') AS max_abs_err
            FROM r)
      SELECT vec_id, max_abs,
             CASE WHEN max_abs = 0 OR nr = 0 THEN NULL
                  ELSE dot / (sqrt(nv) * sqrt(nr)) END AS cos_recon,
             max_abs_err, n_clamped
      FROM m ORDER BY vec_id""",
    // 12-token chunking, per-chunk stopword langid (same replica as
    // text_langid, over the chunk tokens), dominant-language rollup
    "text_lang_mixture" -> s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      segx AS (SELECT doc_id,
                 unnest(list_transform(range(0, greatest((len(tk) + 11) // 12, 1)),
                   i -> array_to_string(list_slice(tk, i*12+1, i*12+12), ' '))) AS seg
               FROM toks),
      sc AS (SELECT doc_id,
               ${langScoreSql("de", "string_split(seg, \' \')")} AS s_de,
               ${langScoreSql("en", "string_split(seg, \' \')")} AS s_en,
               ${langScoreSql("es", "string_split(seg, \' \')")} AS s_es,
               ${langScoreSql("fr", "string_split(seg, \' \')")} AS s_fr,
               ${langScoreSql("zh", "string_split(seg, \' \')")} AS s_zh
             FROM segx),
      pr AS (SELECT doc_id,
               CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                    WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
                    WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                    WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                    WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                    ELSE 'de' END AS seg_lang
             FROM sc),
      cnt AS (SELECT doc_id, seg_lang, count(*)::BIGINT AS n
              FROM pr GROUP BY 1, 2),
      agg AS (SELECT doc_id, seg_lang, n,
                row_number() OVER (PARTITION BY doc_id
                  ORDER BY n DESC, seg_lang DESC) AS rk,
                sum(n) OVER (PARTITION BY doc_id) AS n_seg,
                count(*) OVER (PARTITION BY doc_id) AS n_langs
              FROM cnt)
      SELECT doc_id, n_seg::BIGINT AS n_seg, n_langs::BIGINT AS n_langs,
             seg_lang AS dom_lang, ((n * 1000000) // n_seg)::BIGINT AS dom_ppm,
             n_langs > 1 AS mixed
      FROM agg WHERE rk = 1 ORDER BY doc_id""",
    // oriented x<y<z enumeration over the exact-Jaccard edge relation —
    // each triangle found once, then exploded to its three member nodes
    "graph_triangles" -> s"""
      WITH ${ngramJaccardCtes(0.5)},
      jp AS MATERIALIZED (SELECT id_a, id_b FROM ok)
      SELECT t.id AS doc_id, count(*)::BIGINT AS n_triangles FROM (
        SELECT unnest([e1.id_a, e1.id_b, e2.id_b]) AS id
        FROM jp e1 JOIN jp e2 ON e2.id_a = e1.id_b
             JOIN jp e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b) t
      GROUP BY 1 ORDER BY 1""",
    // exact chain at the 0.1 floor keeps inter/na/nb so the decile is the
    // same two IEEE ops on exact ints; LSH membership via LEFT JOIN
    "dedup_lsh_recall_curve" -> s"""
      WITH ${OracleXX.minhashAgreeCtes(128, 16)},
      l AS MATERIALIZED (
        SELECT id_a, id_b FROM ag WHERE agree::DOUBLE / 128 >= 0.4),
      xsh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
        FROM toks),
      xpost AS (SELECT doc_id, len(hs) AS n, unnest(hs) AS h FROM xsh),
      xpairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter,
               any_value(a.n) AS na, any_value(b.n) AS nb
        FROM xpost a JOIN xpost b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      x AS MATERIALIZED (
        SELECT id_a, id_b, inter::DOUBLE / (na + nb - inter) AS jaccard
        FROM xpairs WHERE inter::DOUBLE / (na + nb - inter) >= 0.1::DOUBLE),
      j AS (SELECT x.jaccard,
              CASE WHEN l.id_a IS NULL THEN 0 ELSE 1 END AS hit
            FROM x LEFT JOIN l ON x.id_a = l.id_a AND x.id_b = l.id_b),
      d AS (SELECT least(floor(jaccard * 10)::BIGINT, 9) AS decile,
              count(*)::BIGINT AS n_exact, sum(hit)::BIGINT AS n_caught
            FROM j GROUP BY 1)
      SELECT decile, n_exact, n_caught,
             CASE WHEN n_exact = 0 THEN NULL
                  ELSE n_caught::DOUBLE / n_exact::DOUBLE END AS recall
      FROM d ORDER BY decile""",
    // the LSH estimate-pair chain and the exact-Jaccard chain share the
    // `toks` CTE (identical text in both helpers); the exact side is
    // inlined under x-prefixed names to avoid CTE collisions
    "dedup_lsh_quality" -> s"""
      WITH ${OracleXX.minhashAgreeCtes(128, 16)},
      l AS MATERIALIZED (
        SELECT id_a, id_b FROM ag WHERE agree::DOUBLE / 128 >= 0.4),
      xsh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
        FROM toks),
      xpost AS (SELECT doc_id, len(hs) AS n, unnest(hs) AS h FROM xsh),
      xpairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter,
               any_value(a.n) AS na, any_value(b.n) AS nb
        FROM xpost a JOIN xpost b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      x AS MATERIALIZED (
        SELECT id_a, id_b FROM xpairs
        WHERE inter::DOUBLE / (na + nb - inter) >= 0.4),
      nb2 AS (SELECT count(*)::BIGINT AS n_both
              FROM l JOIN x USING (id_a, id_b))
      SELECT (SELECT count(*) FROM l)::BIGINT AS n_lsh,
             (SELECT count(*) FROM x)::BIGINT AS n_exact,
             n_both,
             CASE WHEN (SELECT count(*) FROM l) = 0 THEN NULL
                  ELSE n_both::DOUBLE / (SELECT count(*) FROM l)::DOUBLE
             END AS lsh_precision,
             CASE WHEN (SELECT count(*) FROM x) = 0 THEN NULL
                  ELSE n_both::DOUBLE / (SELECT count(*) FROM x)::DOUBLE
             END AS lsh_recall
      FROM nb2""",
    // clusters chain + quality replica + a deterministic (score DESC, id
    // ASC) argmax window — the keep-best representative cut
    // the clusters chain relabeled kept/dropped + the quality replica,
    // rolled up per (fate, lang)
    "dedup_impact_report" -> s"""
      WITH RECURSIVE ${ngramJaccardCtes(0.5)},
      jp AS MATERIALIZED (SELECT id_a, id_b FROM ok),
      e AS (SELECT id_a AS src, id_b AS dst FROM jp
            UNION SELECT id_b, id_a FROM jp),
      reach AS (
        SELECT doc_id AS id, doc_id AS r FROM documents
        UNION
        SELECT e.dst AS id, reach.r AS r FROM reach JOIN e ON e.src = reach.id),
      cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
      qc AS (
        SELECT doc_id, len($sqlToks)::BIGINT AS n_tokens,
               CASE WHEN length(text) > 0 THEN
                 floor(len(regexp_extract_all(text, '[.,;:!?]')) * 1000.0 / length(text))::BIGINT
               ELSE 0 END AS punct_pm,
               ${langScoreSql("en")} AS stop_hits
        FROM documents),
      q AS (SELECT doc_id, n_tokens,
               (least(n_tokens, 200) * 2 +
                CASE WHEN punct_pm <= 80 THEN 300 ELSE 100 END +
                least(stop_hits * 30, 300))::BIGINT AS score FROM qc)
      SELECT CASE WHEN c.doc_id = c.cluster_id THEN 'kept'
                  ELSE 'dropped' END AS fate,
             d.lang, count(*)::BIGINT AS n_docs,
             sum(q.score)::BIGINT AS sum_quality,
             (sum(q.score) // count(*))::BIGINT AS mean_quality,
             sum(q.n_tokens)::BIGINT AS n_tokens
      FROM cl c JOIN documents d USING (doc_id) JOIN q USING (doc_id)
      GROUP BY 1, 2 ORDER BY fate, lang""",
    "dedup_best_of_cluster" -> s"""
      WITH RECURSIVE ${ngramJaccardCtes(0.5)},
      jp AS MATERIALIZED (SELECT id_a, id_b FROM ok),
      e AS (SELECT id_a AS src, id_b AS dst FROM jp
            UNION SELECT id_b, id_a FROM jp),
      reach AS (
        SELECT doc_id AS id, doc_id AS r FROM documents
        UNION
        SELECT e.dst AS id, reach.r AS r FROM reach JOIN e ON e.src = reach.id),
      cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
      qc AS (
        SELECT doc_id, len($sqlToks)::BIGINT AS n_tokens,
               CASE WHEN length(text) > 0 THEN
                 floor(len(regexp_extract_all(text, '[.,;:!?]')) * 1000.0 / length(text))::BIGINT
               ELSE 0 END AS punct_pm,
               ${langScoreSql("en")} AS stop_hits
        FROM documents),
      q AS (SELECT doc_id,
               (least(n_tokens, 200) * 2 +
                CASE WHEN punct_pm <= 80 THEN 300 ELSE 100 END +
                least(stop_hits * 30, 300))::BIGINT AS score FROM qc),
      sel AS (SELECT cluster_id, doc_id, score,
                row_number() OVER (PARTITION BY cluster_id
                                   ORDER BY score DESC, doc_id ASC) AS rn,
                count(*) OVER (PARTITION BY cluster_id) AS n_members
              FROM cl JOIN q USING (doc_id))
      SELECT doc_id, cluster_id, n_members::BIGINT AS n_members, score
      FROM sel WHERE rn = 1 ORDER BY doc_id""",
    // the dedup_clusters labeling chain, collapsed to its size histogram
    "graph_cc_sizes" -> s"""
      WITH RECURSIVE ${ngramJaccardCtes(0.5)},
      jp AS MATERIALIZED (SELECT id_a, id_b FROM ok),
      e AS (SELECT id_a AS src, id_b AS dst FROM jp
            UNION SELECT id_b, id_a FROM jp),
      reach AS (
        SELECT doc_id AS id, doc_id AS r FROM documents
        UNION
        SELECT e.dst AS id, reach.r AS r FROM reach JOIN e ON e.src = reach.id),
      cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
      szs AS (SELECT cluster_id, count(*)::BIGINT AS sz FROM cl GROUP BY 1)
      SELECT sz AS cluster_size, count(*)::BIGINT AS n_clusters
      FROM szs GROUP BY 1 ORDER BY 1""",
    "text_bpe_apply" -> bpeApplyOracle(numMerges = 8),
    "text_bpe_fertility" -> bpeFertilityOracle(numMerges = 8),
    // lift = pair_n·n_docs/(df_a·df_b): int products + one IEEE divide, no
    // libm log — see TextAnalysis.cooccurrenceLift
    "text_cooccurrence" -> s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      dt AS (SELECT DISTINCT doc_id, unnest(tk) AS tok FROM toks),
      dtl AS (SELECT doc_id, tok FROM dt WHERE length(tok) >= 3),
      dfreq AS (SELECT tok, count(*)::BIGINT AS df FROM dtl GROUP BY 1),
      kept AS MATERIALIZED (
        SELECT d.doc_id, d.tok, f.df FROM dtl d JOIN dfreq f USING (tok)
        WHERE f.df >= 5
          AND f.df <= floor((SELECT count(*) FROM documents) * 0.9)),
      pr AS (SELECT a.tok AS tok_a, b.tok AS tok_b, count(*)::BIGINT AS pair_n,
                    any_value(a.df) AS df_a, any_value(b.df) AS df_b
             FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.tok < b.tok
             GROUP BY 1, 2 HAVING count(*) >= 5)
      SELECT tok_a, tok_b, pair_n, df_a, df_b,
             pair_n::DOUBLE * (SELECT count(*) FROM documents)
               / (df_a * df_b)::DOUBLE AS lift
      FROM pr ORDER BY tok_a, tok_b""",
    "text_winnow" -> s"""${winnowCtes()}
      SELECT doc_id, pos, hash FROM sel ORDER BY doc_id, pos""",
    // MOSS overlap report: distinct fingerprint sets self-joined on the
    // hash; containment = shared / min-set-size, one exact IEEE division
    "dedup_winnow" -> s"""${winnowCtes()},
      st AS (SELECT DISTINCT doc_id, hash FROM sel),
      nf AS (SELECT doc_id, count(*)::BIGINT AS nf FROM st GROUP BY doc_id),
      pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS shared
             FROM st a JOIN st b ON a.hash = b.hash AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
      SELECT pr.id_a, pr.id_b, pr.shared, na.nf AS na, nb.nf AS nb,
             pr.shared::DOUBLE / least(na.nf, nb.nf)::DOUBLE AS "overlap"
      FROM pr JOIN nf na ON pr.id_a = na.doc_id
              JOIN nf nb ON pr.id_b = nb.doc_id
      WHERE pr.shared >= 2 ORDER BY pr.id_a, pr.id_b""",
    // bigram LM: the engine groups/joins on xxhash64 keys, the oracle on
    // the token strings — identical partitioning absent a 64-bit collision
    // (the repetitionReport invariance argument); all outputs are integer
    // ppm floors, so the compare is bit-exact
    "text_lm_score" -> s"""
      WITH $lmScoreCtes
      SELECT d.doc_id,
             coalesce(sc.n_bigrams, 0)::BIGINT AS n_bigrams,
             coalesce(sc.sum_ppm, 0)::BIGINT AS sum_ppm,
             CASE WHEN sc.n_bigrams IS NOT NULL
                  THEN sc.sum_ppm // sc.n_bigrams ELSE 0 END::BIGINT AS avg_ppm,
             coalesce(sc.min_ppm, 0)::BIGINT AS min_ppm
      FROM documents d LEFT JOIN sc USING (doc_id)
      ORDER BY doc_id""",
    // CCNet head/middle/tail terciles on the lm chain: ntile's equal-tile
    // split is SQL-standard (first n-mod-k tiles take the extra row) and
    // the (avg_ppm DESC, doc_id ASC) order is total, so buckets are
    "text_kn_score" -> s"""
      WITH $knScoreCtes
      SELECT d.doc_id,
             coalesce(sc.n_bigrams, 0)::BIGINT AS n_bigrams,
             coalesce(sc.sum_ppm, 0)::BIGINT AS sum_ppm,
             CASE WHEN sc.n_bigrams IS NOT NULL
                  THEN sc.sum_ppm // sc.n_bigrams ELSE 0 END::BIGINT AS avg_ppm,
             coalesce(sc.min_ppm, 0)::BIGINT AS min_ppm
      FROM documents d LEFT JOIN sc USING (doc_id)
      ORDER BY doc_id""",
    // engine-exact
    "text_ppl_buckets" -> s"""
      WITH $lmScoreCtes,
      scf AS (SELECT d.doc_id, d.lang,
                     (CASE WHEN sc.n_bigrams IS NOT NULL
                           THEN sc.sum_ppm // sc.n_bigrams
                           ELSE 0 END)::BIGINT AS avg_ppm
              FROM documents d LEFT JOIN sc USING (doc_id))
      SELECT doc_id, lang, avg_ppm, bucket,
             CASE WHEN bucket = 1 THEN 'head'
                  WHEN bucket = 3 THEN 'tail' ELSE 'middle' END AS bucket_label
      FROM (SELECT doc_id, lang, avg_ppm,
                   (ntile(3) OVER (PARTITION BY lang
                      ORDER BY avg_ppm DESC, doc_id ASC))::BIGINT AS bucket
            FROM scf)
      ORDER BY doc_id""",
    // concat-and-chunk manifest: EOS-terminated token counts, the same
    // prefix-sum layout as text_packing, one row per (doc, window) overlap
    // segment — pure BIGINT interval arithmetic
    // manifest segments joined with the BPE-ish token stream (+ <eos>):
    // every token lands at win_tok_start + (pos - doc_tok_start)
    "text_packing_apply" -> s"""
      WITH t AS (
        SELECT doc_id,
               (len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) + 1)::BIGINT AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
               coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
        FROM t),
      seg AS (
        SELECT doc_id, n_tokens, off,
               unnest(range(off // 512, (off + n_tokens - 1) // 512 + 1)) AS w
        FROM c),
      man AS (
        SELECT doc_id, w::BIGINT AS window_id,
               (greatest(off, w * 512) - w * 512)::BIGINT AS win_tok_start,
               (greatest(off, w * 512) - off)::BIGINT AS doc_tok_start,
               (least(off + n_tokens, (w + 1) * 512) - greatest(off, w * 512))::BIGINT AS seg_len
        FROM seg),
      tok AS (
        SELECT doc_id, unnest(list_transform(range(1, len(bt) + 1),
                 i -> {'pos': i - 1, 'tok': bt[i]}), recursive := true)
        FROM (SELECT doc_id,
                list_append(regexp_extract_all(coalesce(text, ''),
                  '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'), '<eos>') AS bt
              FROM documents))
      SELECT m.window_id,
             (m.win_tok_start + t.pos - m.doc_tok_start)::BIGINT AS win_pos,
             t.doc_id, t.tok AS token
      FROM man m JOIN tok t ON t.doc_id = m.doc_id
      WHERE t.pos >= m.doc_tok_start AND t.pos < m.doc_tok_start + m.seg_len
      ORDER BY window_id, win_pos""",
    "text_pack_manifest" -> s"""
      WITH t AS (
        SELECT doc_id,
               (len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) + 1)::BIGINT AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
               coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
        FROM t),
      seg AS (
        SELECT doc_id, n_tokens, off,
               unnest(range(off // 512, (off + n_tokens - 1) // 512 + 1)) AS w
        FROM c)
      SELECT doc_id, w::BIGINT AS window_id,
             (greatest(off, w * 512) - w * 512)::BIGINT AS win_tok_start,
             (greatest(off, w * 512) - off)::BIGINT AS doc_tok_start,
             (least(off + n_tokens, (w + 1) * 512) - greatest(off, w * 512))::BIGINT AS seg_len
      FROM seg ORDER BY doc_id, window_id""",
    // sliding-window chunks: starts = range(0, n, stride) minus windows
    // that begin after the doc is already covered (s = 0 OR s + stride <
    // n, with stride 8 / chunk 16 the generic s - stride + chunk < n)
    "text_chunks" -> s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      st AS (SELECT doc_id, tk, len(tk)::BIGINT AS n,
               list_filter(range(0, len(tk), 8),
                           s -> s = 0 OR s + 8 < len(tk)) AS ss
             FROM toks),
      ex AS (SELECT doc_id, tk, n,
               unnest(list_transform(range(1, len(ss) + 1),
                 i -> {'ci': i - 1, 's': ss[i]})) AS u
             FROM st)
      SELECT doc_id, (u.ci)::BIGINT AS chunk_idx, (u.s)::BIGINT AS tok_start,
             least(u.s + 16, n)::BIGINT AS tok_end,
             (least(u.s + 16, n) - u.s)::BIGINT AS n_toks,
             array_to_string(list_slice(tk, u.s + 1, least(u.s + 16, n)), ' ')
               AS chunk_text
      FROM ex ORDER BY doc_id, chunk_idx""",
    // classifier: per-distinct-token XXH64 → pmod bucket → literal weight
    // lookup, integer sums — the Spark pipeline replayed bit-exactly
    "text_classifier" -> {
      val wl = TextAnalysis.fixedClassifierWeights(64).mkString("[", ", ", "]")
      val bk = OracleXX.xxh64StrPmod("s", 64L, padLen = 20)
      s"""
      WITH tokrows AS (SELECT doc_id, unnest($sqlToks) AS s FROM documents),
      nz AS (SELECT doc_id, s FROM tokrows WHERE s <> ''),
      dh AS MATERIALIZED (SELECT s, $bk AS bk FROM (SELECT DISTINCT s FROM nz)),
      sc AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
                    sum(($wl)[bk+1])::BIGINT AS ws
             FROM nz JOIN dh USING (s) GROUP BY doc_id)
      SELECT d.doc_id, coalesce(sc.n_tokens, 0)::BIGINT AS n_tokens,
             (5 + coalesce(sc.ws, 0))::BIGINT AS score,
             CASE WHEN 5 + coalesce(sc.ws, 0) >= 0
                  THEN 'keep' ELSE 'drop' END AS label
      FROM documents d LEFT JOIN sc USING (doc_id)
      ORDER BY doc_id"""
    },
    // 4 unrolled batch-perceptron epochs over the quality-component
    // replica: error set under the ENTERING weights (margin 0 counts),
    // weight update = coalesce'd integer sums — exactly the engine loop
    "text_perceptron" -> {
      val nf = 4
      val eps = (1 to 4).map { ep =>
        val marg = (0 until nf).map(i => s"ww${ep - 1}.a$i * x$i")
          .mkString(" + ")
        val dsums = (0 until nf)
          .map(i => s"coalesce(sum(y * x$i), 0)::BIGINT AS d$i").mkString(", ")
        val wupd = (0 until nf)
          .map(i => s"(ww${ep - 1}.a$i + ee$ep.d$i)::BIGINT AS a$i")
          .mkString(", ")
        s"""
      ee$ep AS (SELECT count(*)::BIGINT AS n, $dsums
                FROM d CROSS JOIN ww${ep - 1} WHERE y * ($marg) <= 0),
      ww$ep AS (SELECT $wupd FROM ww${ep - 1} CROSS JOIN ee$ep)"""
      }.mkString(",")
      val outs = (1 to 4).map(ep =>
        s"SELECT $ep::BIGINT AS epoch, ee$ep.n AS n_err, " +
        (0 until nf).map(i => s"ww$ep.a$i AS w$i").mkString(", ") +
        s" FROM ee$ep CROSS JOIN ww$ep").mkString(" UNION ALL ")
      s"""
      WITH $qualityKeptCtes,
      d AS (SELECT (CASE WHEN lang = 'en' THEN 1 ELSE -1 END)::BIGINT AS y,
                   1::BIGINT AS x0, n_tokens AS x1, punct_pm AS x2,
                   stop_hits AS x3
            FROM c),
      ww0 AS (SELECT 0::BIGINT AS a0, 0::BIGINT AS a1, 0::BIGINT AS a2,
                     0::BIGINT AS a3),
      $eps
      $outs ORDER BY epoch"""
    },
    // global (quality DESC, doc_id) running token sum replayed as one
    // ordered window; same admission rule offset < budget, straddling
    // document included
    "curation_token_budget" -> s"""
      WITH $qualityKeptCtes,
      tk AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_tokens
        FROM documents),
      o AS (
        SELECT s.doc_id, s.quality::BIGINT AS quality, t.n_tokens,
               coalesce(sum(t.n_tokens) OVER (ORDER BY s.quality DESC, s.doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS "offset"
        FROM scored s JOIN tk t USING (doc_id))
      SELECT doc_id, quality, n_tokens, "offset" FROM o
      WHERE "offset" < 12000 ORDER BY doc_id""",
    "curation_source_cap" -> """
      SELECT doc_id, source, n_chars, group_rank FROM (
        SELECT doc_id, source, n_chars,
               (row_number() OVER (PARTITION BY source
                  ORDER BY n_chars DESC, doc_id ASC))::BIGINT AS group_rank
        FROM documents)
      WHERE group_rank <= 10 ORDER BY doc_id""",
    "text_contamination" -> s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
        FROM toks),
      corpus AS (SELECT DISTINCT unnest(hs) AS h FROM sh WHERE doc_id >= 20),
      bench AS (SELECT doc_id AS bench_id, unnest(hs) AS h FROM sh WHERE doc_id < 20),
      tot AS (SELECT bench_id, count(*)::BIGINT AS n_shingles FROM bench GROUP BY 1),
      hit AS (SELECT bench_id, count(*)::BIGINT AS n_hits FROM bench
              WHERE h IN (SELECT h FROM corpus) GROUP BY 1)
      SELECT t.bench_id, t.n_shingles, coalesce(hit.n_hits, 0)::BIGINT AS n_hits,
             coalesce(hit.n_hits, 0)::DOUBLE / t.n_shingles AS contamination
      FROM tot t LEFT JOIN hit ON t.bench_id = hit.bench_id
      ORDER BY t.bench_id""",
    // z-order layout: the materialized-file clustering cannot change WHICH
    // rows a box query returns, so the oracle replays the quantization +
    // interleave arithmetic and the box predicate directly
    "q_zorder_layout" -> s"""
      WITH q AS (
        SELECT event_id,
               ((user_id % 4096) + 4096) % 4096 AS zx,
               (((floor(value * 100)::BIGINT) % 4096) + 4096) % 4096 AS zy
        FROM events)
      SELECT event_id, zx, zy, ${sqlZorder("zx", "zy")} AS zval
      FROM q WHERE zx BETWEEN 0 AND 1023 AND zy BETWEEN 0 AND 1023
      ORDER BY event_id""",
    // corpus-side decontamination: exact overlap counts (the engine's bloom
    // prefilter provably cannot change the result, so it isn't modeled)
    "text_decontaminate" -> s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
        FROM toks),
      bench AS (SELECT DISTINCT unnest(hs) AS h FROM sh WHERE doc_id < 20),
      corp AS (SELECT doc_id, unnest(hs) AS h FROM sh WHERE doc_id >= 20),
      tot AS (SELECT doc_id, len(hs)::BIGINT AS n_shingles FROM sh WHERE doc_id >= 20),
      hit AS (SELECT doc_id, count(*)::BIGINT AS n_hits FROM corp
              WHERE h IN (SELECT h FROM bench) GROUP BY 1)
      SELECT t.doc_id, t.n_shingles, coalesce(hit.n_hits, 0)::BIGINT AS n_hits,
             coalesce(hit.n_hits, 0) > 0 AS contaminated
      FROM tot t LEFT JOIN hit USING (doc_id)
      ORDER BY t.doc_id""",
    // thresholded twin: kept rows, integer ppm compare on both engines
    "text_decontaminate_frac" -> s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
        FROM toks),
      bench AS (SELECT DISTINCT unnest(hs) AS h FROM sh WHERE doc_id < 20),
      corp AS (SELECT doc_id, unnest(hs) AS h FROM sh WHERE doc_id >= 20),
      tot AS (SELECT doc_id, len(hs)::BIGINT AS n_shingles FROM sh WHERE doc_id >= 20),
      hit AS (SELECT doc_id, count(*)::BIGINT AS n_hits FROM corp
              WHERE h IN (SELECT h FROM bench) GROUP BY 1),
      st AS (SELECT t.doc_id, t.n_shingles,
                    coalesce(hit.n_hits, 0)::BIGINT AS n_hits
             FROM tot t LEFT JOIN hit USING (doc_id))
      SELECT d.doc_id, d.lang, st.n_shingles, st.n_hits
      FROM documents d JOIN st USING (doc_id)
      WHERE st.n_shingles = 0 OR st.n_hits * 1000000 < 300000 * st.n_shingles
      ORDER BY d.doc_id""",
    // vocab = top-1000 tokens by (count desc, token asc) — a deterministic
    // total order both engines can reproduce; OOV encodes as 1000 (<unk>)
    // seeded-hash mask selection and 80/10/10 action split replayed with
    // the XXH64 HUGEINT replica; chained seeds are Spark's multi-column
    // xxhash64 (seed literal hashed first, position key second)
    "text_mlm_masks" -> {
      val key = "(doc_id * 100000 + pos)"
      s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      flat AS (
        SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
                 i -> {'pos': i - 1, 'tok': tk[i]}), recursive := true)
        FROM toks),
      f2 AS (SELECT doc_id, pos::BIGINT AS pos, tok FROM flat
             WHERE tok <> ''),
      h AS (SELECT doc_id, pos, tok,
              ${OracleXX.mix64Pmod(key, 1000000L, seed = 13L)} AS sel,
              ${OracleXX.mix64Pmod(key, 10L, seed = 17L)} AS act,
              ${OracleXX.mix64Pmod(key, 1000L, seed = 22L)} AS rnd
            FROM f2)
      SELECT doc_id, pos, tok AS token,
             CASE WHEN act < 8 THEN 'mask' WHEN act = 8 THEN 'random'
                  ELSE 'keep' END AS action,
             (CASE WHEN act = 8 THEN rnd END)::BIGINT AS rand_bucket
      FROM h WHERE sel < 150000 ORDER BY doc_id, pos"""
    },
    // per-token bucket and ±1 sign hashes replayed with the XXH64 string
    // replica — over DISTINCT tokens only (the vocabulary is ~100x smaller
    // than the instance stream; hashing per instance made this oracle a
    // 47 s round-9 gate-budget offender), joined back for the rollup
    "text_feature_hashing" -> {
      import org.apache.spark.sql.catalyst.expressions.XXH64
      val s19 = java.lang.Long.toUnsignedString(XXH64.hashLong(19L, 42L))
      s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      f AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
      f2 AS (SELECT doc_id, tok FROM f WHERE tok <> ''),
      th AS MATERIALIZED (
        SELECT tok,
               ${OracleXX.xxh64StrPmod("tok", 64L)} AS bucket,
               (1 - 2 * ${OracleXX.xxh64StrPmod("tok", 2L, seed = s19)}) AS sgn
        FROM (SELECT DISTINCT tok FROM f2)),
      h AS (SELECT doc_id, bucket, sgn FROM f2 JOIN th USING (tok))
      SELECT doc_id, bucket, count(*)::BIGINT AS tf, sum(sgn)::BIGINT AS weight
      FROM h GROUP BY 1, 2 ORDER BY doc_id, bucket"""
    },
    // plan hashes + the token-ids vocabulary replica; [MASK]/vocab-pick/
    // keep per position, ordered string_agg reassembly
    // FIM PSM rewrite: selection + both cuts are mix64 draws replayed by
    // the signed replica; cut pmod by the per-doc (n+1) uses the explicit
    // ((h % m) + m) % m form (DuckDB % follows the dividend's sign exactly
    // like Java's, so the wrap is identical); slices/concat are plain list
    // ops; ties and empty parts are format-legal (see fimTransform doc)
    "text_fim_apply" -> s"""
      WITH t AS (SELECT doc_id, list_filter($sqlToks, x -> x != '') AS tk
                 FROM documents),
      s AS (SELECT doc_id, tk, len(tk)::BIGINT AS n,
                   ${OracleXX.mix64Pmod("doc_id", 1000000L, seed = 47L)} AS sel,
                   ${OracleXX.mix64Signed("doc_id", seed = 48L)} AS h1,
                   ${OracleXX.mix64Signed("doc_id", seed = 49L)} AS h2
            FROM t),
      c AS (SELECT doc_id, tk, n, (sel < 500000 AND n >= 2) AS fim,
                   ((h1 % (n + 1)) + (n + 1)) % (n + 1) AS c1,
                   ((h2 % (n + 1)) + (n + 1)) % (n + 1) AS c2
            FROM s),
      ab AS (SELECT doc_id, tk, n, fim,
                    least(c1, c2) AS a, greatest(c1, c2) AS b
             FROM c)
      SELECT doc_id, fim, n AS n_tokens,
             (CASE WHEN fim THEN a END)::BIGINT AS pre_len,
             (CASE WHEN fim THEN b - a END)::BIGINT AS mid_len,
             (CASE WHEN fim THEN n - b END)::BIGINT AS suf_len,
             CASE WHEN fim THEN array_to_string(
                    ['<fim_pre>'] || list_slice(tk, 1, a) ||
                    ['<fim_suf>'] || list_slice(tk, b + 1, n) ||
                    ['<fim_mid>'] || list_slice(tk, a + 1, b), ' ')
                  ELSE array_to_string(tk, ' ') END AS text_fim
      FROM ab ORDER BY doc_id""",
    "text_mlm_apply" -> {
      val key = "(doc_id * 100000 + pos)"
      s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      flat AS (
        SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
                 i -> {'pos': i - 1, 'tok': tk[i]}), recursive := true)
        FROM toks),
      f2 AS (SELECT doc_id, pos::BIGINT AS pos, tok FROM flat
             WHERE tok <> ''),
      vocab AS MATERIALIZED (
        SELECT tok AS vtok,
               (row_number() OVER (ORDER BY c DESC, tok ASC) - 1)::BIGINT AS tid
        FROM (SELECT tok, count(*) AS c FROM f2 GROUP BY tok)
        ORDER BY c DESC, tok ASC LIMIT 1000),
      vn AS (SELECT count(*)::BIGINT AS n FROM vocab),
      h AS (SELECT doc_id, pos, tok,
              ${OracleXX.mix64Pmod(key, 1000000L, seed = 13L)} AS sel,
              ${OracleXX.mix64Pmod(key, 10L, seed = 17L)} AS act,
              ${OracleXX.mix64Pmod(key, 1000L, seed = 22L)} AS rnd
            FROM f2),
      rep AS (SELECT h.doc_id, h.pos,
                CASE WHEN sel < 150000 AND act < 8 THEN '[MASK]'
                     WHEN sel < 150000 AND act = 8 THEN v.vtok
                     ELSE h.tok END AS outt,
                CASE WHEN sel < 150000 THEN
                  (CASE WHEN act < 8 THEN 'mask'
                        WHEN act = 8 THEN 'random' ELSE 'keep' END) END
                  AS action
              FROM h CROSS JOIN vn
              LEFT JOIN vocab v ON v.tid = h.rnd % vn.n)
      SELECT doc_id, string_agg(outt, ' ' ORDER BY pos) AS mlm_text,
             sum(CASE WHEN action = 'mask' THEN 1 ELSE 0 END)::BIGINT
               AS n_masked,
             sum(CASE WHEN action = 'random' THEN 1 ELSE 0 END)::BIGINT
               AS n_random,
             sum(CASE WHEN action = 'keep' THEN 1 ELSE 0 END)::BIGINT
               AS n_kept
      FROM rep GROUP BY doc_id ORDER BY doc_id"""
    },
    // same span chain; segment rows via per-doc lag, ordered string_agg
    // assembly — the identical relational construction as the engine
    "text_span_corruption_apply" -> s"""
      WITH $spanCorruptionCtes,
      sp2 AS (SELECT doc_id, span_start, span_end,
                (row_number() OVER (PARTITION BY doc_id
                   ORDER BY span_start) - 1)::BIGINT AS k,
                coalesce(lag(span_end) OVER (PARTITION BY doc_id
                   ORDER BY span_start), 0)::BIGINT AS seg_from
              FROM sp),
      raw AS (SELECT s2.doc_id, s2.span_start,
                -- array_to_string of an empty slice is NULL in DuckDB
                -- (Spark's array_join gives ''): coalesce keeps || alive
                coalesce(array_to_string(list_slice(t.tk,
                  (s2.seg_from + 1)::INT, s2.span_start::INT), ' '), '')
                  AS seg,
                '<extra_id_' || s2.k::VARCHAR || '>' AS mk,
                array_to_string(list_slice(t.tk, (s2.span_start + 1)::INT,
                  s2.span_end::INT), ' ') AS spx
              FROM sp2 s2 JOIN toks t USING (doc_id)),
      pieces AS (SELECT doc_id, span_start AS ord,
                   CASE WHEN seg = '' THEN mk
                        ELSE seg || ' ' || mk END AS piece,
                   mk || ' ' || spx AS tpiece
                 FROM raw),
      asm AS (SELECT doc_id, string_agg(piece, ' ' ORDER BY ord) AS body,
                string_agg(tpiece, ' ' ORDER BY ord) AS tgt
              FROM pieces GROUP BY doc_id),
      se AS (SELECT doc_id, max(span_end)::BIGINT AS last_end,
               (max(k) + 1)::BIGINT AS n_sp
             FROM sp2 GROUP BY doc_id),
      corr AS (SELECT a.doc_id,
                 rtrim(a.body || ' ' ||
                   coalesce(array_to_string(list_slice(t.tk,
                     (s.last_end + 1)::INT, len(t.tk)::INT), ' '), ''))
                   AS input_text,
                 a.tgt || ' <extra_id_' || s.n_sp::VARCHAR || '>'
                   AS target_text
               FROM asm a JOIN se s USING (doc_id)
               JOIN toks t USING (doc_id))
      SELECT doc_id, input_text, target_text FROM corr
      UNION ALL
      SELECT t.doc_id, array_to_string(t.tk, ' ') AS input_text,
             '' AS target_text
      FROM toks t WHERE NOT EXISTS (
        SELECT 1 FROM sp2 WHERE sp2.doc_id = t.doc_id)
      ORDER BY doc_id""",
    // hash-selected starts + hash-drawn lengths clipped at doc end,
    // running-max interval union per document, sentinel ordinals
    "text_span_corruption" -> s"""
      WITH $spanCorruptionCtes
      SELECT doc_id,
             (row_number() OVER (PARTITION BY doc_id ORDER BY span_start)
              - 1)::BIGINT AS sentinel,
             span_start, span_end,
             (span_end - span_start)::BIGINT AS span_len, n_starts
      FROM sp ORDER BY doc_id, span_start""",
    "text_token_ids" -> s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      tf AS (SELECT unnest(tk) AS tok FROM toks),
      vocab AS MATERIALIZED (
        SELECT tok, (row_number() OVER (ORDER BY c DESC, tok ASC) - 1)::BIGINT AS tid
        FROM (SELECT tok, count(*) AS c FROM tf WHERE tok <> '' GROUP BY tok)
        ORDER BY c DESC, tok ASC LIMIT 1000),
      flat AS (
        SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
                 i -> {'pos': i - 1, 'tok': tk[i]}), recursive := true)
        FROM toks)
      SELECT doc_id, pos::INT AS pos, coalesce(v.tid, 1000)::INT AS token_id
      FROM flat LEFT JOIN vocab v USING (tok)
      ORDER BY doc_id, pos""",
    "curation_shards" -> """
      WITH sz AS (SELECT doc_id, strlen(text)::BIGINT AS n_bytes FROM documents),
      o AS (
        SELECT doc_id, n_bytes,
               coalesce(sum(n_bytes) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS "offset"
        FROM sz)
      SELECT doc_id, n_bytes, "offset", "offset" // 65536 AS shard_id
      FROM o ORDER BY doc_id""",
    "text_packing" -> s"""
      WITH t AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
               coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS "offset"
        FROM t)
      SELECT doc_id, n_tokens, "offset",
             "offset" // 2048 AS chunk_start,
             CASE WHEN n_tokens > 0 THEN ("offset" + n_tokens - 1) // 2048
                  ELSE "offset" // 2048 END AS chunk_end
      FROM c ORDER BY doc_id""",
    // Spark's exact `percentile` and DuckDB's quantile_cont use the same
    // linear interpolation — verified bit-equal on this corpus
    "text_length_dist" -> s"""
      WITH t AS (SELECT lang, length(text) AS nc, len($sqlToks) AS nw FROM documents)
      SELECT lang, count(*)::BIGINT AS n_docs,
             min(nc)::BIGINT AS chars_min,
             quantile_cont(nc, 0.25) AS chars_p25,
             quantile_cont(nc, 0.5) AS chars_p50,
             quantile_cont(nc, 0.75) AS chars_p75,
             quantile_cont(nc, 0.95) AS chars_p95,
             max(nc)::BIGINT AS chars_max,
             quantile_cont(nw, 0.5) AS words_p50,
             quantile_cont(nw, 0.95) AS words_p95
      FROM t GROUP BY lang ORDER BY lang""",
    // exact columns oracle-checked; the sketch is validated in-engine as a
    // rank-error-bound boolean (sketch internals aren't cross-engine
    // reproducible) — the text_vocabulary HLL pattern
    "text_length_approx" -> """
      SELECT lang, count(*)::BIGINT AS n_docs,
             quantile_cont(length(text), 0.5) AS chars_p50_exact,
             true AS approx_ok
      FROM documents GROUP BY lang ORDER BY lang""",
    // coverage cut is a total order (count desc, token asc) so the LIMIT
    // boundary is deterministic on both engines
    "text_vocab_coverage" -> s"""
      WITH w AS (SELECT unnest($sqlToks) AS tok FROM documents),
      counts AS (SELECT tok, count(*)::BIGINT AS c FROM w
                 WHERE tok <> '' GROUP BY tok),
      total AS (SELECT sum(c)::BIGINT AS total_occ FROM counts),
      cov AS (
        SELECT 100 AS top_n, sum(c)::BIGINT AS covered_occ
        FROM (SELECT c FROM counts ORDER BY c DESC, tok ASC LIMIT 100)
        UNION ALL
        SELECT 1000, sum(c)::BIGINT
        FROM (SELECT c FROM counts ORDER BY c DESC, tok ASC LIMIT 1000))
      SELECT top_n, covered_occ, total_occ,
             covered_occ::DOUBLE / total_occ::DOUBLE AS covered_frac
      FROM cov CROSS JOIN total ORDER BY top_n""",
    "text_vocabulary" -> s"""
      WITH w AS (SELECT lang, unnest($sqlToks) AS tok FROM documents)
      SELECT lang, count(DISTINCT tok)::BIGINT AS n_distinct_tokens,
             count(*)::BIGINT AS n_token_occurrences,
             true AS sketch_ok
      FROM w WHERE tok <> '' GROUP BY lang ORDER BY lang""",
    "text_quality_filter" -> s"""
      WITH $qualityKeptCtes
      SELECT doc_id, lang, source FROM kept ORDER BY doc_id""",
    // the full Gopher composite: quality/language keep AND 2-gram
    // repetition caps (dup_ppm <= 120000, top_ppm <= 60000), repetition
    // computed over the kept set only (per-doc signals — order-invariant)
    "text_gopher_filter" -> s"""
      WITH $gopherKeptCtes
      SELECT doc_id, lang, source FROM gkept
      ORDER BY doc_id""",
    // the composed pipeline: Gopher survivors → normalized-text dedup
    // (min-id survivor, grouped on the normalized STRING where the engine
    // groups on md5 of it — identical partitioning absent a collision) →
    // per-source cap ranked (n_chars DESC, doc_id ASC) over survivors
    "curation_pipeline" -> s"""
      WITH $gopherKeptCtes,
      gdocs AS MATERIALIZED (
        SELECT d.doc_id, g.lang, g.source, d.n_chars, d.text
        FROM documents d JOIN gkept g USING (doc_id)),
      nsurv AS (
        SELECT min(doc_id) AS doc_id, count(*)::BIGINT AS n_copies
        FROM gdocs
        GROUP BY trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))),
      capped AS (
        SELECT g.doc_id, g.lang, g.source, s.n_copies,
               (row_number() OVER (PARTITION BY g.source
                  ORDER BY g.n_chars DESC, g.doc_id ASC))::BIGINT AS group_rank
        FROM gdocs g JOIN nsurv s USING (doc_id))
      SELECT doc_id, lang, source, n_copies, group_rank
      FROM capped WHERE group_rank <= 25 ORDER BY doc_id""",
    // the same stages re-aggregated as per-source counts (the data-card
    // table); a source with zero survivors drops out of a stage in both
    // engines identically (GROUP BY emits no row)
    "curation_report" -> s"""
      WITH $gopherKeptCtes,
      gdocs AS MATERIALIZED (
        SELECT d.doc_id, g.source, d.n_chars, d.text
        FROM documents d JOIN gkept g USING (doc_id)),
      nsurv AS (
        SELECT min(doc_id) AS doc_id
        FROM gdocs
        GROUP BY trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))),
      dd AS (SELECT g.* FROM gdocs g JOIN nsurv USING (doc_id)),
      capped AS (
        SELECT source,
               row_number() OVER (PARTITION BY source
                 ORDER BY n_chars DESC, doc_id ASC) AS group_rank
        FROM dd),
      stages AS (
        SELECT source, 1 AS stage, 'raw' AS stage_name, count(*)::BIGINT AS docs
        FROM documents GROUP BY source
        UNION ALL SELECT source, 2, 'quality', count(*)::BIGINT
        FROM gdocs GROUP BY source
        UNION ALL SELECT source, 3, 'dedup', count(*)::BIGINT
        FROM dd GROUP BY source
        UNION ALL SELECT source, 4, 'cap', count(*)::BIGINT
        FROM capped WHERE group_rank <= 25 GROUP BY source)
      SELECT source, stage, stage_name, docs,
             docs::DOUBLE / (max(CASE WHEN stage = 1 THEN docs END)
               OVER (PARTITION BY source))::DOUBLE AS retained_frac
      FROM stages ORDER BY source, stage""",
    "dedup_ngram_survivors" -> s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
        FROM toks),
      posting AS (SELECT doc_id, len(hs) AS n, unnest(hs) AS h FROM sh),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter,
               any_value(a.n) AS na, any_value(b.n) AS nb
        FROM posting a JOIN posting b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      dups AS (
        SELECT DISTINCT id_b FROM pairs
        WHERE inter::DOUBLE / (na + nb - inter) >= 0.5)
      SELECT doc_id, lang FROM documents
      WHERE doc_id NOT IN (SELECT id_b FROM dups)
      ORDER BY doc_id""",
    // incremental dedup: same shingle/posting machinery, victims restricted
    // to the incoming half (doc_id >= 250); existing docs all have smaller
    // ids here, so "existing OR smaller incoming" collapses to b < a
    "dedup_incremental" -> s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
        FROM toks),
      posting AS (SELECT doc_id, len(hs) AS n, unnest(hs) AS h FROM sh),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter,
               any_value(a.n) AS na, any_value(b.n) AS nb
        FROM posting a JOIN posting b
          ON a.h = b.h AND a.doc_id >= 250 AND b.doc_id < a.doc_id
        GROUP BY 1, 2),
      dropped AS (
        SELECT DISTINCT id_a FROM pairs
        WHERE inter::DOUBLE / (na + nb - inter) >= 0.5)
      SELECT doc_id, lang FROM documents
      WHERE doc_id >= 250 AND doc_id NOT IN (SELECT id_a FROM dropped)
      ORDER BY doc_id""",
    // the indexed variant computes the SAME answer through a persisted
    // bucketed posting index (the production steady-state path) — one
    // oracle text, two engine paths
    "dedup_ingest" -> ingestOracle(ingestBounds),
    // batch/streaming parity: the live AvailableNow ingest must land on the
    // batch twin's exact survivor set
    "stream_dedup_ingest" -> ingestOracle(ingestBounds),
    // output folding must be invisible to consumers: the folded stream
    // reads through IngestOutput.read onto the SAME survivor set
    "stream_dedup_ingest_folded" -> ingestOracle(ingestBounds),
    "dedup_ingest_compacted" -> ingestPrunedOracle(ingestBounds, maxDF = 3L),
    "dedup_incremental_indexed" -> s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
        FROM toks),
      posting AS (SELECT doc_id, len(hs) AS n, unnest(hs) AS h FROM sh),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter,
               any_value(a.n) AS na, any_value(b.n) AS nb
        FROM posting a JOIN posting b
          ON a.h = b.h AND a.doc_id >= 250 AND b.doc_id < a.doc_id
        GROUP BY 1, 2),
      dropped AS (
        SELECT DISTINCT id_a FROM pairs
        WHERE inter::DOUBLE / (na + nb - inter) >= 0.5)
      SELECT doc_id, lang FROM documents
      WHERE doc_id >= 250 AND doc_id NOT IN (SELECT id_a FROM dropped)
      ORDER BY doc_id""",
    // repetition signals: the per-doc aggregates are functions of the
    // n-gram count multiset, so the oracle groups on gram STRINGS while the
    // engine groups on xxhash64(gram) — identical integers either way
    "text_repetition" -> s"""
      WITH toks AS MATERIALIZED (SELECT doc_id, $sqlToks AS tk FROM documents),
      ng AS (
        SELECT doc_id, n,
               list_transform(range(1, greatest(len(tk) - n + 2, 1)),
                 i -> array_to_string(list_slice(tk, i, i + n - 1), ' ')) AS gs
        FROM toks, (SELECT unnest([2, 3]) AS n) nn),
      p AS (SELECT doc_id, n, unnest(gs) AS g FROM ng),
      c AS (SELECT doc_id, n, g, count(*)::BIGINT AS cnt FROM p GROUP BY 1, 2, 3),
      agg AS (
        SELECT doc_id, n, sum(cnt)::BIGINT AS total,
               coalesce(sum(cnt) FILTER (WHERE cnt > 1), 0)::BIGINT AS dup,
               max(cnt)::BIGINT AS top
        FROM c GROUP BY 1, 2)
      SELECT t.doc_id, t.n,
             coalesce(a.total, 0)::BIGINT AS total_ngrams,
             coalesce(a.dup * 1000000 // a.total, 0)::BIGINT AS dup_ppm,
             coalesce(a.top * 1000000 // a.total, 0)::BIGINT AS top_ppm
      FROM (SELECT doc_id, n FROM toks, (SELECT unnest([2, 3]) AS n) nn) t
      LEFT JOIN agg a USING (doc_id, n)
      ORDER BY doc_id, n""",
    // transitive closure of the same pair graph via a recursive CTE —
    // every doc labeled with the MIN doc_id reachable through dup pairs
    "dedup_clusters" -> s"""
      WITH RECURSIVE toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
        FROM toks),
      posting AS (SELECT doc_id, len(hs) AS n, unnest(hs) AS h FROM sh),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter,
               any_value(a.n) AS na, any_value(b.n) AS nb
        FROM posting a JOIN posting b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      jp AS MATERIALIZED (
        SELECT id_a, id_b FROM pairs
        WHERE inter::DOUBLE / (na + nb - inter) >= 0.5),
      e AS (SELECT id_a AS src, id_b AS dst FROM jp
            UNION SELECT id_b, id_a FROM jp),
      reach AS (
        SELECT doc_id AS id, doc_id AS r FROM documents
        UNION
        SELECT e.dst AS id, reach.r AS r FROM reach JOIN e ON e.src = reach.id)
      SELECT id AS doc_id, min(r) AS cluster_id FROM reach
      GROUP BY id ORDER BY doc_id""",
    // fuzzy-dedup pipeline: the minhash banding/agreement chain (XXH64
    // replica, same skew guard) feeding the recursive transitive closure
    // and the min-id representative cut — the full production composition
    "dedup_fuzzy_pipeline" -> s"""
      WITH RECURSIVE ${OracleXX.minhashAgreeCtes(fuzzyHashes, fuzzyBands)},
      jp AS MATERIALIZED (
        SELECT id_a, id_b FROM ag
        WHERE agree::DOUBLE / $fuzzyHashes >= $fuzzyThreshold),
      e AS (SELECT id_a AS src, id_b AS dst FROM jp
            UNION SELECT id_b, id_a FROM jp),
      reach AS (
        SELECT doc_id AS id, doc_id AS r FROM documents
        UNION
        SELECT e.dst AS id, reach.r AS r FROM reach JOIN e ON e.src = reach.id),
      cl AS MATERIALIZED (
        SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
      m AS (SELECT cluster_id, count(*)::BIGINT AS n_members FROM cl GROUP BY 1)
      SELECT c.doc_id, d.lang, d.source, m.n_members
      FROM cl c JOIN m USING (cluster_id) JOIN documents d USING (doc_id)
      WHERE c.doc_id = c.cluster_id
      ORDER BY c.doc_id""",
    "mm_decode" -> """
      WITH m AS (
        SELECT doc_id AS id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
               octet_length(encode(text))::BIGINT AS byteLen, md5(text) AS payload_md5
        FROM documents)
      SELECT id, kind, byteLen,
             (byteLen % 640 + 16)::INT AS width,
             ((byteLen * 31) % 480 + 16)::INT AS height,
             CASE WHEN kind = 'audio' THEN 16000 ELSE 0 END::INT AS sampleRateHz,
             CASE WHEN kind = 'video' THEN (byteLen % 300 + 1) ELSE 1 END::INT AS nFrames,
             payload_md5
      FROM m ORDER BY id""",
    // the expected table IS the fixture generation spec
    // (tools/MakeImageFixtures.scala): ImageIO writes TYPE_INT_RGB PNGs as
    // truecolor (3ch), TYPE_INT_ARGB as RGBA (4ch), TYPE_BYTE_GRAY as
    // grayscale (1ch); JPEG SOF declares 3 (YCbCr) / 1 (gray) components
    "mm_image_headers" -> """
      SELECT * FROM (VALUES
        ('img0_rgb.png',  'png',  23, 17, 3, 8),
        ('img1_rgba.png', 'png',  16, 16, 4, 8),
        ('img2_gray.png', 'png',  31,  9, 1, 8),
        ('img3_rgb.jpg',  'jpeg', 40, 25, 3, 8),
        ('img4_gray.jpg', 'jpeg', 12, 34, 1, 8))
        AS t(name, format, width, height, channels, bit_depth)
      ORDER BY name""",
    // fixture-spec VALUES: channels/rate/bits/frames from MakeAudioFixtures'
    // declaration; duration = frames*1000 DIV rate; STFT grid =
    // (frames - 400) DIV 160 + 1 — independent knowledge of what the
    // committed WAV bytes must decode to
    "mm_wav_frames" -> """
      SELECT * FROM (VALUES
        ('aud0_mono16k.wav',  1, 16000, 16, 2000::BIGINT, 125::BIGINT, 11::BIGINT),
        ('aud1_stereo8k.wav', 2,  8000, 16, 1200::BIGINT, 150::BIGINT,  6::BIGINT),
        ('aud2_mono44k.wav',  1, 44100, 16,  441::BIGINT,  10::BIGINT,  1::BIGINT))
        AS t(name, channels, sample_rate_hz, bit_depth, n_samples,
             duration_ms, n_frames)
      ORDER BY name""",
    // digest replica: DuckDB md5(VARCHAR) hashes the UTF-8 bytes, exactly
    // the payload the engine digests at its decode stage
    "mm_phash" -> OracleXX.renderDhashOracle,
    "mm_phash_stub" -> OracleXX.dhashOracle,
    "mm_audio_fingerprint" -> OracleXX.audioFpOracle,
    "mm_audio_neardup" -> OracleXX.audioFpNearDupOracle(maxHamming = 3),
    "mm_sniff" -> """
      SELECT doc_id AS id,
             CASE doc_id % 7 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                             WHEN 2 THEN 'wav' WHEN 3 THEN 'avi'
                             WHEN 4 THEN 'gzip' WHEN 5 THEN 'text'
                             ELSE 'binary' END AS kind
      FROM documents ORDER BY id""",
    "mm_video_meta" -> OracleXX.videoMetaOracle(truncateMod = 11L),
    "mm_video_frame_hashes" -> OracleXX.videoFrameDhashOracle,
    "mm_video_fingerprint" -> OracleXX.videoFpOracle,
    "mm_video_neardup" -> OracleXX.videoFpNearDupOracle(maxHamming = 3),
    "mm_video_shared_frames" ->
      OracleXX.videoSharedFramesOracle(minShared = 2, maxFrameFreq = 4096L),
    "mm_video_mjpeg" -> OracleXX.videoMjpegDecodeOracle(corruptMod = 9L),
    "pipeline_mm_ingest" -> OracleXX.ingestCardOracle(maxHamming = 3),
    "pipeline_mm_ingest_pairs" -> OracleXX.ingestPairsOracle(maxHamming = 3),
    "mm_neardup_incremental" -> OracleXX.hammingIncrementalOracle(maxHamming = 3),
    "mm_ingest_loop" -> OracleXX.hammingIngestOracle(mmIngestBounds, maxHamming = 3),
    "stream_mm_ingest" -> OracleXX.hammingIngestOracle(mmIngestBounds, maxHamming = 3),
    "stream_mm_ingest_gen" -> OracleXX.hammingIngestOracle(mmIngestBounds, maxHamming = 3),
    "dedup_embed_ingest" -> embedIngestOracle(embedIngestBounds, threshold = 0.25),
    "stream_embed_ingest" -> embedIngestOracle(embedIngestBounds, threshold = 0.25),
    "stream_pipeline_mm_ingest" ->
      OracleXX.composedIngestLoopOracle(mmIngestBounds, maxHamming = 3),
    // expected hashes derived OUTSIDE the engine by a pure-integer replica
    // of render-spec + BT.601 luma + 9×8 floor-bound box resample + dHash
    // (no ImageIO in the derivation — see mmPhashImages scaladoc); DuckDB
    // cannot decode PNG, so the independent derivation IS the oracle
    "mm_phash_images" -> """
      SELECT * FROM (VALUES
        ('img0_rgb.png',  7879695356602505833::BIGINT),
        ('img1_rgba.png', -1232109759397829069::BIGINT))
        AS t(name, phash)
      ORDER BY name""",
    "mm_phash_neardup" -> OracleXX.renderDhashNearDupOracle(maxHamming = 3),
    "mm_phash_candidates" -> OracleXX.renderDhashNearDupOracle(maxHamming = 3,
      keepAllCandidates = true),
    "mm_phash_decode_faults" -> """
      SELECT doc_id AS id,
             CASE WHEN doc_id % 17 = 5 THEN 'corrupt_png'
                  WHEN doc_id % 5 = 4 THEN 'jpeg'
                  ELSE 'png' END AS kind,
             CASE WHEN doc_id % 17 = 5 THEN 0 ELSE 1 END AS decoded
      FROM documents ORDER BY id""",
    "mm_dedup_exact" -> """
      WITH d AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id + 1000000, text FROM documents),
      m AS (
        SELECT doc_id AS id, octet_length(encode(text))::BIGINT AS b,
               md5(text) AS h
        FROM d)
      SELECT min(id) AS survivor_id, count(*)::BIGINT AS dup_count,
             sum(b)::BIGINT AS total_bytes, h AS payload_md5
      FROM m GROUP BY h ORDER BY survivor_id""",
    // stub PCM sample count (byteLen // 2), full windows only; frame grid
    // = range over (n - win) // hop + 1
    "mm_audio_frames" -> """
      WITH m AS (
        SELECT doc_id AS id,
               octet_length(encode(text))::BIGINT // 2 AS n_samples
        FROM documents WHERE doc_id % 3 = 1),
      f AS (SELECT id, unnest(range(0, (n_samples - 64) // 25 + 1)) AS fi
            FROM m WHERE n_samples >= 64)
      SELECT id, fi::BIGINT AS frame_idx, (fi * 25)::BIGINT AS start_sample,
             64::BIGINT AS win_samples, 16000::BIGINT AS sr
      FROM f ORDER BY id, frame_idx""",
    "mm_frames" -> """
      WITH m AS (
        SELECT doc_id AS id, octet_length(encode(text))::BIGINT AS len
        FROM documents),
      f AS (SELECT id, (len % 300 + 1)::INT AS nFrames FROM m)
      SELECT id, nFrames, unnest(range(0, nFrames, 10))::INT AS frame_idx
      FROM f ORDER BY id, frame_idx""",
    "events_json" -> """
      SELECT event_id, json_extract_string(props, '$.k')::BIGINT AS k
      FROM events ORDER BY event_id""",
    "events_json_malformed" -> """
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
      FROM d ORDER BY event_id""",
    "q_window_suite" -> """
      SELECT user_id, event_id,
             lag(event_id) OVER w AS prev_id,
             lead(event_id) OVER w AS next_id,
             ntile(4) OVER w AS quartile,
             percent_rank() OVER w AS prank,
             cume_dist() OVER w AS cdist
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
      ORDER BY user_id, event_id""",
    // oracle regexes generated from the SAME RedactionPatterns list the
    // engine applies (Java regex and RE2 agree on these constructs)
    "text_redact" -> {
      val redacted = TextAnalysis.RedactionPatterns.foldLeft("text") {
        case (acc, (p, repl)) => s"regexp_replace($acc, '$p', '$repl', 'g')"
      }
      s"""
      SELECT doc_id, md5($redacted) AS redacted_md5,
             (md5($redacted) <> md5(text)) AS changed
      FROM documents ORDER BY doc_id"""
    },
    // the live pipeline applies RegexFilter('"k": 8\d') + HeaderEnrich
    // (source=graft) over the events fixture — same semantics as the
    // pipe_transform batch chain, so the oracle is the same SQL
    "stream_pipeline_e2e" -> """
      SELECT event_id, props AS body, 'graft' AS source
      FROM events WHERE regexp_matches(props, '"k": 8\d')
      ORDER BY event_id""",
    // loopback POSTs carry doc_id:md5(text) lines; the sink must round-trip
    // every acked line exactly once
    "http_push_e2e" -> """
      SELECT doc_id, md5(text) AS text_md5 FROM documents ORDER BY doc_id""")
}
