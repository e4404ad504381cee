package graft

import graft.event.Event
import graft.metrics.Metrics
import graft.sources.CachedSideInput
import graft.streaming.BatchSemantics

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class MetricsSideInputSpec extends SparkSpec {

  test("observe() counters reach the metrics registry per micro-batch") {
    Metrics.install(spark)
    val work = Files.createTempDirectory("graft-metrics")
    val in = work.resolve("in"); Files.createDirectories(in)
    Files.write(in.resolve("a.txt"), "one\ntwo\nthree\n".getBytes)
    val events = graft.sources.Sources.directoryWatch(spark, in.toString)
    val q = Metrics.observed(events.toDF, "flow")
      .writeStream.format("noop")
      .queryName("metrics_q")
      .option("checkpointLocation", work.resolve("ck").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(30000)
    assert(Metrics.gauge("metrics_q", "flow.n_events").contains(3L))
    assert(Metrics.gauge("metrics_q", "flow.n_bytes").contains(11L)) // 3+3+5
    assert(Metrics.gauge("metrics_q", "numInputRows").contains(3L))
  }

  test("cached side input: broadcast snapshot, scheduled refresh, stale-on-failure") {
    val calls = new AtomicInteger(0)
    val side = CachedSideInput.getOrCreate[Map[String, Int]](
      "dims", spark,
      fetch = () => {
        val n = calls.incrementAndGet()
        if (n == 2) throw new RuntimeException("fetch down") // refresh fails once
        Map("version" -> n)
      },
      refreshEveryMillis = 200)
    try {
      assert(side.current().value == Map("version" -> 1))
      // tasks read the broadcast inside a distributed operation
      val bc = side.current()
      val summed = spark.range(10)
        .mapPartitions(it => it.map(_ => bc.value("version")))(Encoders.scalaInt)
        .reduce(_ + _)
      assert(summed == 10)
      // wait past ≥2 refresh ticks: one fails (stale kept), next succeeds.
      // Wait on the PUBLISHED snapshot, not the fetch counter — the counter
      // increments before the refreshed broadcast is re-published, so
      // asserting on current() right after calls>=3 races the in-flight
      // broadcast. Generous deadline: under full-suite load a broadcast can
      // serialize behind other suites' Spark jobs for seconds.
      val deadline = System.nanoTime() + 120e9.toLong
      while (side.current().value("version") < 3 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(calls.get() >= 3, s"refresh never advanced; lastError=${side.lastRefreshError}")
      assert(side.current().value("version") >= 3, // advanced past the failure
        s"published snapshot stale; lastError=${side.lastRefreshError}")
    } finally CachedSideInput.remove("dims")
  }

  test("cached side input: concurrent getOrCreate dedups to ONE blocking fill (the reference's promise-slot semantics)") {
    // reference CachedProxy.validateCache (CachedProxy.scala:166-230): N
    // concurrent readers hitting a cold cache must trigger exactly one
    // fetch — the rest block on the same promise slot and share its
    // result. Spark twin: getOrCreate's computeIfAbsent is the slot; a
    // slow counting fetch + a 16-thread race proves single-fill.
    val fills = new AtomicInteger(0)
    val fetch = () => {
      fills.incrementAndGet()
      Thread.sleep(300) // hold the fill open so every racer arrives cold
      Map("k" -> 1)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    try {
      val ready = new java.util.concurrent.CountDownLatch(16)
      val go = new java.util.concurrent.CountDownLatch(1)
      val got = (1 to 16).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Map[String, Int]] {
          def call(): Map[String, Int] = {
            ready.countDown(); go.await()
            CachedSideInput.getOrCreate[Map[String, Int]](
              "race", spark, fetch, refreshEveryMillis = 3600000L)
              .current().value
          }
        })
      }
      ready.await(); go.countDown()
      val values = got.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(values.forall(_ == Map("k" -> 1)))
      assert(fills.get() == 1,
        s"concurrent cold readers caused ${fills.get()} fills; want 1")
      // and they all share ONE instance (process-wide slot, not per-caller)
      val a = CachedSideInput.getOrCreate[Map[String, Int]](
        "race", spark, fetch, 3600000L)
      val b = CachedSideInput.getOrCreate[Map[String, Int]](
        "race", spark, fetch, 3600000L)
      assert(a eq b)
    } finally {
      pool.shutdownNow()
      CachedSideInput.remove("race")
    }
  }

  test("cached side input: readers during a refresh never see null or a torn snapshot") {
    val version = new AtomicInteger(0)
    val side = CachedSideInput.getOrCreate[Map[String, Int]](
      "torn", spark,
      fetch = () => {
        val v = version.incrementAndGet()
        // a non-atomic writer would expose (version -> v, echo -> v-1)
        Map("version" -> v, "echo" -> v)
      },
      refreshEveryMillis = 20)
    try {
      val deadline = System.nanoTime() + 3e9.toLong
      var reads = 0
      while (System.nanoTime() < deadline) {
        val snap = side.current() // must never be null mid-publish
        assert(snap != null, "current() returned null during refresh")
        val m = snap.value
        assert(m("version") == m("echo"), s"torn snapshot: $m")
        reads += 1
      }
      assert(version.get() >= 2, "refresh never ran during the window")
      assert(reads > 1000, s"reader starved: only $reads reads in 3s")
    } finally CachedSideInput.remove("torn")
  }

  test("streaming count-or-timeout batching flushes at the size boundary") {
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Event)]
    val input = MemoryStream[(String, Event)]
    val batches = BatchSemantics.batchByTag(input.toDS(),
      BatchSemantics.Config(batchSize = 3, batchTimeoutMillis = 0))
    val work = Files.createTempDirectory("graft-batchstream")
    val q = batches.writeStream.format("memory").queryName("batch_out")
      .option("checkpointLocation", work.resolve("ck").toString)
      .outputMode("append")
      .start()
    // NOTE: processAllAvailable never returns here — a stateful query with
    // ProcessingTimeTimeout keeps running "cleaning up state" no-data
    // batches while state exists. Poll the sink with a deadline instead.
    def rowCount(): Long =
      spark.sql("select count(*) from batch_out").collect()(0).getLong(0)
    def awaitRows(n: Long): Unit = {
      val deadline = System.nanoTime() + 30e9.toLong
      while (rowCount() < n && System.nanoTime() < deadline) Thread.sleep(200)
    }
    try {
      input.addData(("A", Event("a1")), ("A", Event("a2")), ("B", Event("b1")))
      Thread.sleep(3000) // let several batches run
      // A has 2 buffered (below size), B has 1 — nothing flushed yet
      assert(rowCount() == 0)
      input.addData(("A", Event("a3")), ("A", Event("a4")))
      awaitRows(1)
      // A reached 3 → one flush of exactly [a1,a2,a3]; a4 stays buffered
      val rows = spark.sql("select * from batch_out").collect()
      assert(rows.length == 1)
      assert(rows(0).getAs[String]("tag") == "A")
      assert(rows(0).getAs[scala.collection.Seq[String]]("bodies").toSeq == Seq("a1", "a2", "a3"))
      assert(rows(0).getAs[Boolean]("sizeFlush"))
    } finally q.stop()
  }

  test("streaming batching flushes a partial buffer when the timeout fires") {
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Event)]
    val input = MemoryStream[(String, Event)]
    val batches = BatchSemantics.batchByTag(input.toDS(),
      BatchSemantics.Config(batchSize = 100, batchTimeoutMillis = 1500))
    val work = Files.createTempDirectory("graft-batchtimer")
    val q = batches.writeStream.format("memory").queryName("batch_timer_out")
      .option("checkpointLocation", work.resolve("ck").toString)
      .outputMode("append")
      .start()
    try {
      input.addData(("T", Event("t1")), ("T", Event("t2")))
      // well below batchSize — only the processing-time timer can flush
      val deadline = System.nanoTime() + 30e9.toLong
      def rows() = spark.sql("select * from batch_timer_out").collect()
      while (rows().isEmpty && System.nanoTime() < deadline) Thread.sleep(250)
      val out = rows()
      assert(out.length == 1)
      assert(out(0).getAs[String]("tag") == "T")
      assert(out(0).getAs[scala.collection.Seq[String]]("bodies").toSeq == Seq("t1", "t2"))
      assert(!out(0).getAs[Boolean]("sizeFlush")) // timer flush, not size
    } finally q.stop()
  }

  test("batch timer measures from the FIRST buffered event — a steady trickle cannot defer the flush") {
    // regression for the re-arm-on-every-arrival bug: with events arriving
    // faster than the timeout, a timer reset on each arrival would buffer
    // forever; the reference schedules the flush once at buffer creation
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(String, Event)]
    val input = MemoryStream[(String, Event)]
    val batches = BatchSemantics.batchByTag(input.toDS(),
      BatchSemantics.Config(batchSize = 0, batchTimeoutMillis = 2000))
    val work = Files.createTempDirectory("graft-trickle")
    val q = batches.writeStream.format("memory").queryName("trickle_out")
      .option("checkpointLocation", work.resolve("ck").toString)
      .outputMode("append")
      .start()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val feeder = new Thread(() => {
      var i = 0
      while (!stop.get() && i < 60) {
        input.addData(("K", Event(s"e$i")))
        i += 1
        Thread.sleep(500) // always under the 2 s timeout
      }
    })
    feeder.setDaemon(true)
    try {
      feeder.start()
      def rows() = spark.sql("select * from trickle_out").collect()
      val deadline = System.nanoTime() + 25e9.toLong
      while (rows().isEmpty && System.nanoTime() < deadline) Thread.sleep(250)
      val out = rows()
      assert(out.nonEmpty, "trickle deferred the timeout flush indefinitely")
      val first = out(0).getAs[scala.collection.Seq[String]]("bodies")
      assert(first.head == "e0", "flush must start with the first buffered event")
      assert(!out(0).getAs[Boolean]("sizeFlush"))
    } finally { stop.set(true); q.stop() }
  }

  test("batch timer: a buffer past its deadline flushes before rows that arrive later") {
    // the state function under a trickle that reaches every micro-batch,
    // with Spark's processing clock pinned: Spark never reports a timeout
    // for a tag with new rows, so the deadline must be met on the data path
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val step = BatchSemantics.step(
      BatchSemantics.Config(batchSize = 0, batchTimeoutMillis = 2000)) _
    var held = Optional.empty[BatchSemantics.Buffered]()
    val out = (0 to 10).flatMap { i =>
      val now = i * 500L
      val state = TestGroupState.create(held,
        GroupStateTimeout.ProcessingTimeTimeout(), now, Optional.empty[Long](),
        false)
      val flushed = step("K", Iterator(("K", Event(s"e$i"))), state).toVector
      held = if (state.exists) Optional.of(state.get) else Optional.empty()
      flushed.map(b => (now, b))
    }
    // deadlines at 2000 (buffer opened at 0), then 4000 (reopened at 2000)
    assert(out.map { case (t, b) => (t, b.bodies, b.sizeFlush) } == Seq(
      (2000L, (0 to 3).map(i => s"e$i"), false),
      (4000L, (4 to 7).map(i => s"e$i"), false)), s"flushes: $out")
    assert(held.get.firstTs == 4000L &&
      held.get.events.map(_.body) == Seq("e8", "e9", "e10"))
  }

  test("streaming dedup: duplicate event ids across micro-batches are dropped within the watermark") {
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, String)]
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val ts = (s: Long) => new java.sql.Timestamp(1700000000000L + s * 1000)
    val deduped = input.toDS().toDF("event_id", "ts", "body")
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("event_id")
    val work = Files.createTempDirectory("graft-streamdedup")
    val q = deduped.writeStream.format("memory").queryName("sdd_out")
      .option("checkpointLocation", work.resolve("ck").toString)
      .outputMode("append")
      .start()
    try {
      input.addData((1L, ts(0), "a"), (2L, ts(1), "b"), (1L, ts(2), "a-dup"))
      q.processAllAvailable()
      input.addData((2L, ts(3), "b-dup"), (3L, ts(4), "c")) // dup arrives in a LATER batch
      q.processAllAvailable()
      val ids = spark.sql("select event_id from sdd_out").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L), s"got ${ids.toSeq}")
    } finally q.stop()
  }
}
