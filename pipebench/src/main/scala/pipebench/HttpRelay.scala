package pipebench

import java.net.{InetSocketAddress, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors, Semaphore, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpServer

import graft.config.GraftConfig
import graft.event.Event
import graft.sources.http.HttpPushRegistry
import graft.streaming.Pipeline

import org.apache.spark.sql.Encoders

/** `http_relay`: HTTP push source → `RegexFilter` (drops `DEBUG`) +
  * `HeaderEnrich` → `http` sink → a loopback receiver in the bench.
  *
  * Load is open loop: [[Rate]] requests/s of [[EventsPerRequest]] events at
  * seeded, phase-stratified times (see [[arrivals]]), at most
  * [[MaxInFlight]] requests in flight.
  * A request is timed from its due time, so a stall also delays the
  * requests queued behind it, and the generator's lateness is recorded. A
  * closed loop (send the next request when the last is acked) falls into
  * either of two phases against the micro-batch boundary and reads twice
  * as slow in one of them; arrivals on a schedule do not. */
object HttpRelay {
  val Rate = 2.0
  val EventsPerRequest = 255
  val MaxInFlight = 4
  val WarmupSeconds = 2
  /** Pipeline set-ups per run, one request each. The first is JVM-cold and
    * gives `setup_s`; the later ones only warm the start and ack paths. */
  val SetupReps = 3
  /** The source's trigger interval. Batch cost varies by a third between
    * JVMs on a shared host; back-to-back batches put all of it into the
    * wait for the next batch as well as the batch itself, so ack latency
    * swung twice as far. A batch takes about 250 ms here, so the interval
    * is twice that: a slower host lengthens the batch but does not turn
    * the engine back-to-back. The batch cost still shows in full. One
    * request arrives per interval ([[Rate]] = 1000 / TriggerMs). */
  val TriggerMs = 500

  /** One request: its body and which of its event ids survive the filter. */
  final case class Req(id: Int, body: String, kept: Set[Long])

  def requests(seed: Long, first: Int, n: Int): IndexedSeq[Req] =
    (first until first + n).map { i =>
      val r = new java.util.SplittableRandom(seed * 1000003L + i)
      val lines = (0 until EventsPerRequest).map { j =>
        val id = i.toLong * EventsPerRequest + j
        val u = r.nextInt(100)
        val level = if (u < 10) "DEBUG" else if (u < 15) "ERROR" else if (u < 30) "WARN" else "INFO"
        (id, level, s"$level evt=$id user=u${r.nextInt(5000)} took=${r.nextInt(2000)}ms " +
          s"path=/api/v${1 + r.nextInt(3)}/items/${r.nextInt(100000)}")
      }
      Req(i, lines.map(_._3).mkString("\n"),
        lines.collect { case (id, l, _) if l != "DEBUG" => id }.toSet)
    }

  /** The sink's remote end: counts every event id it is sent and rejects a
    * body it cannot parse. */
  final class Receiver {
    val counts = new ConcurrentHashMap[Long, AtomicInteger]()
    val requests = new AtomicLong()
    val bytes = new AtomicLong()
    val non2xx = new AtomicLong()
    val digest = new AtomicLong()
    private val pool = Executors.newFixedThreadPool(2, daemon("receiver"))
    val server: HttpServer = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
    server.setExecutor(pool)
    server.createContext("/", ex => {
      val raw = ex.getRequestBody.readAllBytes()
      requests.incrementAndGet(); bytes.addAndGet(raw.length)
      val lines = new String(raw, java.nio.charset.StandardCharsets.UTF_8).split('\n')
      val ids = lines.map(l => scala.util.Try(l.split(' ')(1).stripPrefix("evt=").toLong).toOption)
      val status = if (ids.forall(_.isDefined)) 200 else 400
      if (status == 200) lines.zip(ids).foreach { case (l, id) =>
        counts.computeIfAbsent(id.get, _ => new AtomicInteger()).incrementAndGet()
        digest.addAndGet(Gen.hash64(l))
      } else non2xx.incrementAndGet()
      ex.sendResponseHeaders(status, -1); ex.close()
    })
    server.start()
    def port: Int = server.getAddress.getPort
    def count(id: Long): Int = Option(counts.get(id)).map(_.get).getOrElse(0)
    def stop(): Unit = { server.stop(0); pool.shutdownNow() }
  }

  def daemon(name: String): java.util.concurrent.ThreadFactory = r => {
    val t = new Thread(r, name); t.setDaemon(true); t
  }

  /** Sends `reqs` at `t0 + offsets`, open loop, and waits for every reply. */
  final class Load(reqs: IndexedSeq[Req], offsetsNs: Array[Long], port: Int,
                   client: HttpClient) {
    val n = reqs.size
    val due = new Array[Long](n)
    val sent = new Array[Long](n)
    val done = new Array[Long](n)
    val status = new Array[Int](n)

    def run(t0: Long): Unit = {
      val inflight = new Semaphore(MaxInFlight)
      val latch = new CountDownLatch(n)
      val uri = URI.create(s"http://127.0.0.1:$port/")
      for (i <- 0 until n) {
        due(i) = t0 + offsetsNs(i)
        parkUntil(due(i))
        inflight.acquire()
        sent(i) = System.nanoTime()
        val req = HttpRequest.newBuilder(uri).timeout(java.time.Duration.ofSeconds(60))
          .POST(HttpRequest.BodyPublishers.ofString(reqs(i).body)).build()
        client.sendAsync(req, HttpResponse.BodyHandlers.discarding())
          .whenComplete { (r, e) =>
            done(i) = System.nanoTime()
            status(i) = if (e == null) r.statusCode() else -1
            inflight.release()
            latch.countDown()
          }
      }
      latch.await(120, TimeUnit.SECONDS)
    }
    def ok(i: Int): Boolean = status(i) == 201
    def latencyMs(i: Int): Double = (done(i) - due(i)) / 1e6
  }

  /** Arrival offsets of `n` requests in `seconds`: one per slot of
    * `seconds / n` (one trigger interval at [[Rate]]), at a seeded phase
    * in the first [[SlotUse]] of the slot. The phases are stratified: the
    * n requests take the n equal strata of that span in a seeded order,
    * each at a seeded point inside its stratum. A request's wait for the
    * next batch is set by its phase against the trigger, so every run
    * samples that wait evenly. With Poisson arrivals the median of 24
    * waits moved by about ±interval/(2√24) from the phases alone, and a
    * burst could fill the in-flight cap. */
  def arrivals(seed: Long, n: Int, seconds: Double): Array[Long] = {
    val r = new java.util.SplittableRandom(seed)
    val strata = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = strata(i); strata(i) = strata(j); strata(j) = t
    }
    val slotNs = seconds * 1e9 / n
    Array.tabulate(n)(i => (slotNs * (i + SlotUse * (strata(i) + r.nextDouble()) / n)).toLong)
  }

  /** Share of a slot that arrivals may fall in: the rest keeps a request
    * clear of the trigger that ends its slot, so that it is not split from
    * its batch by a few ms of sending time. */
  val SlotUse = 0.9

  /** The `System.nanoTime` of the next trigger time at least one interval
    * ahead. Spark fires a processing-time trigger at whole multiples of its
    * interval on the wall clock, so slots that start here are trigger
    * intervals, and each batch carries the one request of its slot. With
    * the slots at a random offset, an interval got 0, 1 or 2 requests, the
    * number of batches in a window varied from run to run, and the CPU per
    * event with it: most of a batch's cost is fixed. */
  def triggerAligned(): Long = {
    val now = Clock.ms
    val at = (math.floor(now / TriggerMs) + 2) * TriggerMs
    System.nanoTime() + ((at - now) * 1e6).toLong
  }

  /** Blocks until `System.nanoTime` reaches `ns`. */
  def parkUntil(ns: Long): Unit = {
    var now = System.nanoTime()
    while (now < ns) { LockSupport.parkNanos(ns - now); now = System.nanoTime() }
  }

  def config(port: Int, receiverPort: Int, traced: Boolean): String = {
    val sink =
      if (traced) """fqcn = "pipebench.TimedSink", wrap = http""" else "type = http"
    s"""graft {
       |  source { relay_in { type = http-push, listen-port = $port, max-connections = 8,
       |    trigger-interval = ${TriggerMs}ms, interceptors = [drop_debug, enrich],
       |    sinks = [relay] } }
       |  interceptor {
       |    drop_debug { fqcn = "graft.interceptor.RegexFilter", priority = 90,
       |                 pattern = "^(INFO|WARN|ERROR) " }
       |    enrich { fqcn = "graft.interceptor.HeaderEnrich", priority = 10,
       |             headers { pipeline = relay, zone = loopback } }
       |  }
       |  sink { relay { $sink, remote-url = "http://127.0.0.1:$receiverPort/",
       |    max-connections = 4, batch-size = 128 } }
       |}""".stripMargin
  }

  def run(o: Opts): Outcome = {
    val rec = Trace.rec
    val receiver = new Receiver
    val clientPool = Executors.newFixedThreadPool(2, daemon("load"))
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .executor(clientPool).build()
    val (spark, sessionS) = Main.timedSession(o, o.cores)

    // set-up: start the pipeline, wait for its first committed batch (one
    // request acked); repeated as warm-up, the last pipeline stays up for
    // the run
    var port = 0
    var query: org.apache.spark.sql.streaming.StreamingQuery = null
    val setupReqs = requests(o.seed, 0, SetupReps)
    val setupOk = new Array[Boolean](SetupReps)
    val (startS, firstS) = (0 until SetupReps).map { k =>
      port = Main.freePort()
      val cfg = GraftConfig.parse(config(port, receiver.port, o.trace))
      val t0 = Clock.ms
      query = Pipeline.start(spark, cfg, o.work.resolve(s"ck-$k").toString).head.query
      val t1 = Clock.ms
      while (HttpPushRegistry.lookup(port).isEmpty) {
        query.exception.foreach(e => throw e)
        Thread.sleep(2)
      }
      val one = new Load(IndexedSeq(setupReqs(k)), Array(0L), port, client)
      one.run(System.nanoTime())
      setupOk(k) = one.ok(0)
      val t2 = Clock.ms
      if (k < SetupReps - 1) { query.stop(); rec.awaitTerminated(query.id.toString) }
      ((t1 - t0) / 1000, (t2 - t1) / 1000)
    }.unzip
    val setup = Setup(sessionS, startS.head, firstS.head)
    Main.log("set up")

    val nWarm = (Rate * WarmupSeconds).round.toInt
    val warmReqs = requests(o.seed, SetupReps, nWarm)
    val warm = new Load(warmReqs, arrivals(o.seed ^ 0x5eed, nWarm, WarmupSeconds), port, client)
    warm.run(triggerAligned())

    val n = (Rate * o.seconds).round.toInt
    val reqs = requests(o.seed, SetupReps + nWarm, n)
    val load = new Load(reqs, arrivals(o.seed, n, o.seconds), port, client)
    val endpoint = HttpPushRegistry.lookup(port)
    val backlog = new AtomicLong()
    @volatile var sampling = o.trace
    val sampler = new Thread(() => while (sampling) {
      endpoint.foreach(ep => backlog.accumulateAndGet(ep.latest - ep.base, math.max))
      Thread.sleep(5)
    })
    sampler.setDaemon(true)
    val jvm = Main.jvmWindow()
    val tLoad = triggerAligned()
    parkUntil(tLoad)
    val (cpu0, jit0) = (Cpu.ms, Cpu.jitMs)
    if (o.trace) sampler.start()
    load.run(tLoad)
    val (loadCpuMs, loadJitMs) = (Cpu.ms - cpu0, Cpu.jitMs - jit0)
    sampling = false
    val jvmMetrics = jvm.metrics
    Main.log("load sent and acked")
    query.stop()
    rec.awaitTerminated(query.id.toString)
    rec.drainJobEvents(spark)

    // output check: every event of an acked request reached the receiver
    // exactly once, minus the DEBUG lines the filter drops; nothing else did
    val all = setupReqs ++ warmReqs ++ reqs
    val acked = setupOk.toSeq ++ warmReqs.indices.map(warm.ok) ++ reqs.indices.map(load.ok)
    val okAll = all.indices.map { k =>
      val r = all(k)
      val ids = r.id.toLong * EventsPerRequest until (r.id + 1L) * EventsPerRequest
      acked(k) && ids.forall(id => receiver.count(id) == (if (r.kept(id)) 1 else 0))
    }
    val maxId = (all.last.id + 1L) * EventsPerRequest
    val stray = receiver.counts.keySet().asScala.count(id => id < 0 || id >= maxId)
    val timedOk = reqs.indices.map(i => okAll(setupReqs.size + warmReqs.size + i))
    val failed = timedOk.count(!_) + stray
    val correct = okAll.forall(identity) && stray == 0 && receiver.non2xx.get == 0

    val okIdx = reqs.indices.filter(timedOk)
    val lat = reqs.indices.filter(load.ok).map(load.latencyMs)
    val delivered = okIdx.map(i => reqs(i).kept.size).sum.toDouble
    val spanMs = (load.done.max - load.due.min) / 1e6
    val eventsPerS = delivered / (spanMs / 1000)
    val cpuPerKevent = Drains.perKevent(loadCpuMs, delivered)
    val late = reqs.indices.map(i => (load.sent(i) - load.due(i)) / 1e6)
    val e2e = Seq(
      Metric("setup_s", setup.setupS, "s"),
      Metric("cpu_ms_per_kevent", cpuPerKevent, "ms"),
      Metric("ok_ratio", (n - failed).toDouble / n, "ratio"))

    val layers = if (!o.trace) Nil else {
      val t0 = Clock.fromNanos(load.due.min)
      val t1 = Clock.fromNanos(load.done.max)
      val bs = rec.batchesOf(query.id.toString).filter(b => b.startMs >= t0 && b.startMs <= t1)
      val seen = rec.batchesOf(query.id.toString).map(_.seenMs).sorted
      // one span tree per request: due → 201, with the generator's wait
      // and the ack release (the progress event that freed it → 201)
      val release = okIdx.flatMap { i =>
        val (due, done) = (Clock.fromNanos(load.due(i)), Clock.fromNanos(load.done(i)))
        rec.span("request", s"req/$i", "", due, done)
        rec.span("generator.wait", s"req/$i", "request", due, Clock.fromNanos(load.sent(i)))
        seen.filter(_ <= done).lastOption.map { p =>
          rec.span("sources.ack_release", s"req/$i", "request", p, done)
          done - p
        }
      }
      val chainCfg = GraftConfig.parse(config(0, receiver.port, traced = false))
      val events = spark.createDataset(reqs.flatMap(_.body.split('\n')).map(Event(_)))(
        Encoders.product[Event])
      setup.metrics ++ Main.streamingMetrics(rec, bs, n * EventsPerRequest, "sinks") ++
      jvmMetrics ++ Seq(
        Metric("sources.http_backlog_max", backlog.get.toDouble, "count"),
        Metric("sources.ack_release_ms_p50", Stats.median(release), "ms"),
        Metric("sources.http_shed", reqs.indices.count(load.status(_) == 503).toDouble, "count"),
        Metric("interceptor.rows_in", (n * EventsPerRequest).toDouble, "count"),
        Metric("interceptor.rows_out", reqs.map(r => r.kept.count(receiver.count(_) > 0)).sum.toDouble, "count"),
        Metric("interceptor.chain_ms_per_1e5",
          Drains.chainMsPer1e5(spark, chainCfg, Seq("drop_debug", "enrich"), events), "ms"),
        Metric("sinks.write_ms_p50", Stats.median(Main.writerMs(rec, bs)), "ms"),
        Metric("sinks.http_requests", receiver.requests.get.toDouble, "count"),
        Metric("sinks.http_bytes", receiver.bytes.get.toDouble, "bytes"),
        Metric("sinks.http_non2xx", receiver.non2xx.get.toDouble, "count"),
        Metric("bench.gen_late_p99_ms", Stats.pct(late, 0.99), "ms"),
        Metric("bench.traced_events_per_s", eventsPerS, "1/s"),
        Metric("bench.traced_cpu_ms_per_kevent", cpuPerKevent, "ms"),
        Metric("bench.traced_ack_p50_ms", Stats.pct(lat, 0.5), "ms"))
    }
    Main.log("checked")
    spark.stop()
    receiver.stop()
    clientPool.shutdownNow()
    Outcome(correct, n, failed, e2e, layers, Seq(
      "ack_samples" -> lat.size, "ack_p50_ms" -> Stats.pct(lat, 0.5),
      "ack_p90_ms" -> Stats.pct(lat, 0.9), "events_per_s" -> eventsPerS,
      "window_jit_s" -> loadJitMs / 1000,
      "gen_late_p99_ms" -> Stats.pct(late, 0.99),
      "gen_late_max_ms" -> late.max,
      "output_digest" -> java.lang.Long.toHexString(receiver.digest.get)))
  }
}
