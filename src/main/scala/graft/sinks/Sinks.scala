package graft.sinks

import graft.util.Materialize
import graft.config.GraftConfig
import graft.event.Event
import graft.functions.{Backoff, DumpCodec}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sink-side operators (SURVEY.md §2.3): routing, delivery connectors, and
  * the reliability semantics the reference implements by hand (ack windows,
  * retry backoff, disk dump) re-expressed on Spark's micro-batch epoch
  * model. The epoch commit *is* the reference's transaction ack: a batch's
  * offsets are committed to the checkpoint only after every sink write of
  * that batch returned — which is exactly the per-source barrier of
  * `KafkaSynchronousAckSinkSemantics` (reference `:151-173`) for free.
  */
object Sinks {

  // ---- routing ----------------------------------------------------------

  /** A named sink route: `accept` is the sink's acceptance predicate over
    * the Event schema (reference `Sink.accept(event)`, `Sink.scala:223`). */
  final case class Route(name: String, accept: Column)

  /** First-match routing (reference `Source.scala:339-365`): an event goes
    * to the first route whose predicate accepts it; events no route accepts
    * are discarded (reference logs + drops). With a single route the
    * predicate is bypassed entirely (`skip-accept-check-on-single`,
    * reference `:339-349`) — Catalyst constant-folds the `lit(true)`.
    * Returns the batch with a `__sink` column; null = discard. */
  def assign(batch: DataFrame, routes: Seq[Route],
             skipAcceptCheckOnSingle: Boolean = true): DataFrame = {
    val sinkCol =
      if (routes.sizeIs == 1 && skipAcceptCheckOnSingle) lit(routes.head.name)
      else routes.foldRight(lit(null).cast("string")) { (r, rest) =>
        when(r.accept, lit(r.name)).otherwise(rest)
      }
    batch.withColumn("__sink", sinkCol)
  }

  /** Mutually-exclusive fan-out of one micro-batch to its routed sinks —
    * the `foreachBatch` body for multi-sink pipelines. The batch is
    * persisted once so N sink filters don't recompute the source scan. */
  def fanout(batch: DataFrame, routes: Seq[Route],
             writers: Map[String, DataFrame => Unit],
             skipAcceptCheckOnSingle: Boolean = true): Unit =
    fanoutEpoch(batch, routes,
      writers.view.mapValues(w => (df: DataFrame, _: Long) => w(df)).toMap,
      epoch = -1L, skipAcceptCheckOnSingle)

  /** [[fanout]] with the micro-batch EPOCH (foreachBatch batchId) passed
    * through to the writers — what exactly-once sinks
    * ([[graft.streaming.EpochSinkPlugin]]) key their idempotent writes on. */
  def fanoutEpoch(batch: DataFrame, routes: Seq[Route],
                  writers: Map[String, (DataFrame, Long) => Unit],
                  epoch: Long,
                  skipAcceptCheckOnSingle: Boolean = true): Unit = Materialize.scope {
    val routed = assign(batch, routes, skipAcceptCheckOnSingle)
    // Materialize.persist returns the persisted frame (the salt changes the
    // plan), so the sink filters below must run on ITS return value
    val assigned = if (routes.sizeIs > 1) Materialize.persist(routed) else routed
    routes.foreach { r =>
      writers.get(r.name).foreach { w =>
        w(assigned.where(col("__sink") === r.name).drop("__sink"), epoch)
      }
    }
  }

  // ---- kafka ------------------------------------------------------------

  /** Kafka producer projection (reference `KafkaSinkSemantics.kafkaSend`
    * `:109-150` + per-event topic-header routing `KafkaLimitAckSink.scala:48-50`
    * + random-UUID keys `KafkaSink.scala:18-21`): a per-row `topic` column
    * replaces the topic-header indirection, `uuid()` replaces the
    * MetadataParser default key. Write with
    * `.writeStream.format("kafka")` on a cluster with the kafka connector;
    * ack-window backpressure (`max-pending-acks`, reference `:202-218`) is
    * subsumed by producer configs + the micro-batch barrier. */
  def kafkaRecords(events: DataFrame, staticTopic: Option[String],
                   topicHeader: Option[String] = None): DataFrame = {
    val topicCol = (topicHeader, staticTopic) match {
      case (Some(h), Some(t)) => coalesce(element_at(col("headers"), h), lit(t))
      case (Some(h), None)    => element_at(col("headers"), h)
      case (None, Some(t))    => lit(t)
      case _ => throw new IllegalArgumentException("kafka sink needs a topic")
    }
    events.select(uuid().as("key"), col("body").as("value"), topicCol.as("topic"))
  }

  def kafkaSinkOptions(cfg: GraftConfig): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> cfg.getString("bootstrap-servers"),
    // reference must-send infinite retry → producer-level retries
    "kafka.retries" -> cfg.getString("retries", Int.MaxValue.toString),
    "kafka.max.in.flight.requests.per.connection" ->
      cfg.getString("max-in-flight", "5"))

  // ---- file / noop ------------------------------------------------------

  def fileWriter(path: String, format: String = "parquet"): DataFrame => Unit =
    batch => batch.write.mode("append").format(format).save(path)

  def noopWriter: DataFrame => Unit =
    batch => { batch.write.format("noop").mode("overwrite").save(); () }

  // ---- HTTP -------------------------------------------------------------

  /** HTTP delivery policy — parity with the reference's response handling
    * (`HttpSink.scala:270-310`): 2xx done, 4xx drop, 5xx retry, transport
    * error retry; retry delay `min(2^n*1000+jitter, cap)`
    * (`HttpLimitRequestSinkSemantics.scala:123-131`). */
  final case class HttpSinkConfig(
      url: String,
      method: String = "POST",
      contentType: String = "text/plain",
      basicAuth: Option[(String, String)] = None, // reference HttpSink.scala:86-93
      gzipBody: Boolean = false,
      batchJoin: String = "\n",     // reference assembleBatchBody HttpSink.scala:151-154
      maxRetries: Int = 3,          // reference HttpSink.scala:37-38
      backoffCapMillis: Long = Backoff.DefaultCapMillis,
      maxConnections: Int = 32,     // reference HttpSinkSemantics.scala:38-39
      requestLimits: Int = 512,     // reference in-flight window :29-30
      dumpDir: Option[String] = None)

  object HttpSinkConfig {
    def fromConfig(c: GraftConfig): HttpSinkConfig = HttpSinkConfig(
      url = c.getString("remote-url"),
      method = c.getString("http-method", "POST"),
      contentType = c.getString("content-type", "text/plain"),
      basicAuth = for {
        u <- c.getStringOpt("auth-username"); p <- c.getStringOpt("auth-password")
      } yield (u, p),
      gzipBody = c.getBoolean("gzip-body", default = false),
      maxRetries = c.getInt("max-retries", 3),
      backoffCapMillis = c.getDuration("request-retry-backoff",
        scala.concurrent.duration.FiniteDuration(32000, "ms")).toMillis,
      maxConnections = c.getInt("max-connections", 32),
      requestLimits = c.getInt("request-limits", 512),
      dumpDir = c.getStringOpt("event-dump-path"))
  }

  /** Final fate of one delivery attempt sequence (reference response policy,
    * `HttpSink.scala:270-310`): `Dropped` = 4xx permanent rejection — the
    * reference drops these WITHOUT dumping; `Exhausted` = 5xx/transport
    * retries used up — the only spill-worthy outcome (re-ingesting a dumped
    * 4xx would be re-rejected forever). */
  sealed trait Delivery
  case object Delivered extends Delivery
  case object Dropped extends Delivery
  case object Exhausted extends Delivery

  object HttpConnector {
    /** Per-JVM shared transport state, keyed by sink config — all partitions
      * of an executor share ONE wire-concurrency pool and ONE in-flight
      * window per sink, like the reference's single host-connection-pool
      * per sink instance (`HttpSinkSemantics.scala:130-190`). */
    private[graft] final case class Shared(
        exec: java.util.concurrent.ExecutorService,
        window: java.util.concurrent.Semaphore)
    /** Registry bound: beyond this many distinct sink configs, the
      * least-recently-used entry's pool is shut down and evicted (config
      * churn — e.g. per-tenant URLs cycling — must not accumulate pools for
      * executor lifetime). Shutdown is graceful: in-flight sends finish; a
      * retry re-submitted to an evicted pool fails its delivery future
      * loudly (see `deliverAsync`) instead of hanging the epoch barrier. */
    private val MaxShared = 64
    private val shared =
      new java.util.LinkedHashMap[(String, Int, Int), Shared](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Int, Int), Shared]): Boolean = {
          val evict = size() > MaxShared
          if (evict) e.getValue.exec.shutdown()
          evict
        }
      }
    private[graft] def sharedFor(cfg: HttpSinkConfig): Shared = shared.synchronized {
      shared.computeIfAbsent((cfg.url, cfg.maxConnections, cfg.requestLimits), _ => {
        val tf = new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger(0)
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-http-${n.getAndIncrement()}")
            t.setDaemon(true); t
          }
        }
        // a fixed pool of maxConnections threads doing BLOCKING sends bounds
        // wire concurrency structurally — exactly `max-connections` requests
        // on the wire (reference HttpSinkSemantics.scala:38-39)
        Shared(java.util.concurrent.Executors.newFixedThreadPool(cfg.maxConnections, tf),
               new java.util.concurrent.Semaphore(cfg.requestLimits))
      })
    }
    /** Test hook: number of live pools in the registry. */
    private[graft] def sharedPoolCount: Int = shared.synchronized(shared.size())
  }

  /** HTTP sink connector: runs inside `foreachPartition` on executors with a
    * bounded-concurrency JDK HttpClient (the reference's akka
    * host-connection-pool + request queue, `HttpSinkSemantics.scala:130-190`).
    * `deliverAsync` enforces BOTH knobs: `requestLimits` (512) gates the
    * submitter — `deliverAsync` blocks when that many deliveries are
    * un-completed, which is the reference's upstream backpressure
    * (`HttpLimitRequestSinkSemantics.scala:29-30,295-305`) — and
    * `maxConnections` (32) bounds concurrent wire requests. Retry backoff is
    * scheduled on a delayed executor, so a backing-off delivery holds its
    * window slot (as in the reference) but never a connection thread.
    * Undeliverable events after `maxRetries` are spilled with `DumpCodec` to
    * `dumpDir` (reference dump, `HttpLimitRequestSinkSemantics.scala:314-349`)
    * for re-ingestion as a retry stream; 4xx rejections are dropped. */
  final class HttpConnector(cfg: HttpSinkConfig) extends Serializable {
    @transient private lazy val client: java.net.http.HttpClient =
      java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofSeconds(10))
        .build()
    @transient private lazy val sharedState = HttpConnector.sharedFor(cfg)

    /** Response policy: Right(()) done; Left(true) retry; Left(false) drop. */
    def classify(status: Int): Either[Boolean, Unit] =
      if (status >= 200 && status < 300) Right(())
      else if (status >= 400 && status < 500) Left(false) // drop, reference policy
      else Left(true)                                     // 5xx → retry

    def sendBody(body: Array[Byte]): Int = {
      // GET carries the payload as query parameter `record` (reference
      // HttpSink.scala:150-171); other methods send it as the request body
      val req =
        if (cfg.method.equalsIgnoreCase("GET")) {
          val rec = java.net.URLEncoder.encode(
            new String(body, java.nio.charset.StandardCharsets.UTF_8), "UTF-8")
          val sep = if (cfg.url.contains("?")) "&" else "?"
          java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"${cfg.url}${sep}record=$rec")).GET()
        } else {
          val b = if (cfg.gzipBody) graft.functions.Compressor.gzipCompress(body) else body
          val r = java.net.http.HttpRequest.newBuilder(java.net.URI.create(cfg.url))
            .header("Content-Type", cfg.contentType)
            .method(cfg.method,
              java.net.http.HttpRequest.BodyPublishers.ofByteArray(b))
          if (cfg.gzipBody) r.header("Content-Encoding", "gzip")
          r
        }
      cfg.basicAuth.foreach { case (u, p) =>
        req.header("Authorization", "Basic " + java.util.Base64.getEncoder
          .encodeToString(s"$u:$p".getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      }
      client.send(req.build(),
        java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
    }

    /** Synchronous single-delivery with the retry/backoff policy — the
      * simple path for tests and driver-side use. */
    def deliverOutcome(body: Array[Byte],
                       sleeper: Long => Unit = Thread.sleep): Delivery = {
      var attempt = 0
      while (attempt <= cfg.maxRetries) {
        val outcome =
          try classify(sendBody(body))
          catch { case _: java.io.IOException => Left(true) } // transport error → retry
        outcome match {
          case Right(())   => return Delivered
          case Left(false) => return Dropped
          case Left(true)  =>
            if (attempt < cfg.maxRetries)
              sleeper(Backoff.randomDelayMillis(attempt.toDouble, cfg.backoffCapMillis))
            attempt += 1
        }
      }
      Exhausted
    }

    def deliver(body: Array[Byte], sleeper: Long => Unit = Thread.sleep): Boolean =
      deliverOutcome(body, sleeper) == Delivered

    /** Asynchronous bounded delivery. BLOCKS the caller while `requestLimits`
      * deliveries are in flight (upstream gating); each attempt runs on the
      * shared `maxConnections`-thread pool; retries are re-scheduled after
      * backoff without occupying a connection slot. The returned future
      * completes with the delivery's final fate and frees the window slot. */
    def deliverAsync(body: Array[Byte]): java.util.concurrent.CompletableFuture[Delivery] = {
      import java.util.concurrent.{CompletableFuture, TimeUnit}
      val st = sharedState
      st.window.acquire()
      val done = new CompletableFuture[Delivery]()
      // the execute() call itself can throw (pool evicted/shut down by the
      // LRU registry) — that must fail the future, not leak the window slot
      def attempt(n: Int): Unit = try {
        st.exec.execute { () =>
          // a non-IO throwable (bad URI, SSL config, interrupt) MUST fail
          // the future — an incomplete future would leak its window permit
          // and hang the writer's partition barrier forever
          try {
            val outcome =
              try classify(sendBody(body))
              catch { case _: java.io.IOException => Left(true) } // transport → retry
            outcome match {
              case Right(())   => done.complete(Delivered); ()
              case Left(false) => done.complete(Dropped); ()
              case Left(true) if n >= cfg.maxRetries => done.complete(Exhausted); ()
              case Left(true) =>
                val delay = Backoff.randomDelayMillis(n.toDouble, cfg.backoffCapMillis)
                CompletableFuture.delayedExecutor(delay, TimeUnit.MILLISECONDS)
                  .execute(() => attempt(n + 1))
            }
          } catch {
            case t: Throwable => done.completeExceptionally(t); ()
          }
        }
      } catch { case t: Throwable => done.completeExceptionally(t); () }
      attempt(0)
      done.whenComplete((_, _) => st.window.release())
    }
  }

  /** The `foreachBatch` writer: per partition, events are grouped into
    * bodies of `batchSize` joined with `batchJoin` (reference batch
    * assembly) and delivered via `deliverAsync` — up to `requestLimits`
    * bodies in flight, `maxConnections` on the wire, the partition thread
    * blocking when the window fills (reference upstream gating). Only
    * retry-EXHAUSTED deliveries are spilled via `DumpCodec`; 4xx
    * rejections are dropped (dumping them would re-reject forever on
    * recovery). */
  def httpWriter(cfg: HttpSinkConfig, batchSize: Int = 128): DataFrame => Unit = {
    batch =>
      val connector = new HttpConnector(cfg)
      val join = cfg.batchJoin
      val dumpDir = cfg.dumpDir
      batch.select(col("body"), col("headers")).foreachPartition {
        (rows: Iterator[org.apache.spark.sql.Row]) =>
          // memory contract: event references are DROPPED as each delivery
          // resolves — only retry-Exhausted groups move to the spill queue,
          // and only when a dumpDir is configured. (Retaining every group
          // until the barrier held the whole partition's bodies in executor
          // memory simultaneously — an OOM hazard on large micro-batches.)
          val futures = new scala.collection.mutable.ArrayBuffer[
            java.util.concurrent.CompletableFuture[_]]()
          val spill = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Seq[Event])]()
          var idx = 0
          rows.grouped(batchSize).foreach { group =>
            val events = group.map(r => Event(r.getString(0),
              Option(r.getMap[String, String](1)).map(_.toMap).getOrElse(Map.empty))).toSeq
            val body = events.map(_.body).mkString(join)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val fut = connector.deliverAsync(body)
            futures += (dumpDir match {
              case Some(_) =>
                val i = idx // original submit order, so the dump is stable
                fut.thenApply[Delivery] { d =>
                  if (d == Exhausted) spill.add((i, events)); d }
              case None => fut // nothing to spill — retain no references
            })
            idx += 1
          }
          // partition (= epoch) barrier: every delivery resolved before the
          // micro-batch commits — the reference's synchronous-ack semantics;
          // join() rethrows a delivery that failed with a non-IO throwable
          futures.foreach(_.join())
          dumpDir.foreach { dir =>
            import scala.jdk.CollectionConverters._
            val ordered = spill.asScala.toVector.sortBy(_._1).flatMap(_._2)
            if (ordered.nonEmpty) {
              val p = java.nio.file.Paths.get(dir,
                s"dump-${java.util.UUID.randomUUID()}.txt")
              java.nio.file.Files.createDirectories(p.getParent)
              val w = java.nio.file.Files.newBufferedWriter(p)
              try ordered.foreach { e => w.write(DumpCodec.encode(e)); w.newLine() }
              finally w.close()
            }
          }
      }
  }

  /** Recover a dump directory (reference boot recovery,
    * `HttpLimitRequestSinkSemantics.scala:358-371`) as a Dataset of events
    * ready to re-enter a pipeline. */
  def recoverDump(spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[Event] = {
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[Event]
    spark.read.textFile(dir).map(DumpCodec.decode)
  }

  // ---- syslog -----------------------------------------------------------

  /** RFC 3164 / RFC 5424 syslog message formatting (reference
    * `semantics-syslog` delegates to a client lib; the wire formats are
    * public specs, implemented directly — no dependency). */
  object Syslog {
    /** PRI = facility * 8 + severity. */
    def pri(facility: Int, severity: Int): Int = facility * 8 + severity

    // DateTimeFormatter is immutable/thread-safe — built once, not per
    // message (the writer calls rfc3164 in the per-row hot loop)
    private val Rfc3164Fmt = java.time.format.DateTimeFormatter
      .ofPattern("MMM ppd HH:mm:ss", java.util.Locale.US)
      .withZone(java.time.ZoneOffset.UTC)

    def rfc3164(facility: Int, severity: Int, ts: java.time.Instant,
                host: String, app: String, msg: String): String =
      s"<${pri(facility, severity)}>${Rfc3164Fmt.format(ts)} $host $app: $msg"

    def rfc5424(facility: Int, severity: Int, ts: java.time.Instant,
                host: String, app: String, msgId: String, msg: String): String =
      s"<${pri(facility, severity)}>1 $ts $host $app - $msgId - $msg"

    /** RFC 6587 / RFC 5425 octet-counting framing. The count is the
      * UTF-8 BYTE length of the message — the same bytes the TCP/TLS
      * writer puts on the wire; counting UTF-16 code units would corrupt
      * framing (and everything after it on the connection) for any
      * non-ASCII body. */
    def octetFramed(message: String): String =
      s"${message.getBytes(java.nio.charset.StandardCharsets.UTF_8).length} $message"
  }

  /** Syslog transport selector (reference `SyslogSinkSemantics.scala:49-135`
    * supports UDP, TCP, and TLS/RFC 5425 with a custom CA). */
  sealed trait SyslogTransport
  case object SyslogUdp extends SyslogTransport
  case object SyslogTcp extends SyslogTransport
  /** RFC 5425: syslog over TLS with octet-counted framing. `caPem` = path
    * to a PEM CA bundle trusted for the server (reference PKI util,
    * `core/src/main/scala/atiesh/utils/PKI.scala:20-74`); None = JVM default
    * trust store. */
  final case class SyslogTls(caPem: Option[String]) extends SyslogTransport

  /** Syslog sink writer: per-partition socket (UDP, TCP, or TLS) delivery of
    * each event body as one syslog message. TCP/TLS use RFC 5424 messages in
    * RFC 6587/5425 octet-counted frames; UDP sends bare RFC 3164. */
  def syslogWriter(host: String, port: Int, facility: Int = 1, severity: Int = 6,
                   app: String = "graft", useTcp: Boolean = true,
                   transport: Option[SyslogTransport] = None): DataFrame => Unit = {
    val mode = transport.getOrElse(if (useTcp) SyslogTcp else SyslogUdp)
    batch =>
      batch.select(col("body")).foreachPartition {
        (rows: Iterator[org.apache.spark.sql.Row]) =>
          // loop-invariant, hoisted: getLocalHost is a syscall (worst case a
          // reverse-DNS lookup) and would otherwise run once PER ROW
          val localHost = java.net.InetAddress.getLocalHost.getHostName
          mode match {
            case SyslogUdp =>
              val sock = new java.net.DatagramSocket()
              val target = java.net.InetAddress.getByName(host)
              try rows.foreach { r =>
                val m = Syslog.rfc3164(facility, severity, java.time.Instant.now(),
                  localHost, app, r.getString(0))
                  .getBytes(java.nio.charset.StandardCharsets.UTF_8)
                sock.send(new java.net.DatagramPacket(m, m.length, target, port))
              } finally sock.close()
            case tcpLike =>
              val sock = tcpLike match {
                case SyslogTls(ca) =>
                  val ctx = ca.map(p => graft.util.PKI.trustContext(
                      java.nio.file.Paths.get(p)))
                    .getOrElse(javax.net.ssl.SSLContext.getDefault)
                  val s = ctx.getSocketFactory.createSocket(host, port)
                    .asInstanceOf[javax.net.ssl.SSLSocket]
                  // a failed handshake throws before the try/finally below
                  // owns the socket — close here or the connected fd leaks
                  // across task retries
                  try s.startHandshake()
                  catch { case e: Throwable =>
                    try s.close() catch { case _: Throwable => () }
                    throw e
                  }
                  s
                case _ => new java.net.Socket(host, port)
              }
              val out = sock.getOutputStream
              var bodyFailed = false
              try rows.foreach { r =>
                val m = Syslog.rfc5424(facility, severity, java.time.Instant.now(),
                  localHost, app, "-", r.getString(0))
                out.write(Syslog.octetFramed(m)
                  .getBytes(java.nio.charset.StandardCharsets.UTF_8))
              } catch {
                case e: Throwable => bodyFailed = true; throw e
              } finally {
                // when the row loop already threw, a flush failure must not
                // mask the original exception — but on a clean loop a failed
                // flush means buffered tail frames were dropped, so it must
                // fail the task (and retry) rather than silently commit
                try out.flush()
                catch { case e: java.io.IOException => if (!bodyFailed) throw e }
                finally sock.close()
              }
          }
      }
  }
}
