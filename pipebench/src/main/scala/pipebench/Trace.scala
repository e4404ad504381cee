package pipebench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One wall clock for every bench-side timestamp: epoch milliseconds with
  * nanosecond resolution, comparable with the epoch-millisecond times Spark
  * puts on its listener events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  def fromNanos(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
}

/** CPU time of the JVM's own work, in ms: every thread (user and
  * system) except the JIT compiler's. It leaves out time a thread waited
  * for a CPU, and, on a virtual machine with steal-time accounting, the
  * time the host gave to other guests. The JIT's share is left out because
  * it is warm-up that trails on for minutes on a shared host, at a pace set
  * by the host's load; [[jitMs]] reports it on its own. */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def ms: Double = os.getProcessCpuTime / 1e6 - jitMs

  /** The JIT compiler threads' `schedstat` files (Linux; none elsewhere).
    * The JVM runs with a fixed set of compiler threads
    * (`-XX:-UseDynamicNumberOfCompilerThreads`), so they are found once. */
  private lazy val jitStats: Seq[java.nio.file.Path] = {
    import java.nio.file.Files
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten
      .map(_.toPath).filter { t =>
        try new String(Files.readAllBytes(t.resolve("comm"))).trim
          .matches("C[12] CompilerThre.*")
        catch { case _: java.io.IOException => false }
      }.map(_.resolve("schedstat"))
  }

  /** CPU time of the JIT compiler threads, in ms. */
  def jitMs: Double = jitStats.map { f =>
    new String(java.nio.file.Files.readAllBytes(f)).trim.split(' ')(0).toLong / 1e6
  }.sum
}

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 1]; 0 for no samples. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val r = p * (s.length - 1)
      val lo = r.floor.toInt
      val hi = r.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** A traced interval. Spans of one request or micro-batch share `id`;
  * `parent` names the enclosing span of the same id ("" at the root). */
final case class Span(name: String, id: String, parent: String,
                      startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** One completed micro-batch as the bench's listener saw it. */
final case class Batch(queryId: String, batchId: Long, startMs: Double,
                       durations: Map[String, Long], seenMs: Double) {
  def d(k: String): Double = durations.getOrElse(k, 0L).toDouble
  def wallMs: Double = d("triggerExecution")
  def commitMs: Double = startMs + wallMs
}

/** One Spark job submitted by a micro-batch, with its task totals. */
final class Job(val queryId: String, val batchId: Long, val startMs: Double) {
  @volatile var endMs: Double = startMs
  @volatile var stages = 0
  @volatile var tasks = 0
  @volatile var runMs = 0L
  @volatile var cpuNs = 0L
  @volatile var shuffleBytes = 0L
}

/** Everything the bench observes from outside the program: micro-batch
  * progress through a `StreamingQueryListener` (always on: the drains and
  * the warm-up read it), and, on a traced run only, Spark jobs through a
  * `SparkListener` keyed on the `streaming.sql.batchId` job property plus
  * the spans the bench records around its calls into each layer. */
final class Recorder(val traced: Boolean) {
  val batches = new ConcurrentLinkedQueue[Batch]()
  val terminated = new ConcurrentHashMap[String, CountDownLatch]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val sentinel = new CountDownLatch(1)

  def span(name: String, id: String, parent: String, startMs: Double,
           endMs: Double): Unit =
    if (traced) spans.add(Span(name, id, parent, startMs, endMs))

  def install(spark: SparkSession): Unit = {
    spark.streams.addListener(new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        terminated.putIfAbsent(e.id.toString, new CountDownLatch(1))
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        batches.add(Batch(p.id.toString, p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          Clock.ms))
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        terminated.computeIfAbsent(e.id.toString, _ => new CountDownLatch(1))
          .countDown()
    })
    if (traced) spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val q = props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
        val b = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        if (props.exists(p => p.getProperty("spark.jobGroup.id") == "pipebench-sentinel"))
          sentinel.countDown()
        for (qid <- q; bid <- b) {
          jobs.put(e.jobId, new Job(qid, bid.toLong, e.time.toDouble))
          e.stageIds.foreach(s => stageJob.put(s, e.jobId))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        job(e.stageInfo.stageId).foreach(_.stages += 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        for (j <- job(e.stageId); m <- Option(e.taskMetrics)) {
          j.tasks += 1
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
        }
      private def job(stage: Int): Option[Job] =
        Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))
    })
  }

  /** Block until the listener has seen `queryId` terminate: the progress of
    * its last batch is delivered before that, on the same bus queue. */
  def awaitTerminated(queryId: String): Unit =
    terminated.computeIfAbsent(queryId, _ => new CountDownLatch(1))
      .await(60, TimeUnit.SECONDS)

  /** Block until every Spark job event posted so far has reached the
    * SparkListener, by submitting a tagged job and waiting for its start. */
  def drainJobEvents(spark: SparkSession): Unit = if (traced) {
    val sc = spark.sparkContext
    sc.setJobGroup("pipebench-sentinel", "listener sentinel")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    sentinel.await(30, TimeUnit.SECONDS)
  }

  def batchesOf(queryId: String): Seq[Batch] =
    batches.asScala.filter(_.queryId == queryId).toSeq.sortBy(_.batchId)

  def jobsOf(queryId: String, batchId: Long): Seq[Job] =
    jobs.values.asScala.filter(j => j.queryId == queryId && j.batchId == batchId)
      .toSeq

  def spansOf(id: String): Seq[Span] = spans.asScala.filter(_.id == id).toSeq

  def writeSpans(path: java.nio.file.Path): Unit = if (traced) {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.toSeq.sortBy(_.startMs).foreach { s =>
      w.write(Json.obj(Seq("name" -> s.name, "id" -> s.id,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
      w.newLine()
    } finally w.close()
  }
}

/** The recorder of the running bench, reachable from the FQCN plugins that
  * the pipeline instantiates by reflection. */
object Trace {
  @volatile var rec: Recorder = new Recorder(traced = false)
}

/** Per-batch layer accounting. Spark reports each phase of a micro-batch
  * as a duration; the phases run one after another, so they are laid out
  * in order from the batch start. Inside `addBatch`, the sink-writer spans
  * come from [[TimedSink]] and the Spark jobs from the SparkListener. Self
  * time of a layer = its time minus the part its children cover, so the
  * layers sum to the batch wall time; `remainder` is batch time outside
  * every reported phase. */
object Layers {
  val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  final case class Account(wall: Double, streaming: Double, sinks: Double,
                           writer: Double, spark: Double, remainder: Double)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val cl = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    cl.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  def account(rec: Recorder, b: Batch): Account = {
    val id = s"${b.queryId}/${b.batchId}"
    var t = b.startMs
    Phases.foreach { p =>
      rec.span(s"streaming.$p", id, "streaming.batch", t, t + b.d(p))
      t += b.d(p)
    }
    rec.span("streaming.batch", id, "", b.startMs, b.commitMs)
    val writers = rec.spansOf(id).filter(_.name.startsWith("sink."))
    val jobs = rec.jobsOf(b.queryId, b.batchId)
    jobs.foreach(j => rec.span("spark.job", id, "streaming.addBatch",
      j.startMs, j.endMs))
    val jobIv = jobs.map(j => (j.startMs, j.endMs))
    val writerMs = writers.map(_.ms).sum
    val jobsInWriters = writers.map(w => covered(jobIv, w.startMs, w.endMs)).sum
    val jobsAll = covered(jobIv, b.startMs, b.commitMs)
    val phased = Phases.map(b.d).sum
    Account(
      wall = b.wallMs,
      streaming = phased - b.d("addBatch"),
      sinks = b.d("addBatch") - writerMs - (jobsAll - jobsInWriters),
      writer = writerMs - jobsInWriters,
      spark = jobsAll,
      remainder = b.wallMs - phased)
  }
}

/** Minimal JSON rendering for the bench's one-line records. */
object Json {
  def value(v: Any): String = v match {
    case s: String  => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double  =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
      java.math.BigDecimal.valueOf(d).toPlainString
    case n: Int     => n.toString
    case n: Long    => n.toString
    case m: Seq[(String, Any)] @unchecked => obj(m)
    case other      => value(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ": " + value(v) }.mkString("{", ", ", "}")
}
