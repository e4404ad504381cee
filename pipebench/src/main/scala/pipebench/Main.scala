package pipebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: Path, cores: Int)

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What one run hands back to [[Main]]. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                         endToEnd: Seq[Metric], layers: Seq[Metric],
                         validity: Seq[(String, Any)])

/** Set-up of one run: the session, then the first pipeline set-up (start
  * + first committed warm-up batch). Both are JVM-cold, as they are for a
  * user starting the program; later set-ups of a run only warm it up. */
final case class Setup(sessionS: Double, startS: Double, firstBatchS: Double) {
  def setupS: Double = sessionS + startS + firstBatchS
  def metrics: Seq[Metric] = Seq(
    Metric("setup.session_s", sessionS, "s"),
    Metric("setup.pipeline_start_s", startS, "s"),
    Metric("setup.first_batch_s", firstBatchS, "s"))
}

object Main {
  /** Every end-to-end metric, printed by every untraced run. */
  val EndToEnd = Seq("setup_s" -> "s", "cpu_ms_per_kevent" -> "ms", "ok_ratio" -> "ratio")

  /** Every per-layer metric, printed by every traced run; a layer the
    * workload does not exercise reads 0. */
  val PerLayer = Seq(
    "setup.session_s" -> "s", "setup.pipeline_start_s" -> "s",
    "setup.first_batch_s" -> "s",
    "streaming.batches" -> "count", "streaming.trigger_ms_p50" -> "ms",
    "streaming.trigger_ms_p90" -> "ms", "streaming.add_batch_ms_p50" -> "ms",
    "streaming.wal_commit_ms_p50" -> "ms", "streaming.commit_offsets_ms_p50" -> "ms",
    "streaming.query_planning_ms_p50" -> "ms", "streaming.latest_offset_ms_p50" -> "ms",
    "streaming.idle_ms" -> "ms", "streaming.rows_per_batch" -> "count",
    "streaming.self_ms_per_batch" -> "ms",
    "sources.http_backlog_max" -> "count", "sources.ack_release_ms_p50" -> "ms",
    "sources.http_shed" -> "count",
    "interceptor.rows_in" -> "count", "interceptor.rows_out" -> "count",
    "interceptor.chain_ms_per_1e5" -> "ms",
    "sinks.write_ms_p50" -> "ms", "sinks.http_requests" -> "count",
    "sinks.http_bytes" -> "bytes", "sinks.http_non2xx" -> "count",
    "sinks.files_out" -> "count", "sinks.bytes_out" -> "bytes",
    "sinks.self_ms_per_batch" -> "ms",
    "operators.epoch_ms_p50" -> "ms", "operators.epoch_ms_p90" -> "ms",
    "operators.survivor_ratio" -> "ratio", "operators.index_rows" -> "count",
    "operators.index_bytes" -> "bytes", "operators.index_files" -> "count",
    "operators.self_ms_per_batch" -> "ms",
    "spark.jobs_per_batch" -> "count", "spark.stages_per_batch" -> "count",
    "spark.tasks_per_batch" -> "count", "spark.executor_run_ms_per_batch" -> "ms",
    "spark.executor_cpu_ms_per_batch" -> "ms", "spark.shuffle_bytes_per_batch" -> "bytes",
    "spark.self_ms_per_batch" -> "ms",
    "jvm.gc_ms" -> "ms", "jvm.jit_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
    "bench.gen_late_p99_ms" -> "ms", "bench.probe_ms_before" -> "ms",
    "bench.probe_ms_after" -> "ms", "bench.traced_events_per_s" -> "1/s",
    "bench.traced_cpu_ms_per_kevent" -> "ms", "bench.traced_ack_p50_ms" -> "ms",
    "bench.local1_events_per_s" -> "1/s", "bench.scaling_x" -> "x",
    "trace.batch_wall_ms" -> "ms", "trace.remainder_ms_per_batch" -> "ms")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(arg("workload"), arg("seed").toLong, arg("seconds").toInt,
      arg("trace") == "1", Paths.get(arg("work")).toAbsolutePath,
      Runtime.getRuntime.availableProcessors())
    require(o.seconds >= 1, "--seconds must be >= 1")
    Trace.rec = new Recorder(o.trace)
    val probeBefore = probeMs()
    val cpuBefore = cpuTicks()
    val out = o.workload match {
      case "http_relay"   => HttpRelay.run(o)
      case "dedup_ingest" => Drains.dedupIngest(o)
      case w => sys.error(s"unknown workload <$w>")
    }
    val probeAfter = probeMs()
    val steal = stealPct(cpuBefore, cpuTicks())
    // a probe that reads slow on one side of the run, or CPU time taken by
    // other guests of the host, marks a contended run; the flag travels with
    // the numbers, nothing is dropped
    val validity = Seq("workload" -> o.workload, "seed" -> o.seed,
      "probe_ms_before" -> probeBefore, "probe_ms_after" -> probeAfter,
      "steal_pct" -> steal,
      "contended" -> (probeAfter > 1.5 * probeBefore || probeBefore > 1.5 * probeAfter ||
        steal > 10)) ++ out.validity
    Trace.rec.writeSpans(o.work.getParent.resolve(s"spans-${o.workload}-${o.seed}.jsonl"))
    val metrics =
      if (!o.trace) EndToEnd.map { case (n, u) =>
        val m = out.endToEnd.find(_.name == n).getOrElse(sys.error(s"no metric $n"))
        require(m.unit == u, s"unit of $n")
        m
      } else {
        val extra = (out.layers.map(_.name).toSet -- PerLayer.map(_._1)).toSeq
        require(extra.isEmpty, s"undeclared per-layer metrics $extra")
        val given = out.layers ++ Seq(
          Metric("bench.probe_ms_before", probeBefore, "ms"),
          Metric("bench.probe_ms_after", probeAfter, "ms"))
        PerLayer.map { case (n, u) =>
          given.find(_.name == n).getOrElse(Metric(n, 0.0, u))
        }
      }
    println(Json.obj(Seq("validity" -> validity)))
    println(Json.obj(Seq("correct" -> out.correct, "attempted" -> out.attempted,
      "failed" -> out.failed, "metrics" -> metrics.map(m =>
        m.name -> Seq("value" -> m.value, "unit" -> m.unit)))))
    System.out.flush()
    // the workloads stop their queries and the session; exit also ends any
    // daemon thread a stopped component left behind
    sys.exit(if (out.correct) 0 else 1)
  }

  private val t0 = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[pipebench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  def session(o: Opts, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("pipebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Session set-up, timed from the call, with the recorder installed. */
  def timedSession(o: Opts, cores: Int): (SparkSession, Double) = {
    val t0 = Clock.ms
    val s = session(o, cores)
    val dt = (Clock.ms - t0) / 1000
    Trace.rec.install(s)
    (s, dt)
  }

  /** A fixed single-threaded CPU task, timed (median of three): a slow
    * reading flags a machine busy with other work. */
  def probeMs(): Double = Stats.median((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 20000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x % 1000003
      i += 1
    }
    if (acc == 42) println("")
    (System.nanoTime() - t0) / 1e6
  })

  /** The machine's aggregate CPU tick counters (Linux `/proc/stat`), empty
    * where that file does not exist. */
  def cpuTicks(): Array[Long] = {
    val f = Paths.get("/proc/stat")
    if (!Files.isReadable(f)) Array.empty
    else Files.readAllLines(f).asScala.headOption.filter(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty)
  }

  /** Share of CPU time the hypervisor gave to other guests between two
    * [[cpuTicks]] readings (the 8th counter); -1 when unknown. */
  def stealPct(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) -1.0
    else {
      val d = a.indices.map(i => b(i) - a(i))
      val total = d.take(8).sum
      if (total <= 0) -1.0 else 100.0 * d(7) / total
    }

  /** GC time, JIT compiler CPU time and peak heap over a window opened by
    * [[jvmWindow]]. */
  final class JvmWindow {
    private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    private val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    private val gc0 = gcs.map(_.getCollectionTime).sum
    private val jit0 = Cpu.jitMs
    heap.foreach(_.resetPeakUsage())
    def metrics: Seq[Metric] = Seq(
      Metric("jvm.gc_ms", (gcs.map(_.getCollectionTime).sum - gc0).toDouble, "ms"),
      Metric("jvm.jit_ms", Cpu.jitMs - jit0, "ms"),
      Metric("jvm.heap_peak_mb", heap.map(_.getPeakUsage.getUsed).sum / 1048576.0, "MB"))
  }
  def jvmWindow(): JvmWindow = new JvmWindow

  /** Micro-batch metrics of the batches in a timed window; on a traced run
    * also the per-batch layer account and the Spark job totals. `rows` is
    * the generator's count of events those batches carried. */
  def streamingMetrics(rec: Recorder, bs: Seq[Batch], rows: Double,
                       writerLayer: String): Seq[Metric] = {
    def p(k: String, q: Double) = Stats.pct(bs.map(_.d(k)), q)
    val gaps = bs.sliding(2).collect { case Seq(a, b) => b.startMs - a.commitMs }.toSeq
    val acc = bs.map(Layers.account(rec, _))
    val jobs = bs.flatMap(b => rec.jobsOf(b.queryId, b.batchId))
    val n = math.max(bs.size, 1).toDouble
    def perBatch(f: Job => Double) = jobs.map(f).sum / n
    Seq(
      Metric("streaming.batches", bs.size.toDouble, "count"),
      Metric("streaming.trigger_ms_p50", p("triggerExecution", 0.5), "ms"),
      Metric("streaming.trigger_ms_p90", p("triggerExecution", 0.9), "ms"),
      Metric("streaming.add_batch_ms_p50", p("addBatch", 0.5), "ms"),
      Metric("streaming.wal_commit_ms_p50", p("walCommit", 0.5), "ms"),
      Metric("streaming.commit_offsets_ms_p50", p("commitOffsets", 0.5), "ms"),
      Metric("streaming.query_planning_ms_p50", p("queryPlanning", 0.5), "ms"),
      Metric("streaming.latest_offset_ms_p50", p("latestOffset", 0.5), "ms"),
      Metric("streaming.idle_ms", Stats.median(gaps), "ms"),
      Metric("streaming.rows_per_batch", rows / n, "count"),
      Metric("trace.batch_wall_ms", Stats.mean(acc.map(_.wall)), "ms"),
      Metric("streaming.self_ms_per_batch", Stats.mean(acc.map(_.streaming)), "ms"),
      Metric("sinks.self_ms_per_batch", Stats.mean(acc.map(_.sinks)) +
        (if (writerLayer == "sinks") Stats.mean(acc.map(_.writer)) else 0.0), "ms"),
      Metric("spark.self_ms_per_batch", Stats.mean(acc.map(_.spark)), "ms"),
      Metric("trace.remainder_ms_per_batch", Stats.mean(acc.map(_.remainder)), "ms"),
      Metric("spark.jobs_per_batch", jobs.size / n, "count"),
      Metric("spark.stages_per_batch", perBatch(_.stages.toDouble), "count"),
      Metric("spark.tasks_per_batch", perBatch(_.tasks.toDouble), "count"),
      Metric("spark.executor_run_ms_per_batch", perBatch(_.runMs.toDouble), "ms"),
      Metric("spark.executor_cpu_ms_per_batch", perBatch(_.cpuNs / 1e6), "ms"),
      Metric("spark.shuffle_bytes_per_batch", perBatch(_.shuffleBytes.toDouble), "bytes")
    ) ++ (if (writerLayer == "operators")
      Seq(Metric("operators.self_ms_per_batch", Stats.mean(acc.map(_.writer)), "ms"))
    else Nil)
  }

  /** Durations of every writer-call span in the given batches. */
  def writerMs(rec: Recorder, bs: Seq[Batch]): Seq[Double] =
    bs.flatMap(b => rec.spansOf(s"${b.queryId}/${b.batchId}"))
      .filter(_.name.startsWith("sink.")).map(_.ms)

  /** Regular files and bytes under `dir` (none if absent). */
  def filesAndBytes(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val fs = Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    }

  def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }
}
