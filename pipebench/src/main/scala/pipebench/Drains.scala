package pipebench

import java.nio.file.Path

import graft.config.GraftConfig
import graft.event.Event
import graft.interceptor.InterceptorChain
import graft.streaming.Pipeline

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The fixed-input workload, `dedup_ingest`: the directory source drains a
  * seeded set of doc files with `available-now`, one file per epoch, into
  * a `dedup-ingest` sink whose posting index grows epoch by epoch. It is
  * the workload of `operators`.
  *
  * A run sets the pipeline up once (JVM-cold, on a small warm-up input),
  * drains the timed input once untimed, then drains it [[DedupDrains]]
  * times more, each time with a fresh checkpoint, output and index, and
  * reports the median drain.
  *
  * A drain is measured in the JVM's CPU time ([[Cpu]]), not wall time.
  * Every input is in place when it starts, so its wall time is its work
  * divided by the CPU share the host gives it: on a shared host that swung
  * by half between runs, and for a whole series of runs at a time. */
object Drains {
  /** Timed drains of a run. */
  val DedupDrains = 4
  /** Docs per dedup file. An epoch's cost is mostly fixed job overhead
    * (1,000-doc epochs took 1.9 s, 128-doc ones 1.3 s), so files stay small. */
  val DocsPerFile = 500
  /** Dedup epochs per measured second (one file per epoch), summed over
    * the timed drains; at least two epochs per drain. */
  val EpochsPerSecond = 0.4
  /** Docs in the set-up's warm-up file. */
  val WarmDocs = 250

  /** A drain: its wall time, its CPU time and each batch. */
  final case class Drain(seconds: Double, cpuMs: Double, batches: Seq[Batch]) {
    def batchMs: String = batches.map(_.wallMs.toLong).mkString(" ")
  }

  /** Starts the single-source pipeline of `cfg` and waits until it has
    * drained its input and the listener has seen it end. */
  def drain(spark: SparkSession, cfg: GraftConfig, ck: Path): (Double, Double, Drain) = {
    val (t0, c0) = (Clock.ms, Cpu.ms)
    val q = Pipeline.start(spark, cfg, ck.toString).head.query
    val t1 = Clock.ms
    q.awaitTermination()
    val (t2, c2) = (Clock.ms, Cpu.ms)
    Trace.rec.awaitTerminated(q.id.toString)
    q.exception.foreach(e => throw e)
    ((t1 - t0) / 1000, (t2 - t1) / 1000,
      Drain((t2 - t0) / 1000, c2 - c0, Trace.rec.batchesOf(q.id.toString)))
  }

  /** CPU ms per 1,000 events. */
  def perKevent(cpuMs: Double, events: Double): Double = cpuMs / (events / 1000)

  /** Time of `InterceptorChain.fromConfig(...).apply` over an in-memory
    * batch Dataset with a noop write, per 100k input events (median of 3). */
  def chainMsPer1e5(spark: SparkSession, cfg: GraftConfig, names: Seq[String],
                    input: Dataset[Event]): Double = {
    val ds = input.persist(StorageLevel.MEMORY_ONLY)
    val n = ds.count()
    val chain = InterceptorChain.fromConfig(cfg, names)
    val ms = Stats.median((1 to 3).map { _ =>
      val t0 = Clock.ms
      chain(ds).write.format("noop").mode("overwrite").save()
      Clock.ms - t0
    })
    ds.unpersist()
    ms / n * 1e5
  }

  def dedupConfig(in: Path, dir: Path, table: String, traced: Boolean): GraftConfig = {
    val kind = if (traced) """fqcn = "pipebench.TimedSink", wrap = dedup-ingest"""
               else "type = dedup-ingest"
    GraftConfig.parse(
      s"""graft {
         |  source { docs { type = directory, path = "$in", available-now = true,
         |    max-files-per-trigger = 1, sinks = [ingest] } }
         |  sink { ingest { $kind, index-table = $table,
         |    index-path = "${dir.resolve("index")}", out-path = "${dir.resolve("accepted")}",
         |    buckets = 8, shingle-n = 3, threshold = 0.5,
         |    id-expr = "cast(split(body, ';')[0] as bigint)",
         |    text-expr = "split(body, ';')[1]" } }
         |}""".stripMargin)
  }

  /** The set-up drain, then the untimed drain of the timed input: after
    * the one small set-up epoch, the next drain still cost about 1.4 times
    * a later one. Returns the set-up. */
  def warmUp(o: Opts, spark: SparkSession, sessionS: Double, warmIn: Path, in: Path,
             tag: String): Setup = {
    val (startS, firstS, _) = drain(spark,
      dedupConfig(warmIn, o.work.resolve(s"dedup-warm$tag"), s"pb_warm$tag", o.trace),
      o.work.resolve(s"ck-warm$tag"))
    drain(spark, dedupConfig(in, o.work.resolve(s"dedup-warm-full$tag"),
      s"pb_warm_full$tag", o.trace), o.work.resolve(s"ck-warm-full$tag"))
    Setup(sessionS, startS, firstS)
  }

  def dedupIngest(o: Opts): Outcome = {
    val files = math.max(2, math.round(o.seconds * EpochsPerSecond / DedupDrains).toInt)
    val in = o.work.resolve("docs-in")
    val originals = Gen.docFiles(o.seed, in, files, DocsPerFile, firstId = 1L)
    val warmIn = o.work.resolve("docs-warm")
    Gen.docFiles(o.seed + 1, warmIn, 1, WarmDocs, firstId = 1L)
    Main.log(s"generated $files input files")
    val (spark, sessionS) = Main.timedSession(o, o.cores)
    val setup = warmUp(o, spark, sessionS, warmIn, in, "")
    val dirs = (0 until DedupDrains).map(k => o.work.resolve(s"dedup-$k"))
    val jvm = Main.jvmWindow()
    Main.log("set up")
    val ds = dirs.zipWithIndex.map { case (dir, k) =>
      drain(spark, dedupConfig(in, dir, s"pb_index_$k", o.trace), o.work.resolve(s"ck-$k"))._3
    }
    val jvmMetrics = jvm.metrics
    Main.log(s"drained in ${ds.map(d => f"${d.seconds}%.2f").mkString(" ")} s")
    Trace.rec.drainJobEvents(spark)

    // output check, per drain: the accepted docs are exactly the originals,
    // so no planted near-duplicate of an accepted doc survived and nothing
    // else was lost
    val survivors = dirs.map(dir => spark.read.parquet(dir.resolve("accepted").toString)
      .select(col("id")).collect().map(_.getLong(0)))
    val lines = files.toLong * DocsPerFile
    val attempted = DedupDrains * lines
    val failed = survivors.map { ids =>
      val surv = ids.toSet
      ((surv -- originals) ++ (originals -- surv)).size.toLong + (ids.length - surv.size)
    }.sum
    val eventsPerS = Stats.median(ds.map(lines / _.seconds))
    val cpuPerKevent = Stats.median(ds.map(d => perKevent(d.cpuMs, lines.toDouble)))
    val e2e = Seq(
      Metric("setup_s", setup.setupS, "s"),
      Metric("cpu_ms_per_kevent", cpuPerKevent, "ms"),
      Metric("ok_ratio", (attempted - failed).toDouble / attempted, "ratio"))

    // no interceptor runs here, no client waits for an ack, and the writer
    // is the dedup operator, so the interceptor metrics,
    // bench.traced_ack_p50_ms and sinks.write_ms_p50 read 0
    val layers = if (!o.trace) Nil else {
      val bs = ds.flatMap(_.batches)
      val ws = Main.writerMs(Trace.rec, bs)
      val (iFiles, iBytes) = Main.filesAndBytes(dirs.head.resolve("index"))
      val (oFiles, oBytes) = Main.filesAndBytes(dirs.head.resolve("accepted"))
      val traced = setup.metrics ++
        Main.streamingMetrics(Trace.rec, bs, attempted, "operators") ++ jvmMetrics ++ Seq(
        Metric("sinks.files_out", oFiles.toDouble, "count"),
        Metric("sinks.bytes_out", oBytes.toDouble, "bytes"),
        Metric("operators.epoch_ms_p50", Stats.median(ws), "ms"),
        Metric("operators.epoch_ms_p90", Stats.pct(ws, 0.9), "ms"),
        Metric("operators.survivor_ratio", survivors.head.length.toDouble / lines, "ratio"),
        Metric("operators.index_rows", spark.table("pb_index_0").count().toDouble, "count"),
        Metric("operators.index_bytes", iBytes.toDouble, "bytes"),
        Metric("operators.index_files", iFiles.toDouble, "count"),
        Metric("bench.traced_events_per_s", eventsPerS, "1/s"),
        Metric("bench.traced_cpu_ms_per_kevent", cpuPerKevent, "ms"))
      spark.stop()
      // the stream-processing baseline: the same set-up and warm-up, then
      // one drain, in a fresh session on one core
      val (one, oneS) = Main.timedSession(o, 1)
      warmUp(o, one, oneS, warmIn, in, "_1c")
      val (_, _, d1) = drain(one, dedupConfig(in, o.work.resolve("dedup-1c"), "pb_index_1c",
        o.trace), o.work.resolve("ck-1c"))
      one.stop()
      val local1 = lines / d1.seconds
      traced ++ Seq(
        Metric("bench.local1_events_per_s", local1, "1/s"),
        Metric("bench.scaling_x", eventsPerS / local1, "x"))
    }
    Main.log("checked")
    if (!o.trace) spark.stop()
    val digests = survivors.map(ids =>
      java.lang.Long.toHexString(ids.map(id => Gen.hash64(id.toString)).sum)).distinct
    Outcome(failed == 0, attempted, failed, e2e, layers, Seq(
      "files" -> files, "drains" -> DedupDrains, "events_per_s" -> eventsPerS,
      "drain_s" -> ds.map(d => f"${d.seconds}%.3f").mkString(" "),
      "drain_cpu_s" -> ds.map(d => f"${d.cpuMs / 1000}%.3f").mkString(" "),
      "batch_ms" -> ds.map(_.batchMs).mkString(" | "),
      "survivors" -> survivors.map(_.length).mkString(" "),
      "expected_survivors" -> originals.size,
      "output_digest" -> digests.mkString(" ")))
  }
}
