package graft.gates

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Helpers shared by the gate families: cached testdata table handles, the
  * event projection, money canonicalization, layout tags, and the staging
  * and draining of the live streaming twins. */
object GateSupport {

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

  private[gates] def t(s: SparkSession, dir: String, name: String): DataFrame = {
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

  private[gates] def streamSession(s: SparkSession): SparkSession =
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
  private[gates] def events(s: SparkSession, dir: String): DataFrame =
    graft.functions.EventTime.withEpochMs(t(s, dir, "events"))

  /** Exact money-to-integer canonicalization: double → DECIMAL(18,2) (exact
    * round of the 2-dec source value) → scaled BIGINT, applied PER ROW before
    * any sum so the aggregate is pure long arithmetic. DECIMAL never appears
    * in an output schema: fixed-scale decimals render with trailing zeros
    * ("570.00") on one engine and shortest-float ("570.0") on the other,
    * which is representation-hash poison even when every cell is equal. */
  private[gates] def cents(c: Column): Column =
    (c.cast("decimal(18,2)") * 100).cast("long")

  /** Deterministic per-source-dir tag for materialized-layout table/path
    * names (letters and digits only — valid in both identifiers and
    * paths). */
  private[gates] def layoutTag(dir: String): String =
    java.lang.Long.toUnsignedString(
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        dir.getBytes("UTF-8"),
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        dir.getBytes("UTF-8").length, 42L), 36)

  /** Ingest-loop batch bounds — shared by the gate query AND its oracle so
    * the batch split cannot drift between them. */
  private[gates] val ingestBounds = Seq((0L, 150L), (150L, 350L), (350L, Long.MaxValue))

  /** Ingest-loop batch bounds for the fingerprint ingest gates — NOT
    * multiples of the 5-doc render group, so groups straddle batch
    * boundaries and the accepted-so-far index genuinely matters (a
    * group-aligned split would make every batch independent). Shared by
    * the gate queries AND the oracle. */
  private[gates] val mmIngestBounds = Seq((0L, 148L), (148L, 352L), (352L, Long.MaxValue))

  /** Embedding ingest-loop batch bounds — absolute vec_id cuts, the
    * [[mmIngestBounds]] convention (shared by gates and oracle). The
    * corpus has 500 vectors at sf0.01 and 2000 at sf0.1, so every batch
    * is non-trivial at both scales. */
  private[gates] val embedIngestBounds = Seq((0L, 150L), (150L, 400L), (400L, Long.MaxValue))

  /** Stages `slices` as the input directory of a file stream and returns
    * the stream: slice i is written as the one parquet file
    * `<work>/in/b<i>.parquet` with modification time 1700000000000 + i
    * minutes, and the stream reads one file per trigger
    * (`maxFilesPerTrigger = 1`), so micro-batch i is exactly slice i. The
    * schema is the first slice's. */
  private[gates] def stagedStream(s: SparkSession, work: Path,
                                  slices: Seq[DataFrame]): DataFrame = {
    val inDir = Files.createDirectories(work.resolve("in"))
    slices.zipWithIndex.foreach { case (df, i) =>
      val part = work.resolve(s"b$i")
      df.coalesce(1).write.parquet(part.toString)
      val src = part.toFile.listFiles().find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file under $part"))
      val dst = inDir.resolve(f"b$i%02d.parquet").toFile
      require(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
    }
    s.readStream.schema(slices.head.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
  }

  /** The testdata table `name` as a one-file stream. The file source reads
    * a directory and a testdata table is a single file, so the file is
    * copied to `<work>/in`. */
  private[gates] def tableStream(s: SparkSession, work: Path, dir: String,
                                 name: String): DataFrame = {
    val inDir = Files.createDirectories(work.resolve("in"))
    Files.copy(Paths.get(s"$dir/$name.parquet"), inDir.resolve(s"$name.parquet"))
    s.readStream.schema(t(s, dir, name).schema).parquet(inDir.toString)
  }

  /** Runs the stream `df` to completion under `Trigger.AvailableNow`,
    * checkpointed in `<work>/ck`, and returns what its sink holds. With no
    * `memoryTable` the stream appends to parquet at `<work>/out`; with one
    * it runs in complete mode (which the parquet sink refuses) into that
    * memory table. */
  private[gates] def runToCompletion(df: DataFrame, work: Path,
                                     memoryTable: Option[String] = None): DataFrame = {
    val w = df.writeStream
      .option("checkpointLocation", work.resolve("ck").toString)
      .trigger(Trigger.AvailableNow())
    val out = work.resolve("out").toString
    memoryTable match {
      case Some(table) =>
        w.outputMode("complete").format("memory").queryName(table).start().awaitTermination()
        df.sparkSession.table(table)
      case None =>
        w.outputMode("append").format("parquet").option("path", out).start().awaitTermination()
        df.sparkSession.read.parquet(out)
    }
  }
}
