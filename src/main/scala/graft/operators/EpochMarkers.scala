package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Durable commit markers for the epoch-stamped streaming-ingest indexes —
  * the piece that makes the replay guard survive a crash *inside* the
  * append job itself.
  *
  * The epoch-stamped layout (see the note above
  * [[Dedup.initEpochIndex]]) guards index appends per batchId so a
  * replayed micro-batch never duplicates postings. Guarding on ROW
  * EXISTENCE ("rows stamped `epoch == k` exist") trusts the append job's
  * commit to be atomic — but a multi-file parquet append is not: a JVM
  * loss mid-commit (or any non-atomic commit protocol — FileOutputCommitter
  * v2, direct object-store committers) can leave a PARTIAL epoch-k posting
  * set visible, and a row-existence guard then skips the re-append
  * forever: the missing postings silently admit later duplicates and
  * corrupt the Jaccard probe's intersection counts.
  *
  * The fix is the [[GenIndex]] `_COMMITTED` pattern applied per epoch:
  *   - after an epoch's append job RETURNS, a marker file
  *     `_graft_epochs/epoch-<k>` is created with one atomic
  *     create-exclusive call — file creation is atomic on POSIX and HDFS,
  *     so there is no partially-committed state to observe;
  *   - the replay guard checks the MARKER, not row existence — one
  *     filesystem stat, cheaper than any scan (and unlike the old
  *     row-stat-skip argument, its cost does not degrade after
  *     compaction folds epochs across files);
  *   - an ATTEMPT marker is created before each append starts; a
  *     replayed batch that finds an attempt WITHOUT the commit marker
  *     has caught a crashed mid-commit append: the partial files are
  *     deleted and the epoch re-appended ([[Dedup.repairPartialEpoch]])
  *     before the marker is finally created. A brand-new epoch (no
  *     attempt) skips the repair probe entirely — the per-batch hot path
  *     is filesystem stats only, never a Spark scan. Rows carrying
  *     NEITHER marker (a pre-marker-era index) are settled once per
  *     writer lifetime by the first-batch probe in
  *     [[GenIndex.validateFirstBatch]]. Every crash point replays to
  *     the same end state.
  *
  * Marker placement: inside the table location for the single-path (flat)
  * layout (the `_` prefix hides the directory from Spark's file listing);
  * at the generation ROOT for a [[GenIndex]] table — markers must survive
  * compaction swaps, which retire the live data directory itself. A flat
  * epoch-stamped index must therefore never be compacted in place (the
  * overwrite would discard its markers along with the crash-safety of the
  * live files) — the ingest entry points enforce `layout = gen` whenever
  * periodic compaction is requested.
  *
  * The same directory carries the stream RUN-AFFINITY marker
  * (`run-<queryId>`): the stable StructuredStreaming query id (persisted
  * in the checkpoint's metadata file, so it survives restarts but NOT a
  * checkpoint wipe) of the stream that owns this index. It closes the one
  * hole `batchId >= maxEpoch` leaves open: a wiped/fresh checkpoint over
  * an index whose newest (and only) epoch is 0 replays batchId 0 legally
  * by arithmetic, but its probe sees an empty corpus and its append is
  * skipped by the old run's epoch-0 commit — silent index/output
  * divergence. The run marker makes `batchId == maxEpoch` legal only for
  * the stream that wrote that epoch ([[GenIndex.requireEpochAhead]]). */
object EpochMarkers {

  private val Dir = "_graft_epochs"
  private val EpochPrefix = "epoch-"
  private val AttemptPrefix = "attempt-"
  private val RunPrefix = "run-"

  /** The stable streaming query id of the batch's owning stream, from the
    * thread-local property StreamExecution sets for the query's driver
    * thread — present inside `foreachBatch`, absent for direct API calls
    * (batch replays in specs, driver-sequential loops). */
  def currentQueryId(spark: SparkSession): Option[String] =
    Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Marker directory for `table`: `<location>/_graft_epochs` for the
    * single-path layout; `<root>/_graft_epochs` for a generational table
    * (the live location is `root/gen-<k>`, retired on every compaction —
    * markers record index history, which outlives any one generation). */
  def markerDir(spark: SparkSession, table: String): Path = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc = new Path(spark.sessionState.catalog.getTableMetadata(ident).location)
    val base =
      if (loc.getName.startsWith("gen-") &&
          fsOf(spark, loc).exists(new Path(loc, GenIndex.CommitMarker)))
        loc.getParent
      else loc
    new Path(base, Dir)
  }

  /** True iff `epoch`'s append COMMITTED (marker exists) — one filesystem
    * stat, no scan. */
  def epochMarked(spark: SparkSession, table: String, epoch: Long): Boolean = {
    val d = markerDir(spark, table)
    fsOf(spark, d).exists(new Path(d, s"$EpochPrefix$epoch"))
  }

  /** Commit `epoch`: called strictly AFTER the append job returned. Also
    * clears the epoch's attempt marker — a committed epoch needs no
    * repair probe, and the dir then carries ONE tiny file per epoch. */
  def markEpoch(spark: SparkSession, table: String, epoch: Long): Unit = {
    val d = markerDir(spark, table)
    val fs = fsOf(spark, d)
    fs.mkdirs(d)
    fs.createNewFile(new Path(d, s"$EpochPrefix$epoch"))
    try fs.delete(new Path(d, s"$AttemptPrefix$epoch"), false)
    catch { case scala.util.control.NonFatal(_) => () }
    ()
  }

  /** True iff an append for `epoch` was ever STARTED (write-ahead intent).
    * The repair probe — a Spark job over the index — runs only when an
    * attempt exists without a commit: the common first-attempt path of
    * every micro-batch costs two filesystem stats and one create, never
    * a scan. */
  def epochAttempted(spark: SparkSession, table: String, epoch: Long): Boolean = {
    val d = markerDir(spark, table)
    fsOf(spark, d).exists(new Path(d, s"$AttemptPrefix$epoch"))
  }

  /** Record the write-ahead intent for `epoch`: called strictly BEFORE
    * the append job starts (and after any repair of a prior attempt). */
  def markAttempt(spark: SparkSession, table: String, epoch: Long): Unit = {
    val d = markerDir(spark, table)
    val fs = fsOf(spark, d)
    fs.mkdirs(d)
    fs.createNewFile(new Path(d, s"$AttemptPrefix$epoch"))
    ()
  }

  /** Highest epoch with a commit OR attempt marker (-1 if none) — the
    * marker-side input to [[GenIndex.requireEpochAhead]]'s max-epoch:
    * rows alone under-count (an epoch whose survivors were all
    * duplicates commits a marker but lands zero postings, and a crashed
    * attempt may have landed nothing), and an under-counted max would
    * let a wiped checkpoint adopt the index while stale markers silently
    * skip its appends. One directory listing, once per writer lifetime. */
  def maxMarkedEpoch(spark: SparkSession, table: String): Long = {
    val d = markerDir(spark, table)
    val fs = fsOf(spark, d)
    if (!fs.exists(d)) -1L
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
      .flatMap { n =>
        if (n.startsWith(EpochPrefix)) n.stripPrefix(EpochPrefix).toLongOption
        else if (n.startsWith(AttemptPrefix)) n.stripPrefix(AttemptPrefix).toLongOption
        else None
      }.maxOption.getOrElse(-1L)
  }

  /** Drop every epoch/attempt marker strictly below the newest one — the
    * marker-count bound a long-running stream needs (one tiny file per
    * epoch otherwise accumulates forever in one directory). Safe because
    * only the CURRENT batch's markers are ever probed and the resume
    * guard needs only the max. ONE directory listing computes the max
    * and the delete set ([[GenIndex.compactSwap]] runs this per swap,
    * when the directory is at its largest). Best-effort. */
  def pruneToMax(spark: SparkSession, table: String): Unit = {
    val d = markerDir(spark, table)
    val fs = fsOf(spark, d)
    if (fs.exists(d)) {
      val parsed = fs.listStatus(d).toSeq.map(_.getPath).flatMap { p =>
        val n = p.getName
        val e =
          if (n.startsWith(EpochPrefix)) n.stripPrefix(EpochPrefix).toLongOption
          else if (n.startsWith(AttemptPrefix)) n.stripPrefix(AttemptPrefix).toLongOption
          else None
        e.map((p, _))
      }
      if (parsed.nonEmpty) {
        val keepFrom = parsed.map(_._2).max
        parsed.filter(_._2 < keepFrom).foreach { case (p, _) =>
          try { fs.delete(p, false); () }
          catch { case scala.util.control.NonFatal(_) => () }
        }
      }
    }
  }

  /** OPTIONAL upgrade helper for an epoch-stamped index built before the
    * marker era (row-existence guard): create commit markers for the
    * epochs present in the rows. A legacy index resumes correctly
    * WITHOUT this — the resume guard reads row epochs, and the writer's
    * first batch repairs-and-re-appends its replayed epoch
    * ([[GenIndex.validateFirstBatch]]) — so backfill only saves that
    * one-time repair.
    *
    * The NEWEST row epoch is excluded by default: it is the only epoch a
    * resuming checkpoint can replay, and if the legacy run crashed
    * inside its append (the very crash class this machinery exists for)
    * a blanket marker would freeze the partial posting set as committed
    * forever. Pass `includeNewest = true` only when that epoch provably
    * completed — e.g. the legacy index was COMPACTED after it (legacy
    * loops compacted strictly after a successful append, so folded rows
    * imply completion; this is also the one legacy state whose replay
    * the first-batch repair refuses, because the epoch's rows sit in
    * mixed files it will not delete). */
  def backfill(spark: SparkSession, table: String,
               includeNewest: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.col
    val epochs = spark.table(table).select(col("epoch"))
      .where(col("epoch") >= 0).distinct().collect().map(_.getLong(0))
    val chosen =
      if (includeNewest || epochs.isEmpty) epochs
      else epochs.filterNot(_ == epochs.max)
    chosen.foreach(e => markEpoch(spark, table, e))
  }

  /** Run-affinity markers present on the index (normally zero or one; two
    * can transiently coexist if an adopting stream crashed between create
    * and cleanup — membership, not equality, is the ownership test). */
  def storedRuns(spark: SparkSession, table: String): Set[String] = {
    val d = markerDir(spark, table)
    val fs = fsOf(spark, d)
    if (!fs.exists(d)) Set.empty
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(RunPrefix)).map(_.stripPrefix(RunPrefix)).toSet
  }

  /** Record `queryId` as the index's owning stream: create the new marker
    * FIRST (a crash mid-adoption must fail loud-and-closed later, never
    * leave the index unowned), then sweep foreign markers best-effort. */
  def storeRun(spark: SparkSession, table: String, queryId: String): Unit = {
    val d = markerDir(spark, table)
    val fs = fsOf(spark, d)
    fs.mkdirs(d)
    fs.createNewFile(new Path(d, s"$RunPrefix$queryId"))
    fs.listStatus(d).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith(RunPrefix) &&
                   p.getName != s"$RunPrefix$queryId")
      .foreach(p => try fs.delete(p, false)
        catch { case scala.util.control.NonFatal(_) => () })
  }

  /** Drop every marker under `path` — called by the flat epoch-layout
    * init functions: init OVERWRITES the index data, and stale markers
    * from a previous index at the same path would make the replay guard
    * skip the new run's appends (an empty index that silently accepts
    * everything and records nothing). [[GenIndex.init]] needs no call —
    * it deletes the whole root. */
  def reset(spark: SparkSession, path: String): Unit = {
    val d = new Path(path, Dir)
    fsOf(spark, d).delete(d, true)
    ()
  }
}
