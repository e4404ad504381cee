package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}

/** Crash-safe GENERATIONAL layout for the persisted dedup indexes — the
  * production answer to the one crash window the single-path layout
  * accepts: [[Dedup.compactHammingIndex]] lineage-cuts the live table into
  * executor memory and overwrites its own path, so a JVM loss mid-rewrite
  * destroys the only durable copy of the index. Here compaction never
  * touches the live files:
  *
  *   - `root/gen-<k>/` holds one immutable-once-committed generation of
  *     the bucketed index; the LIVE generation is the highest `k` whose
  *     directory contains a `_COMMITTED` marker.
  *   - the marker is created with a single atomic create-exclusive call
  *     AFTER the generation's data write completes — file creation is
  *     atomic on both POSIX and HDFS, so there is no partially-committed
  *     state to observe and no atomic-overwrite primitive to depend on.
  *   - a crash before the marker leaves an uncommitted `gen-<k+1>` that
  *     every reader ignores and the next compaction deletes and rewrites;
  *     a crash after the marker is a completed compaction (superseded
  *     generations are swept best-effort and re-swept next time).
  *
  * Micro-batch APPENDS keep writing through the session catalog table,
  * which always points at the live generation — a generation is immutable
  * once SUPERSEDED, not while live. The session-catalog repoint after the
  * marker flip (drop + rename of the scratch entry) is a convenience, not
  * the commit: the catalog does not survive the JVM, and [[open]] rebuilds
  * it from the marker — a metastore deployment replaces both DDLs with one
  * atomic `ALTER TABLE .. SET LOCATION`.
  *
  * Opt-in by init choice: ingest loops probe `isGenerational(root)` and
  * route `compactEvery` to [[compactSwap]] when the index was created via
  * [[init]], keeping the slimmer single-path layout the gate queries use
  * otherwise. */
object GenIndex {

  private val GenPrefix = "gen-"
  /** Generation commit-marker file name (shared with [[EpochMarkers]]'
    * layout detection). */
  val CommitMarker = "_COMMITTED"
  private val Marker = CommitMarker

  private def fsOf(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def genPath(root: String, k: Long): String = s"$root/$GenPrefix$k"

  /** Highest committed generation under `root`, if any. */
  def liveGen(spark: SparkSession, root: String): Option[Long] = {
    val (fs, p) = fsOf(spark, root)
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(GenPrefix))
      .flatMap(s => s.getPath.getName.stripPrefix(GenPrefix).toLongOption
        .filter(_ => fs.exists(new Path(s.getPath, Marker))))
      .sorted.lastOption
  }

  /** True iff `root` carries the generational layout (any committed gen). */
  def isGenerational(spark: SparkSession, root: String): Boolean =
    liveGen(spark, root).isDefined

  /** Path of the live generation's data directory. */
  def livePath(spark: SparkSession, root: String): String =
    genPath(root, liveGen(spark, root).getOrElse(sys.error(
      s"GenIndex.livePath: no committed generation under $root — init first")))

  /** Create generation 0 from `df` (typically an empty epoch-stamped
    * index frame), register it as bucketed `table`, and commit it.
    * Destructive like `bucketMaterialize`'s overwrite: any prior
    * generations under `root` are discarded — this INITIALIZES an index;
    * resuming an existing one is [[open]]. */
  def init(df: DataFrame, table: String, root: String, key: String,
           buckets: Int): DataFrame = {
    val spark = df.sparkSession
    val (fs, rootPath) = fsOf(spark, root)
    fs.delete(rootPath, true)
    val p0 = genPath(root, 0L)
    val out = Relational.bucketMaterialize(df, table, key, buckets, p0)
    commit(spark, p0)
    out
  }

  /** Recovery / fresh-session entry: register the live generation as
    * bucketed `table` (external CLUSTERED BY DDL over the committed files
    * — bucket ids come from the writer's file naming, so the probe's
    * zero-exchange bucket join survives re-registration). */
  def open(spark: SparkSession, table: String, root: String, key: String,
           buckets: Int): DataFrame =
    register(spark, table, livePath(spark, root), key, buckets)

  /** Register an external bucketed parquet table over existing files —
    * [[open]] without the generation resolution, for recovering a
    * SINGLE-PATH index after a session restart (the in-memory catalog
    * does not survive the JVM; the files do). Schema is read from the
    * parquet footers; bucket ids come from the writer's file naming. */
  def register(spark: SparkSession, table: String, path: String,
               key: String, buckets: Int): DataFrame = {
    val schema = spark.read.parquet(path).schema.toDDL
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    spark.sql(s"CREATE TABLE `$table` ($schema) USING PARQUET " +
      s"CLUSTERED BY (`$key`) SORTED BY (`$key`) INTO $buckets BUCKETS " +
      s"LOCATION '$path'")
    spark.table(table)
  }

  /** True iff `path` already holds index data files — the restart-
    * detection probe for single-path layouts. */
  def hasData(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = fsOf(spark, path)
    fs.exists(p) && fs.listStatus(p).exists(s =>
      s.isFile && s.getPath.getName.startsWith("part-"))
  }

  /** Crash-safe compaction: rewrite the live generation's rows into one
    * file set per bucket at `gen-<k+1>`, commit the marker (the single
    * atomic durable step), repoint the session table, sweep superseded
    * generations. The live files are only read, never modified — a crash
    * at ANY point leaves either the old or the new generation fully
    * committed, never a windowed index. */
  def compactSwap(spark: SparkSession, table: String, root: String,
                  key: String, buckets: Int): Unit = {
    val k = liveGen(spark, root).getOrElse(sys.error(
      s"GenIndex.compactSwap: no committed generation under $root"))
    val (fs, _) = fsOf(spark, root)
    val freshPath = genPath(root, k + 1)
    // a crashed prior attempt may have left uncommitted files here — its
    // marker was never created, so dropping it discards nothing durable
    fs.delete(new Path(freshPath), true)
    val scratch = s"${table}__compacting"
    // group rows by their BUCKET ID before the write (one file per
    // non-empty bucket); the partition key must be the DERIVED
    // pmod(hash(key), buckets) expression — see compactHammingIndex on
    // why a plain repartition(key) is optimizer-removed against the
    // bucketed scan and lands tasks × buckets files. No lineage cut
    // needed here: the write target is a fresh path, so the rewrite
    // streams straight from the live files it never touches.
    Relational.bucketMaterialize(
      spark.table(table).repartition(buckets, pmod(hash(col(key)), lit(buckets))),
      scratch, key, buckets, freshPath)
    commit(spark, freshPath) // <- the commit point
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    spark.sql(s"ALTER TABLE `$scratch` RENAME TO `$table`")
    sweep(fs, root, keep = k + 1)
    // bound the epoch-marker count alongside the file count: markers
    // below the max are never probed again (only the CURRENT batch's
    // markers and the max matter), so each swap prunes them — a no-op
    // for marker-less indexes (the IVF serving index); one listing
    EpochMarkers.pruneToMax(spark, table)
  }

  /** First-batch validation every streaming ingest step shares: the
    * resume guard ([[requireEpochAhead]] — batchId vs max epoch + run
    * affinity), a ONE-TIME repair probe for the resumed epoch, and the
    * compaction layout rule — periodic compaction REQUIRES the
    * generational layout regardless of how the loop was assembled
    * (config sink or direct API): the in-place rewrite's mid-crash
    * window can destroy a long-running stream's only index copy, and it
    * discards the per-epoch commit markers the replay guard depends on.
    *
    * The repair probe closes the one gap the attempt-gated append leaves
    * open: rows for THIS batchId without a commit marker AND without an
    * attempt marker — an index written before the marker era (the
    * attempt gate would skip the repair and the append would then DOUBLE
    * the replayed epoch's postings). Replays only ever happen on a
    * writer's first batch (a failure kills the query; the restart builds
    * a fresh closure), so probing here is sound and costs one scan per
    * writer LIFETIME, keeping the per-batch guard scan-free.
    *
    * `fresh`: the caller initialized the index in this writer's lifetime
    * and has appended nothing to it, so it holds no rows: both index scans
    * (the resume guard's row max and the repair probe) are skipped, the
    * marker checks and the run-affinity record are not. */
  def validateFirstBatch(spark: SparkSession, indexTable: String,
                         batchId: Long, indexPath: String,
                         compactEvery: Int, fresh: Boolean = false): Unit = {
    requireEpochAhead(spark, indexTable, batchId, fresh)
    if (!Dedup.epochAppended(spark, indexTable, batchId) && !fresh)
      Dedup.repairPartialEpoch(spark, indexTable, batchId)
    if (compactEvery > 0 && indexPath != null)
      require(isGenerational(spark, indexPath),
        s"index '$indexTable': compactEvery = $compactEvery needs the " +
        s"generational layout at $indexPath (init with gen = true) — " +
        "in-place compaction can window the index under a mid-rewrite " +
        "crash and discards the epoch commit markers the replay guard " +
        "depends on")
  }

  private def commit(spark: SparkSession, path: String): Unit = {
    val (fs, _) = fsOf(spark, path)
    fs.createNewFile(new Path(path, Marker))
    ()
  }

  /** Best-effort removal of every generation below `keep` — superseded
    * committed gens and abandoned uncommitted attempts alike. Failures
    * are ignored (ANY non-fatal one — the compaction already committed;
    * a cleanup hiccup must not fail the ingest epoch); the next
    * compaction re-sweeps. Shared with [[graft.streaming.IngestOutput]],
    * whose fold generations use the identical `gen-<k>` layout. */
  private[graft] def sweep(fs: FileSystem, root: String, keep: Long): Unit =
    try fs.listStatus(new Path(root)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(GenPrefix))
      .flatMap(s => s.getPath.getName.stripPrefix(GenPrefix).toLongOption
        .filter(_ < keep).map(_ => s.getPath))
      .foreach(p => try fs.delete(p, true)
        catch { case scala.util.control.NonFatal(_) => () })
    catch { case scala.util.control.NonFatal(_) => () }

  /** Layout-routed periodic compaction of the epoch-ingest loop
    * ([[graft.streaming.EpochIngest]]): a generational root gets the crash-safe
    * fresh-generation swap. The single-path branch keeps the in-place
    * rewrite for EXPERT direct callers only — the streaming ingest steps
    * enforce the generational layout before ever reaching here
    * ([[validateFirstBatch]]): the in-place rewrite can destroy a
    * stream's only index copy mid-crash and discards the per-epoch
    * commit markers ([[EpochMarkers]]) the replay guard depends on. */
  def compactAuto(spark: SparkSession, table: String, path: String,
                  key: String, buckets: Int): Unit =
    if (isGenerational(spark, path)) compactSwap(spark, table, path, key, buckets)
    else Dedup.compactPostingIndexFiles(spark, table, path, buckets, key)

  /** First-batch table resolution for the config ingest sinks: an
    * existing index at `path` RE-REGISTERS from its files (generation
    * marker, else bucketed part-files — the session catalog does not
    * survive a JVM restart and an init here would overwrite the
    * accumulated index); only a truly empty `path` runs `init`. Returns
    * whether it ran `init`. */
  def openOrInit(spark: SparkSession, table: String, path: String,
                 key: String, buckets: Int)(init: => Unit): Boolean =
    if (isGenerational(spark, path)) { open(spark, table, path, key, buckets); false }
    else if (hasData(spark, path)) { register(spark, table, path, key, buckets); false }
    else { init; true }

  /** Resume guard for the exactly-once ingest sinks: a resuming stream's
    * `batchId` may never sit BEHIND the index's newest epoch — that means
    * the checkpoint does not belong to this index (wiped/fresh checkpoint
    * over an accumulated index). Letting it run corrupts silently twice
    * over: the probe's `epoch < batchId` filter hides the accepted corpus
    * (duplicates re-accepted), and [[Dedup.epochAppended]] sees the OLD
    * run's commits for the same small batchIds and skips the new appends
    * (survivor fingerprints permanently missing).
    *
    * `batchId > maxEpoch` is safe unconditionally (the probe sees every
    * existing epoch; the appends stamp fresh ones) — the caller becomes
    * the index's recorded owner. `batchId == maxEpoch` is the REPLAY
    * case, and arithmetic alone cannot tell a legal replay from a wiped
    * checkpoint over an index whose newest (and only) epoch is that same
    * batchId — so it additionally requires RUN AFFINITY: the stable
    * streaming query id (persisted in the checkpoint metadata, so it
    * survives restarts but not a wipe) must match the `run-` marker the
    * owning stream stored ([[EpochMarkers]]). Direct API callers (no
    * streaming query on the thread — spec replays, driver-sequential
    * loops) keep the arithmetic-only contract. One epoch-column scan plus
    * one marker listing, checked once per writer lifetime, not per epoch;
    * a `fresh` index (see [[validateFirstBatch]]) holds no rows and is not
    * scanned. */
  def requireEpochAhead(spark: SparkSession, table: String,
                        batchId: Long, fresh: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.{col, max}
    val rowMax = if (fresh) -1L
      else spark.table(table).agg(max(col("epoch"))).head() match {
        case r if r.isNullAt(0) => -1L
        case r                  => r.getLong(0)
      }
    // rows alone UNDER-count: an epoch whose survivors were all
    // duplicates (or a crashed attempt) commits/attempts a marker but
    // lands zero postings — a row-only max would let a wiped checkpoint
    // slip past as "ahead" while the stale markers silently skip its
    // appends. The guard takes the max over both sources.
    val maxEpoch = math.max(rowMax, EpochMarkers.maxMarkedEpoch(spark, table))
    require(batchId >= maxEpoch,
      s"resuming batchId $batchId is behind index '$table' max epoch " +
      s"$maxEpoch — this checkpoint does not belong to this index. " +
      "Resume with the original checkpoint, or re-initialize index AND " +
      "output together with the new checkpoint.")
    EpochMarkers.currentQueryId(spark).foreach { qid =>
      val stored = EpochMarkers.storedRuns(spark, table)
      if (batchId == maxEpoch && maxEpoch >= 0) {
        // marker-less adoption is the deliberate pre-marker-era migration
        // seam: arithmetic alone cannot tell that legacy index's own
        // resumed checkpoint from a wiped one, so the adoption is allowed
        // but LOUD (round-15 verdict #2) — and one-shot: `storeRun` below
        // records this stream as owner, so any later foreign checkpoint
        // fails the membership test above. Closing it silently requires
        // the documented opt-in (EpochMarkers.backfill + storeRun before
        // resuming, MIGRATION.md §3a).
        if (stored.isEmpty) {
          legacyAdoptions.incrementAndGet()
          System.err.println(
            s"[graft] WARNING: index '$table' carries no run-affinity " +
            s"marker (pre-marker-era index); stream query $qid is adopting " +
            s"it at replayed epoch $batchId. If this checkpoint is NOT the " +
            "one that wrote the index, stop now and re-initialize index " +
            "and output together; to make future resumes strict, run " +
            "EpochMarkers.backfill + storeRun at migration time " +
            "(MIGRATION.md §3a).")
        }
        require(stored.isEmpty || stored.contains(qid),
          s"resuming batchId $batchId equals index '$table' newest epoch, " +
          s"but this stream (query $qid) is not the one that wrote it " +
          s"(${stored.mkString(", ")}) — a wiped or foreign checkpoint " +
          "over an accumulated index would silently re-accept duplicates " +
          "and skip its appends. Resume with the original checkpoint, or " +
          "re-initialize index AND output together with the new checkpoint.")
      }
      if (!stored.contains(qid)) EpochMarkers.storeRun(spark, table, qid)
    }
  }

  /** Count of marker-less legacy-index adoptions ([[requireEpochAhead]]'s
    * warned migration seam) — spec observability for the loud-adoption
    * contract; never read by product code. */
  private[graft] val legacyAdoptions = new java.util.concurrent.atomic.AtomicLong
}
