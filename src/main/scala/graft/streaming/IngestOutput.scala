package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Crash-safe FOLDING for the ingest sinks' epoch-keyed output — the
  * output-side twin of the index's generational compaction
  * ([[graft.operators.GenIndex]]): [[EpochIngest.writeEpoch]] lays down one
  * `outPath/epoch=<batchId>` directory per micro-batch forever, so a
  * month-long stream accumulates O(epochs) directories/files that every
  * consumer's partition discovery must list. Folding periodically rewrites
  * all committed epochs into ONE marker-committed base generation:
  *
  * {{{
  * outPath/
  *   _graft_folded/gen-<g>/   one immutable-once-committed folded base:
  *                            every surviving row of epochs <= its _UPTO-<k>
  *                            marker, `epoch` carried as a regular column;
  *                            live = highest g with _COMMITTED
  *   epoch=<k>/               unfolded epoch directories, k > live upto
  * }}}
  *
  * Crash contract (same single-atomic-step argument as GenIndex): the new
  * generation's data and `_UPTO-<k>` land first, then `_COMMITTED` is
  * created with one atomic create-exclusive call; only after that are the
  * folded `epoch=<k>` directories and superseded generations swept
  * (best-effort — [[read]] filters epoch dirs to `k > upto`, so a straggler
  * left by a crash mid-sweep is invisible, and the next fold deletes it).
  * A crash before the marker leaves an uncommitted generation every reader
  * ignores.
  *
  * Replay safety: [[fold]] is only ever called with `upto = batchId - 1` —
  * epochs strictly BEFORE the running batch, which the stream has already
  * checkpoint-committed, so a replayed batch can never find its own output
  * folded (its `epoch=<batchId>` overwrite and the folded base are
  * disjoint). A replayed fold is a no-op: the epochs it would fold are
  * already inside the live generation and their directories deleted.
  *
  * READERS: a folded output is no longer one flat partition-discovery
  * tree — the `_`-prefixed base is deliberately invisible to a naive
  * `spark.read.parquet(outPath)`. [[read]] is the official reader for both
  * layouts (never-folded outputs read exactly as before); rows and schema
  * are identical before and after any fold (spec-pinned), with `epoch`
  * normalized to LONG (partition discovery would otherwise infer int).
  *
  * 100 TB shape: a fold is O(accepted corpus) — the same deliberate cost
  * shape as the index's `compactSwap`, run every `foldOutputEvery` epochs
  * (production cadence: daily/weekly, not per-batch), and it keeps consumer
  * listing O(base + foldOutputEvery) instead of O(stream lifetime). */
object IngestOutput {

  private val FoldDir = "_graft_folded"
  private val GenPrefix = "gen-"
  private val UptoPrefix = "_UPTO-"
  private val Marker = graft.operators.GenIndex.CommitMarker

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def genDir(outPath: String, g: Long): Path =
    new Path(outPath, s"$FoldDir/$GenPrefix$g")

  /** Highest committed fold generation and its folded-through epoch, if
    * any. The upto is the MAX `_UPTO-<k>` marker in the generation —
    * an all-empty-epochs fold advances upto by adding a marker to the
    * live generation instead of rewriting identical data. */
  def liveFold(spark: SparkSession, outPath: String): Option[(Long, Long)] = {
    val root = new Path(outPath, FoldDir)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) None
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(GenPrefix))
      .flatMap(s => s.getPath.getName.stripPrefix(GenPrefix).toLongOption
        .filter(_ => fs.exists(new Path(s.getPath, Marker))).map((_, s.getPath)))
      .sortBy(_._1).lastOption.map { case (g, p) =>
        val upto = fs.listStatus(p).toSeq.map(_.getPath.getName)
          .filter(_.startsWith(UptoPrefix))
          .flatMap(_.stripPrefix(UptoPrefix).toLongOption)
        require(upto.nonEmpty,
          s"committed fold generation $p carries no $UptoPrefix marker")
        (g, upto.max)
      }
  }

  private def epochDirs(fs: FileSystem, outPath: String): Seq[(Long, Path)] = {
    val root = new Path(outPath)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("epoch="))
      .flatMap(s => s.getPath.getName.stripPrefix("epoch=").toLongOption
        .map((_, s.getPath)))
  }

  private def hasDataFiles(fs: FileSystem, p: Path): Boolean =
    fs.listStatus(p).exists(s => s.isFile && s.getPath.getName.startsWith("part-")
      && s.getLen > 0)

  /** Fold every `epoch=<k>` directory with `k <= upto` into a fresh
    * committed base generation. Callers pass `upto = batchId - 1` (only
    * checkpoint-committed epochs — see the replay-safety note above).
    * Idempotent: re-running with the same `upto` only sweeps stragglers. */
  def fold(spark: SparkSession, outPath: String, upto: Long): Unit = {
    if (upto < 0) return
    val fs = fsOf(spark, new Path(outPath))
    val live = liveFold(spark, outPath)
    // reclaim generations orphaned by a crash mid-sweep FIRST, so the
    // cleanup happens on EVERY fold call — including ones that early-out
    // below because the window holds no (data-bearing) epochs; a leaked
    // committed generation is a full corpus copy
    live.foreach { case (g, _) =>
      graft.operators.GenIndex.sweep(fs, s"$outPath/$FoldDir", keep = g) }
    val uptoOld = live.map(_._2).getOrElse(-1L)
    val dirs = epochDirs(fs, outPath)
    // stragglers from a crashed post-commit sweep: their rows are already
    // in the committed base — readers never saw them (the k > upto
    // filter), so this is pure cleanup and must never fail the epoch
    dirs.filter(_._1 <= uptoOld).foreach(d =>
      try fs.delete(d._2, true)
      catch { case scala.util.control.NonFatal(_) => () })
    val toFold = dirs.filter { case (k, _) => k > uptoOld && k <= upto }
    if (toFold.isEmpty) return
    val withData = toFold.filter(d => hasDataFiles(fs, d._2))
    if (withData.isEmpty) {
      // nothing to rewrite — advance upto in place when a base exists
      // (marker creation is atomic; rewriting identical data buys nothing)
      live.foreach { case (g, _) =>
        fs.createNewFile(new Path(genDir(outPath, g), s"$UptoPrefix$upto")) }
      // post-marker cleanup, best-effort like every other sweep here
      toFold.foreach(d => if (live.isDefined)
        try fs.delete(d._2, true)
        catch { case scala.util.control.NonFatal(_) => () })
      return
    }
    val g1 = live.map(_._1 + 1).getOrElse(0L)
    val fresh = genDir(outPath, g1)
    fs.delete(fresh, true) // abandoned uncommitted attempt, never durable
    // ONE multi-directory scan with partition-discovered `epoch` (the
    // [[read]] pattern), NOT a per-epoch `reduce(_ unionByName _)`: the
    // first fold after enabling folding on a long-lived output covers
    // every epoch since stream birth, and a union plan that wide is a
    // driver-side analyzer blowup before a single task runs (round-15
    // verdict #1). Partition discovery infers `epoch` as int and appends
    // it last — cast to long matches the previous `lit(k: Long)` column
    // bit-exactly, and the fold spec pins read-equality across layouts.
    val unfolded = spark.read.option("basePath", outPath)
      .parquet(withData.map(_._2.toString): _*)
      .withColumn("epoch", col("epoch").cast("long"))
    val all = live match {
      case Some((g, _)) =>
        spark.read.parquet(genDir(outPath, g).toString).unionByName(unfolded)
      case None => unfolded
    }
    all.write.mode("overwrite").parquet(fresh.toString)
    fs.createNewFile(new Path(fresh, s"$UptoPrefix$upto"))
    fs.createNewFile(new Path(fresh, Marker)) // <- the commit point
    // best-effort sweeps; a crash here leaves stragglers the reader
    // filters and the entry-time sweep of the NEXT fold reclaims — every
    // generation below the new live one goes, not just the immediately
    // superseded one (GenIndex.sweep, shared — same gen-<k> layout)
    toFold.foreach(d => try fs.delete(d._2, true)
      catch { case scala.util.control.NonFatal(_) => () })
    graft.operators.GenIndex.sweep(fs, s"$outPath/$FoldDir", keep = g1)
  }

  /** The official reader for ingest output, folded or not: all surviving
    * rows with `epoch` as a LONG column. Identical rows/schema before and
    * after any fold; a never-folded `outPath` reads exactly like the
    * plain partition-discovery read the gates have always done. */
  def read(spark: SparkSession, outPath: String): DataFrame =
    liveFold(spark, outPath) match {
      case None =>
        spark.read.parquet(outPath)
          .withColumn("epoch", col("epoch").cast("long"))
      case Some((g, upto)) =>
        val base = spark.read.parquet(genDir(outPath, g).toString)
          .withColumn("epoch", col("epoch").cast("long"))
        val fs = fsOf(spark, new Path(outPath))
        val unfolded = epochDirs(fs, outPath)
          .filter { case (k, p) => k > upto && hasDataFiles(fs, p) }
        if (unfolded.isEmpty) base
        else base.unionByName(
          spark.read.option("basePath", outPath)
            .parquet(unfolded.map(_._2.toString): _*)
            .withColumn("epoch", col("epoch").cast("long")))
    }
}
