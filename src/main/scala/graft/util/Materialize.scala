package graft.util

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.RddBridge
import org.apache.spark.storage.StorageLevel

/** The one lifecycle for operator intermediates: persists, checkpoint cuts
  * and their release all happen inside a [[Materialize.scope]].
  *
  * A scope is a frame on a per-thread stack. What an operator persists or
  * cuts inside it belongs to it, and the scope frees all of it when it
  * exits, on the normal path and on an exception alike. An operator's
  * output is handed to the ENCLOSING scope through [[Materialize.result]],
  * so a caller's scope (one per gate query in the harness mains, one per
  * epoch in `EpochIngest.step`, one per batch in `Sinks.fanoutEpoch`) frees
  * the result blocks once the consuming job has run — no GC or
  * ContextCleaner dependence. Checkpoint blocks live outside the
  * CacheManager and would otherwise pile up in a long-lived driver: dead
  * blocks measurably throttle later queries (round 3: q1_agg 1.5 s →
  * 14.2 s sixty queries into a session).
  *
  * Because the stack is per thread, a driver that runs queries on several
  * threads (Verify's gate pool) frees only what each thread made: one
  * query's exit can never destroy another's in-flight, unrecoverable
  * localCheckpoint blocks.
  *
  * The cut strategy is the session conf [[ConfKey]], read only by [[mode]]:
  *
  *   - `local` (default): eager `localCheckpoint` — fastest; lineage is
  *     truncated and the blocks are not executor-loss-safe;
  *   - `reliable`: eager `checkpoint` to `SparkContext.setCheckpointDir`
  *     (HDFS/S3) — survives executor loss; the cluster-mode setting;
  *   - `none`: plan inspection — [[result]] returns the lazy plan and hands
  *     the scope's intermediates to the enclosing scope, which must exist.
  */
object Materialize {

  val ConfKey = "spark.graft.dedup.materialize"

  sealed trait Mode
  case object Local extends Mode
  case object Reliable extends Mode
  case object Lazy extends Mode

  /** The cut strategy of `spark`'s session; any value other than
    * `local|reliable|none` is rejected. */
  def mode(spark: SparkSession): Mode = spark.conf.get(ConfKey, "local") match {
    case "local"    => Local
    case "reliable" => Reliable
    case "none"     => Lazy
    case other => throw new IllegalArgumentException(
      s"$ConfKey must be local|reliable|none, got '$other'")
  }

  /** What one scope owns: its salted persists, and its cuts as (the cut
    * frame, the checkpointed RDD backing it). */
  private final class Frame {
    val cached = ArrayBuffer.empty[DataFrame]
    val cuts = ArrayBuffer.empty[(DataFrame, RDD[_])]

    def isEmpty: Boolean = cached.isEmpty && cuts.isEmpty

    def adopt(child: Frame): Unit = {
      cached ++= child.cached; cuts ++= child.cuts
      child.cached.clear(); child.cuts.clear()
    }

    def free(): Unit = {
      cached.foreach(_.unpersist(blocking = false))
      cuts.foreach { case (_, rdd) => unpersistRdd(rdd) }
      cached.clear(); cuts.clear()
    }
  }

  private val stack = ThreadLocal.withInitial[List[Frame]](() => Nil)

  /** Run `body` in a fresh scope; everything it persists or cuts (and has
    * not handed on through [[result]]) is freed when it exits. */
  def scope[T](body: => T): T = {
    val frame = new Frame
    stack.set(frame :: stack.get)
    try body
    finally {
      stack.set(stack.get.tail)
      frame.free()
    }
  }

  private val salt = new AtomicLong(0L)

  /** `persist()` behind a process-unique plan salt, owned by the current
    * scope.
    *
    * The salt fixes the cross-query CacheManager race (round 10): Spark
    * keys cached plans by analyzed-plan equality, so two concurrent
    * invocations that build plan-equal intermediates — what Verify's gate
    * pool does when two gates share a dedup kernel — would share ONE entry,
    * and the first to finish would free it under the other (observed: a
    * verified-dedup output read as the pre-dedup band-collision multiset).
    * An always-true filter on a unique literal makes no two invocations'
    * persisted plans equal; the optimizer folds it away inside the cached
    * plan, so it costs nothing at run time. */
  def persist(df: DataFrame): DataFrame = {
    val p = df.where(lit("__graft_cache_salt_" + salt.incrementAndGet()).isNotNull)
      .persist()
    current("persist").cached += p
    p
  }

  /** Eagerly checkpoint `df` per [[mode]], owned by the current scope (if
    * any; an unscoped cut is freed by GC + ContextCleaner). Under `none` it
    * is a local cut: the mid-operator cuts of iterative loops keep their
    * plans O(1) per round in every mode. */
  def cut(df: DataFrame): DataFrame = {
    val c = checkpoint(df, mode(df.sparkSession))
    stack.get.headOption.foreach(own(_, c))
    c
  }

  /** The current scope's output. Under `local`/`reliable` an eager cut
    * owned by the enclosing scope, after which the current scope's
    * intermediates are dead; a frame that already IS a cut of the current
    * scope (a nested operator's result) moves to the enclosing scope
    * without a second cut. Under `none` the lazy plan, whose
    * intermediates move to the enclosing scope. */
  def result(df: DataFrame): DataFrame = {
    val m = mode(df.sparkSession)
    val (cur, parent) = stack.get match {
      case c :: p :: _ => (Some(c), Some(p))
      case c :: Nil    => (Some(c), None)
      case Nil         => (None, None)
    }
    if (m == Lazy) {
      parent match {
        case Some(p) => cur.foreach(p.adopt)
        case None if cur.exists(!_.isEmpty) =>
          throw new IllegalStateException(
            s"$ConfKey=none returns a lazy plan over persisted intermediates: " +
            "call the operator inside a Materialize.scope that owns them")
        case None =>
      }
      df
    } else cur.flatMap(_.cuts.find(_._1 eq df)) match {
      case Some(owned) =>
        cur.foreach(_.cuts -= owned)
        parent.foreach(_.cuts += owned)
        df
      case None =>
        val c = checkpoint(df, m)
        parent.foreach(own(_, c))
        c
    }
  }

  /** Free `df` now — a persist or cut whose consumer has already run (the
    * previous round of an iterative loop). A frame that merely contains
    * cuts (a join, a union) frees nothing: see `RddBridge.backingRdd`. */
  def release(df: DataFrame): Unit = {
    val frames = stack.get
    frames.find(_.cached.exists(_ eq df)).foreach { f =>
      f.cached.filterInPlace(_ ne df)
      df.unpersist(blocking = false)
    }
    RddBridge.backingRdd(df).foreach { r =>
      frames.foreach(_.cuts.filterInPlace(_._2 ne r))
      unpersistRdd(r)
    }
  }

  /** Load every persist that `df` reads and that is not loaded yet, one
    * job each. A loaded persist reports its measured size to the planner;
    * an unloaded one reports its plan's estimate, which undercounts an
    * `explode` by its rows per input row. For a static plan (no adaptive
    * re-planning), so that it broadcasts a persisted intermediate only when
    * its measured size is under the broadcast threshold. */
  def load(df: DataFrame): Unit =
    df.queryExecution.withCachedData.foreach {
      case r: InMemoryRelation if !r.cacheBuilder.isCachedColumnBuffersLoaded =>
        r.cacheBuilder.cachedColumnBuffers.count()
      case _ =>
    }

  private def current(op: String): Frame = stack.get.headOption.getOrElse(
    throw new IllegalStateException(s"Materialize.$op outside a Materialize.scope"))

  private def own(f: Frame, cut: DataFrame): Unit =
    RddBridge.backingRdd(cut).foreach(r => f.cuts += (cut -> r))

  private def checkpoint(df: DataFrame, m: Mode): DataFrame =
    if (m == Reliable) df.checkpoint(eager = true) else df.localCheckpoint(eager = true)

  private def unpersistRdd(rdd: RDD[_]): Unit =
    if (rdd.getStorageLevel != StorageLevel.NONE)
      rdd.unpersist(blocking = false)

  /** (cached RDD count, memory bytes, disk bytes) in the block manager —
    * the session-age instrumentation the bench logs per query. */
  def storageSummary(spark: SparkSession): (Int, Long, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.length, infos.map(_.memSize).sum, infos.map(_.diskSize).sum)
  }
}
