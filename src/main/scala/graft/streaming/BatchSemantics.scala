package graft.streaming

import graft.event.Event

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Count-OR-timeout micro-batching (reference `BatchSinkSemantics`,
  * `core/src/main/scala/atiesh/sink/BatchSinkSemantics.scala:155-214`):
  * events buffer per tag and flush when the buffer reaches `batchSize` or
  * `batchTimeoutMillis` elapses since the first event of the buffer —
  * whichever comes first.
  *
  * In Spark the *approximate* form is free (trigger interval ≈ timeout,
  * `maxOffsetsPerTrigger` ≈ size — SURVEY.md §2.4); this class is the
  * *exact* form for when byte-exact batch boundaries matter, implemented
  * with `flatMapGroupsWithState` + processing-time timeout — the idiomatic
  * Spark stateful operator, checkpointed and recoverable, state partitioned
  * by tag (scales horizontally with distinct tags; a single global tag
  * funnels through one state partition at scale — same semantics, and the
  * same bottleneck, as the reference's single BatchManager actor).
  */
object BatchSemantics {

  /** One flushed batch: the reference's `Batch(events, tag)` statement. */
  final case class Batch(tag: String, bodies: Seq[String], sizeFlush: Boolean)

  final case class Config(batchSize: Int, batchTimeoutMillis: Long) {
    // validation parity: reference rejects size==1 and both-infinite
    // (BatchSinkSemantics.scala:135-146)
    require(batchSize != 1, "batch-size 1 is pointless — use no batching")
    require(batchSize > 0 || batchTimeoutMillis > 0,
      "batch-size and batch-timeout cannot both be unbounded")
  }

  /** Buffered state: `firstTs` = processing time when the CURRENT buffer
    * went empty→non-empty. The reference schedules its flush task once, at
    * buffer creation (BatchSinkSemantics.scala:169-178) — so the timeout
    * must measure time since the buffer's first event, not since the last
    * arrival (re-arming on every arrival defers the flush indefinitely
    * under a steady trickle).
    *
    * NOTE: this state class replaced the bare `Vector[Event]` kryo state —
    * checkpoints written by the earlier encoding cannot restore (kryo class
    * mismatch); restart such pipelines from a fresh checkpoint. */
  final case class Buffered(firstTs: Long, events: Vector[Event])

  /** Exact count-or-timeout batching over a keyed event stream. */
  def batchByTag(events: Dataset[(String, Event)], cfg: Config)
      : Dataset[Batch] = {
    implicit val stateEnc = Encoders.kryo[Buffered]
    implicit val batchEnc = Encoders.product[Batch]
    events.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[Buffered, Batch](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout())(step(cfg))
  }

  /** [[batchByTag]]'s state function for one tag. */
  def step(cfg: Config)(tag: String, rows: Iterator[(String, Event)],
                        state: GroupState[Buffered]): Iterator[Batch] =
    if (state.hasTimedOut) {
      val buffered = state.getOption.map(_.events).getOrElse(Vector.empty)
      state.remove()
      if (buffered.isEmpty) Iterator.empty
      else Iterator(Batch(tag, buffered.map(_.body), sizeFlush = false))
    } else {
      val now = state.getCurrentProcessingTimeMs()
      // Spark reports a timeout only for a tag with no new rows, so under a
      // steady trickle the deadline passes inside this branch: flush the
      // expired buffer as its timeout batch first (the reference's flush
      // task fires at the deadline, before these rows arrive); the new rows
      // then start a fresh buffer
      val held = state.getOption
      val expired = held.filter(b =>
        cfg.batchTimeoutMillis > 0 && now - b.firstTs >= cfg.batchTimeoutMillis)
      val prev = if (expired.isDefined) None else held
      var buf = prev.map(_.events).getOrElse(Vector.empty) ++ rows.map(_._2)
      val flushes = Iterator.unfold(buf) { b =>
        if (cfg.batchSize > 0 && b.size >= cfg.batchSize)
          Some((Batch(tag, b.take(cfg.batchSize).map(_.body), sizeFlush = true),
                b.drop(cfg.batchSize)))
        else None
      }.toVector
      buf = buf.drop(flushes.size * cfg.batchSize)
      if (buf.isEmpty) state.remove()
      else {
        // a size-flush consumed the old buffer head → the leftover
        // tail is a NEW buffer whose clock starts now (reference: a
        // fresh flush task per created batch buffer)
        val firstTs =
          if (prev.isEmpty || flushes.nonEmpty) now
          else prev.get.firstTs
        state.update(Buffered(firstTs, buf))
        if (cfg.batchTimeoutMillis > 0)
          state.setTimeoutDuration(
            math.max(1L, firstTs + cfg.batchTimeoutMillis - now))
      }
      expired.iterator.map(b => Batch(tag, b.events.map(_.body), sizeFlush = false)) ++
        flushes.iterator
    }

  /** Batch-mode twin for tests/oracle: same grouping + size-splitting
    * semantics without the timer (a finite batch "ends" = full flush).
    * Bodies within a tag are ordered by the given sort key for determinism.
    */
  def batchByTagStatic(df: org.apache.spark.sql.DataFrame, tagCol: String,
                       bodyCol: String, orderCol: String, batchSize: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(col(tagCol)).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w) - 1)
      .withColumn("batch_idx", (col("__rn") / batchSize).cast("long"))
      .groupBy(col(tagCol).as("tag"), col("batch_idx"))
      .agg(count(lit(1)).as("batch_n"),
           // sort collected (rn, body) pairs so assembly order is the sort
           // key order regardless of shuffle arrival order (determinism)
           concat_ws("\n", transform(
             sort_array(collect_list(struct(col("__rn"), col(bodyCol).as("b")))),
             s => s.getField("b"))).as("batch_body"))
  }
}
