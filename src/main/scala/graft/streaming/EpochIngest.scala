package graft.streaming

import graft.config.GraftConfig
import graft.functions.LongParam
import graft.operators.{Dedup, GenIndex, Multimodal}
import graft.util.Materialize

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, size}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** One epoch-stamped dedup index as the ingest loop sees it — only what
  * differs between the four kinds ([[IndexKind.textPostings]],
  * [[IndexKind.embedLsh]], [[IndexKind.hamming]],
  * [[IndexKind.familyHamming]]); everything else is [[EpochIngest]].
  *
  * @param key             the bucket column (`h`, `bucket` or `bk`)
  * @param inputSchema     DDL of the postings input, the empty frame a
  *                        fresh index is initialized from
  * @param postings        postings input → index rows (without `epoch`)
  * @param probe           `(batch, index of epochs < batchId)` → the lazy
  *                        survivors in OUTPUT shape; the persisted
  *                        intermediates belong to the caller's scope
  * @param toPostingsInput survivor output rows → postings input */
final case class IndexKind(
    key: String,
    inputSchema: String,
    postings: DataFrame => DataFrame,
    probe: (DataFrame, DataFrame) => DataFrame,
    toPostingsInput: DataFrame => DataFrame = identity) {

  /** Fresh EMPTY index table at `path`, flat or generational (`gen`, which
    * periodic compaction requires) — see [[Dedup.initEpochIndex]]. */
  def init(spark: SparkSession, table: String, path: String,
           buckets: Int = 8, gen: Boolean = false): Unit =
    Dedup.initEpochIndex(
      postings(spark.createDataFrame(java.util.List.of[Row](),
        StructType.fromDDL(inputSchema))),
      table, path, key, buckets, gen)

  /** Replay-guarded append of `input`'s postings stamped `epoch`. */
  def append(input: DataFrame, table: String, buckets: Int,
             epoch: Long): Unit =
    Dedup.appendEpochIndex(postings(input), table, key, buckets, epoch)
}

object IndexKind {

  /** Text near-dup: n-gram Jaccard against the posting index (key `h`).
    * Survivors keep the batch's columns. The probe runs with df pruning
    * off (`maxDocFreq = Long.MaxValue`), because the appended `df` column
    * is the batch-local document frequency ([[Dedup.appendPostingIndex]]). */
  def textPostings(idCol: String = "id", textCol: String = "text",
                   shingleN: Int = 3, threshold: Double = 0.5): IndexKind =
    IndexKind("h", s"`$idCol` BIGINT, `$textCol` STRING",
      Dedup.buildPostingIndex(_, idCol, textCol, shingleN),
      (batch, index) => Dedup.incrementalSurvivorsIndexedLazy(batch, index,
        idCol, textCol, shingleN, threshold, Long.MaxValue))

  /** Embedding semantic dedup: cosine against LSH bucket-mates (key
    * `bucket`), `(id, vec)` survivors. A null or wrong-dimension vector
    * (an unparseable wire record) drops row-level before blocking —
    * `hyperplaneBucket`'s fail-loud dimension guard is right for batch
    * analytics over a landed corpus, but one bad record must not kill a
    * live epoch. */
  def embedLsh(threshold: Double = 0.95, lshBits: Int = 8,
               dim: Int = 64): IndexKind =
    IndexKind("bucket", "id BIGINT, vec ARRAY<FLOAT>",
      Dedup.buildEmbedPostings(_, lshBits, dim),
      (batch, index) => Dedup.embedSurvivorsIndexedLazy(
          batch.where(col("vec").isNotNull && size(col("vec")) === lit(dim)),
          index, threshold, lshBits, dim)
        .where(col("survives")).select(col("id"), col("vec")))

  /** Image fingerprint near-dup: `(id, payload)` batches are decoded once
    * (real ImageIO dHash; undecodable payloads drop before blocking) and
    * probed against the pigeonhole fragment index (key `bk`), `(id,
    * phash)` survivors. */
  def hamming(maxHamming: Int = 3): IndexKind =
    IndexKind("bk", "id BIGINT, sh BIGINT",
      Dedup.buildHammingPostings(_, maxHamming),
      (batch, index) => Dedup.hammingSurvivorsIndexedLazy(
          Multimodal.perceptualHash(batch).where(col("phash").isNotNull)
            .select(col("id"), col("phash").as("sh")),
          index, maxHamming)
        .where(col("survives")).select(col("id"), col("sh").as("phash")),
      _.select(col("id"), col("phash").as("sh")))

  /** The composed multimodal DAG's front half: ONE decode pass
    * sniff-routes every payload and fingerprints it in place, then the
    * family-keyed fragment index (key `bk`, family as a residual join
    * predicate — one index serves every modality) is probed; `(id,
    * family, phash)` survivors. Payloads that fail to decode drop before
    * blocking. */
  def familyHamming(maxHamming: Int = 3): IndexKind =
    IndexKind("bk", "id BIGINT, sh BIGINT, grp STRING",
      Dedup.buildHammingPostingsKeyed(_, maxHamming),
      (batch, index) => Dedup.hammingSurvivorsIndexedKeyedLazy(
          Multimodal.ingestFingerprints(batch).toDF().where(col("fp").isNotNull)
            .select(col("id"), col("fp").as("sh"), col("family").as("grp")),
          index, maxHamming)
        .where(col("survives"))
        .select(col("id"), col("grp").as("family"), col("sh").as("phash")),
      _.select(col("id"), col("phash").as("sh"), col("family").as("grp")))
}

/** The exactly-once epoch-ingest loop: the one home of the delivery
  * contract of the three ingest sinks ([[DedupIngestSink]] text,
  * [[EmbedIngestSink]] embeddings, [[MmIngestSink]] modality
  * fingerprints) and of their programmatic entry points. Each
  * micro-batch keeps only the rows that near-duplicate neither the
  * ACCEPTED corpus so far (probed through the bucketed index — zero
  * index-side exchange, PlanSpec-pinned) nor a smaller-id row of the same
  * batch; the survivors extend the output and the index before the epoch
  * commits.
  *
  * Delivery contract — effective EXACTLY-ONCE over the at-least-once
  * `foreachBatch`, via the epoch-stamped index layout
  * ([[graft.operators.Dedup.initEpochIndex]]):
  *   - the probe reads only `epoch < batchId`, so a replayed batch never
  *     sees its own crashed attempt's postings and recomputes the
  *     IDENTICAL survivor decision;
  *   - survivors land in `outPath/epoch=<batchId>` with OVERWRITE — a
  *     replay rewrites the same rows in place (readers discover `epoch` as
  *     a partition column and project it away);
  *   - the index append is replay-guarded by per-epoch commit markers
  *     ([[graft.operators.Dedup.appendEpochIndex]]) — postings are never
  *     duplicated, which the Jaccard probe's intersection COUNTS require.
  * Any crash point (after output, after index, mid-append) therefore
  * replays to the same end state; the kill-and-restart specs drive real
  * checkpointed failures through every window.
  *
  * Maintenance: index file count is bounded by `compactEvery` (every N
  * epochs), which REQUIRES the generational layout
  * ([[graft.operators.GenIndex]], enforced on the first batch for config
  * and programmatic callers alike): the swap compacts crash-safely, while
  * an in-place rewrite could destroy a long-running stream's only index
  * copy and discards the epoch commit markers. Output directory count is
  * bounded by `foldOutputEvery` ([[IngestOutput]]).
  *
  * RESTARTS: [[IndexKind.init]] is destructive — a resumed stream must
  * re-register the existing index from its files
  * ([[graft.operators.GenIndex.open]] / `register`) instead of
  * re-initializing, or every accepted row is forgotten; the config
  * [[writer]] does this itself.
  *
  * 100 TB shape: the index is the big side and never moves (bucket-ordered
  * scan); per-batch shuffle is O(batch) postings; payload bytes live only
  * inside the per-batch decode stage. */
object EpochIngest {

  /** Idempotent per-epoch survivor write: `outPath/epoch=<batchId>`,
    * overwrite — replaying the epoch rewrites the same rows in place. */
  def writeEpoch(surv: DataFrame, outPath: String, batchId: Long): Unit =
    surv.write.mode("overwrite").parquet(s"$outPath/epoch=$batchId")

  /** [[writeEpoch]] as the epoch's MATERIALIZATION BARRIER: computes the
    * lazy survivor plan directly into the epoch directory (one job) and
    * returns the survivors re-read from the files just written, so the
    * index append that follows consumes durable storage instead of
    * re-running the probe. The write is the epoch's first side effect and
    * an idempotent overwrite. The read-back carries an explicit schema —
    * an all-duplicate epoch writes zero data files, which schema inference
    * would reject. */
  private def writeEpochBarrier(survLazy: DataFrame, outPath: String,
                                batchId: Long): DataFrame = {
    val spark = survLazy.sparkSession
    Materialize.load(survLazy)
    staticPlan(spark)(writeEpoch(survLazy, outPath, batchId))
    spark.read.schema(survLazy.schema).parquet(s"$outPath/epoch=$batchId")
  }

  /** Runs `body` with adaptive execution off, so the barrier write runs
    * as one static plan. Adaptive execution re-optimizes, re-explains and
    * re-submits the probe once per exchange it completes, and on a batch of
    * a few hundred documents that re-planning, not the rows, was most of an
    * epoch's CPU. The index append stays adaptive: its static plan costs
    * more.
    *
    * Scoped like [[Streams.start]]: the planner reads the setting from the
    * session's conf, so it is set there for the length of `body` and then
    * restored (unset stays unset), and one lock per session serializes the
    * scoped change, so concurrent callers in one session never restore
    * each other's setting mid-write. A stream's epochs run in the stream's
    * own session. */
  private def staticPlan[A](spark: SparkSession)(body: => A): A =
    planLocks.computeIfAbsent(spark, _ => new Object).synchronized(
      Streams.withFalse(spark, Seq(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key))(body))

  private val planLocks = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, Object])

  /** The full per-epoch step `foreachBatch` runs (public so the
    * kill-and-restart specs can replay it from any crash window):
    * first-batch validation ([[GenIndex.validateFirstBatch]]: resume
    * guard, one-time repair probe, compaction layout rule) → probe of
    * strictly-earlier epochs → epoch-keyed output overwrite → guarded
    * index append → optional periodic index compaction → optional
    * periodic output folding (epochs strictly before this batch). */
  def step(kind: IndexKind, indexTable: String, outPath: String,
           buckets: Int = 8, indexPath: String = null,
           compactEvery: Int = 0,
           foldOutputEvery: Int = 0): (DataFrame, Long) => Unit =
    stepOn(kind, indexTable, outPath, buckets, indexPath, compactEvery,
      foldOutputEvery, freshIndex = false)

  /** [[step]]; `freshIndex` = the caller initialized the index in this
    * writer's lifetime, so the first batch skips its index scans
    * ([[GenIndex.validateFirstBatch]] `fresh`). */
  private def stepOn(kind: IndexKind, indexTable: String, outPath: String,
                     buckets: Int, indexPath: String, compactEvery: Int,
                     foldOutputEvery: Int,
                     freshIndex: Boolean): (DataFrame, Long) => Unit = {
    var validated = false
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      Dedup.requireMaterializing(spark, "EpochIngest.step")
      if (!validated) {
        GenIndex.validateFirstBatch(spark, indexTable, batchId, indexPath,
          compactEvery, freshIndex)
        validated = true
      }
      // the epoch's scope owns the probe's persists: they are freed once
      // the barrier write has run, or when it throws
      val surv = Materialize.scope {
        writeEpochBarrier(kind.probe(batch, spark.table(indexTable)
          .where(col("epoch") < LongParam.column(batchId))), outPath, batchId)
      }
      kind.append(kind.toPostingsInput(surv), indexTable, buckets, batchId)
      if (compactEvery > 0 && indexPath != null &&
          (batchId + 1) % compactEvery == 0)
        GenIndex.compactAuto(spark, indexTable, indexPath, kind.key, buckets)
      if (foldOutputEvery > 0 && (batchId + 1) % foldOutputEvery == 0)
        IngestOutput.fold(spark, outPath, batchId - 1)
    }
  }

  /** Run [[step]] as a live query over `incoming`; the index table must
    * exist ([[IndexKind.init]] or a re-registration). `availableNow`
    * drains and stops (gate/backfill runs); the default trigger keeps the
    * query live. */
  def start(incoming: DataFrame, kind: IndexKind, indexTable: String,
            outPath: String, checkpoint: String, buckets: Int = 8,
            availableNow: Boolean = false, indexPath: String = null,
            compactEvery: Int = 0,
            foldOutputEvery: Int = 0): StreamingQuery = {
    Streams.start(incoming) { w =>
      val writer = w.outputMode("append").option("checkpointLocation", checkpoint)
      (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
        .foreachBatch(step(kind, indexTable, outPath, buckets, indexPath,
          compactEvery, foldOutputEvery))
    }
  }

  /** The config-sink writer the three ingest sinks share. Keys:
    * `index-table`, `index-path`, `out-path`, `buckets` (8),
    * `compact-every` (0), `fold-output-every` (0), `layout` (`flat` |
    * `gen`), `id-expr` (`cast(headers['id'] as bigint)`); the sink passes
    * its `kind` and the `(column, SQL expression)` of the second input
    * column. Each routed micro-batch is projected to `(id, column)` over
    * the Event wire schema, then runs one [[step]].
    *
    * `compact-every > 0` REQUIRES `layout = gen`, checked at ASSEMBLY
    * (before a stream starts; [[GenIndex.validateFirstBatch]] checks it
    * again on the first batch): a configured long-running stream must
    * never get the in-place rewrite's mid-crash window.
    *
    * On the first batch the index at `index-path` is RE-REGISTERED from
    * its files when it exists (generation marker, else bucketed
    * part-files — a restart loses the session catalog, not the files, and
    * an init would overwrite the accumulated index); only an empty path
    * initializes, and then the first batch skips the index scans of the
    * resume guard and the repair probe: the index it just made is empty.
    * One step closure serves every batch, so the resume guard runs once
    * per writer lifetime. */
  def writer(cfg: GraftConfig, kind: IndexKind,
             value: (String, String)): (DataFrame, Long) => Unit = {
    val table = cfg.getString("index-table")
    val indexPath = cfg.getString("index-path")
    val outPath = cfg.getString("out-path")
    val buckets = cfg.getInt("buckets", 8)
    val compactEvery = cfg.getInt("compact-every", 0)
    val foldOutputEvery = cfg.getInt("fold-output-every", 0)
    val gen = cfg.getString("layout", "flat") == "gen"
    require(compactEvery <= 0 || gen,
      s"sink '$table': compact-every = $compactEvery needs layout = gen — " +
      "in-place compaction can window the index under a mid-rewrite crash")
    val idExpr = cfg.getString("id-expr", "cast(headers['id'] as bigint)")
    val (valueCol, valueExpr) = value
    var run: (DataFrame, Long) => Unit = null
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      if (run == null) {
        val fresh = !spark.catalog.tableExists(table) &&
          GenIndex.openOrInit(spark, table, indexPath, kind.key, buckets)(
            kind.init(spark, table, indexPath, buckets, gen))
        run = stepOn(kind, table, outPath, buckets, indexPath, compactEvery,
          foldOutputEvery, fresh)
      }
      run(batch.select(expr(idExpr).as("id"), expr(valueExpr).as(valueCol)),
        batchId)
    }
  }
}

/** `type = dedup-ingest`: the text near-dup crawl-ingest loop
  * ([[IndexKind.textPostings]]) as a config-declared sink. Keys of
  * [[EpochIngest.writer]] plus `shingle-n` (3), `threshold` (0.5) and
  * `text-expr` (`body`). */
class DedupIngestSink extends EpochSinkPlugin {
  override def build(cfg: GraftConfig): (DataFrame, Long) => Unit =
    DedupIngestSink.writer(cfg)
}

object DedupIngestSink {
  def writer(cfg: GraftConfig): (DataFrame, Long) => Unit =
    EpochIngest.writer(cfg,
      IndexKind.textPostings("id", "text", cfg.getInt("shingle-n", 3),
        cfg.getDouble("threshold", 0.5)),
      "text" -> cfg.getString("text-expr", "body"))
}

/** `type = embed-ingest`: the embedding semantic-dedup loop
  * ([[IndexKind.embedLsh]]) as a config-declared sink. Keys of
  * [[EpochIngest.writer]] plus `threshold` (0.95), `lsh-bits` (8), `dim`
  * (64) and `vec-expr` (a JSON float array parsed from the body). */
class EmbedIngestSink extends EpochSinkPlugin {
  override def build(cfg: GraftConfig): (DataFrame, Long) => Unit =
    EmbedIngestSink.writer(cfg)
}

object EmbedIngestSink {
  def writer(cfg: GraftConfig): (DataFrame, Long) => Unit =
    EpochIngest.writer(cfg,
      IndexKind.embedLsh(cfg.getDouble("threshold", 0.95),
        cfg.getInt("lsh-bits", 8), cfg.getInt("dim", 64)),
      "vec" -> cfg.getString("vec-expr",
        "cast(from_json(body, 'array<float>') as array<float>)"))
}

/** `type = mm-ingest`: the composed multimodal ingest DAG
  * ([[IndexKind.familyHamming]]) as a config-declared sink — payload
  * bytes ride base64 in the body by default, the reference's
  * opaque-bytes event contract. Keys of [[EpochIngest.writer]] plus
  * `max-hamming` (3) and `payload-expr` (`unbase64(body)`). */
class MmIngestSink extends EpochSinkPlugin {
  override def build(cfg: GraftConfig): (DataFrame, Long) => Unit =
    MmIngestSink.writer(cfg)
}

object MmIngestSink {
  def writer(cfg: GraftConfig): (DataFrame, Long) => Unit =
    EpochIngest.writer(cfg, IndexKind.familyHamming(cfg.getInt("max-hamming", 3)),
      "payload" -> cfg.getString("payload-expr", "unbase64(body)"))
}
