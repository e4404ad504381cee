package graft.gates

import graft.OracleXX
import graft.functions.{TextFunctions => TF}
import graft.operators.{Dedup, Sampling, Similarity, TextAnalysis}

import org.apache.spark.sql.functions._

import GateSupport._
import OracleCtes._

/** Data-curation gates: splits, sampling, mixtures, packing and the
  * end-to-end curation pipeline and report. */
object CurationGates {
  private val family = "curation"

  val gates: Seq[GateQuery] = Seq(
    /** Which sources near-duplicate which: the exact n-gram pair list rolled
      * up per unordered source pair. */
    GateQuery("curation_overlap", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
            shingleN = 3, threshold = 0.5, maxDocFreq = Long.MaxValue)
        Dedup.sourceOverlapMatrix(docs, pairs, "doc_id", "source")
          .orderBy("source_a", "source_b")
      },
      oracleSql = s"""
      WITH ${ngramJaccardCtes(0.5)},
      sel AS (
        SELECT least(sa.source, sb.source) AS source_a,
               greatest(sa.source, sb.source) AS source_b, id_a, id_b
        FROM ok JOIN documents sa ON ok.id_a = sa.doc_id
                JOIN documents sb ON ok.id_b = sb.doc_id),
      np AS (SELECT source_a, source_b, count(*)::BIGINT AS n_pairs
             FROM sel GROUP BY 1, 2),
      nd AS (SELECT source_a, source_b, count(DISTINCT d)::BIGINT AS n_docs
             FROM (SELECT source_a, source_b, unnest([id_a, id_b]) AS d
                   FROM sel) GROUP BY 1, 2)
      SELECT source_a, source_b, n_pairs, n_docs
      FROM np JOIN nd USING (source_a, source_b)
      ORDER BY source_a, source_b"""),
    /** Deterministic hash split + sample flags — reproducible corpus
      * curation (see `Sampling`); the oracle recomputes the same xxhash64
      * buckets via the OracleXX replica. */
    GateQuery("curation_split", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.Sampling.hashSplit(docs, "doc_id",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .select(col("doc_id"), col("split"),
            (graft.operators.Sampling.bucket(col("doc_id"), seed = 7L) < 100000L)
              .as("in_sample"))
          .orderBy("doc_id")
      },
      oracleSql = {
        val b0 = OracleXX.xxh64LongPmod("doc_id", 1000000L)
        val seed7 = java.lang.Long.toUnsignedString(
          org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(7L, 42L))
        val b7 = OracleXX.xxh64LongPmod("doc_id", 1000000L, seed = seed7)
        s"""
      SELECT doc_id,
             CASE WHEN $b0 < 800000 THEN 'train'
                  WHEN $b0 < 900000 THEN 'val'
                  ELSE 'test' END AS split,
             ($b7 < 100000) AS in_sample
      FROM documents ORDER BY doc_id"""
      }),
    GateQuery("curation_stratified", family,
      build = (s, dir) =>
        graft.operators.Sampling.stratifiedSample(t(s, dir, "documents"),
            "doc_id", "lang", Map("en" -> 0.3, "fr" -> 0.5))
          .select("doc_id", "lang")
          .orderBy("doc_id"),
      oracleSql = {
        val b0 = OracleXX.xxh64LongPmod("doc_id", 1000000L)
        s"""
      SELECT doc_id, lang FROM documents
      WHERE $b0 < CASE WHEN lang = 'en' THEN 300000
                       WHEN lang = 'fr' THEN 500000
                       ELSE 1000000 END
      ORDER BY doc_id"""
      }),
      /** Per-language rebalancing — the curation move a multilingual corpus
        * actually needs (downsample the dominant language, keep the rest). */
    /** Systematic PPS draw of exactly 100 slots over the token-weight line
      * (see [[graft.operators.Sampling.systematicSample]]): heavy documents
      * can win multiple slots — the defining PPS property. */
    GateQuery("curation_systematic", family,
      build = (s, dir) =>
        graft.operators.Sampling.systematicSample(
            t(s, dir, "documents"), "doc_id",
            graft.functions.TextFunctions.bpeishTokenCount(col("text")), k = 100)
          .orderBy("doc_id"),
      // integer interval arithmetic over the naive window prefix sum (the
      // oracle runs single-node; the ENGINE side is the two-pass shape)
      oracleSql = """
      WITH t AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS w
        FROM documents),
      c AS (SELECT doc_id, w,
              coalesce(sum(w) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS "offset"
            FROM t),
      tot AS (SELECT sum(w)::BIGINT AS total FROM t),
      sel AS (SELECT doc_id, w, "offset",
                (("offset" * 100 + total - 1) // total)::BIGINT AS lo_j,
                ((("offset" + w) * 100 - 1) // total)::BIGINT AS hi_j
              FROM c CROSS JOIN tot WHERE w > 0 AND total > 0)
      SELECT doc_id, w AS weight, "offset", (hi_j - lo_j + 1)::BIGINT AS n_slots
      FROM sel WHERE hi_j >= lo_j ORDER BY doc_id"""),
    /** Soft quality filter: keep probability proportional to the quality
      * score (rate_ppm = quality × 1200, clamping at 1e6 — top-quality docs
      * are near-certain keeps, low-quality ones mostly drop). */
    GateQuery("curation_weighted", family,
      build = (s, dir) => {
        val rate = TF.qualityScore(col("text")).cast("long") * 1200L
        graft.operators.Sampling.weightedSample(
            t(s, dir, "documents"), "doc_id", rate)
          .select(col("doc_id"),
                  TF.qualityScore(col("text")).cast("long").as("quality"),
                  least(rate, lit(1000000L)).as("rate_ppm"))
          .orderBy("doc_id")
      },
      // weighted sampling: the per-row ppm threshold is the quality score
      // (integer arithmetic, shared with text_quality) scaled and clamped —
      // the keep decision replays on the XXH64 bucket replica
      oracleSql = {
        val b0 = OracleXX.xxh64LongPmod("doc_id", 1000000L)
        s"""
      WITH c AS (
        SELECT doc_id, len($sqlToks)::BIGINT AS n_tokens,
               CASE WHEN length(text) > 0 THEN
                 floor(len(regexp_extract_all(text, '[.,;:!?]')) * 1000.0 / length(text))::BIGINT
               ELSE 0 END AS punct_pm,
               ${langScoreSql("en")} AS stop_hits
        FROM documents),
      q AS (SELECT doc_id,
              (least(n_tokens, 200) * 2 +
               CASE WHEN punct_pm <= 80 THEN 300 ELSE 100 END +
               least(stop_hits * 30, 300))::BIGINT AS quality
            FROM c)
      SELECT d.doc_id, q.quality,
             least(q.quality * 1200, 1000000)::BIGINT AS rate_ppm
      FROM documents d JOIN q USING (doc_id)
      WHERE $b0 < least(q.quality * 1200, 1000000)
      ORDER BY d.doc_id"""
      }),
    /** Crawl-over-crawl snapshot diff: old = a deterministic ~80% of the
      * corpus, new = a different ~80%, with ~30% of docs (by a third
      * independent bucket) carrying mutated text on the new side — all four
      * statuses fire. */
    GateQuery("curation_snapshot_diff", family,
      build = (s, dir) => {
        import graft.operators.Sampling
        val docs = t(s, dir, "documents")
        val oldSnap = docs.where(Sampling.bucket(col("doc_id"), 3L) < 800000L)
        val newSnap = docs.where(Sampling.bucket(col("doc_id"), 5L) < 800000L)
          .withColumn("text",
            when(Sampling.bucket(col("doc_id"), 9L) < 300000L,
                 concat(col("text"), lit(" updated"))).otherwise(col("text")))
        Dedup.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
          .orderBy("doc_id")
      },
      // snapshot diff: both sides' membership and the mutation replay on
      // seeded XXH64 bucket replicas; fingerprints are md5 of the exact
      // (coalesced) text on both engines
      oracleSql = {
        def seeded(seed: Long) = OracleXX.xxh64LongPmod("doc_id", 1000000L,
          seed = java.lang.Long.toUnsignedString(
            org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(seed, 42L)))
        val (b3, b5, b9) = (seeded(3L), seeded(5L), seeded(9L))
        s"""
      WITH o AS (SELECT doc_id, md5(coalesce(text, '')) AS old_fp
                 FROM documents WHERE $b3 < 800000),
      n AS (SELECT doc_id,
              md5(coalesce(CASE WHEN $b9 < 300000 THEN text || ' updated'
                                ELSE text END, '')) AS new_fp
            FROM documents WHERE $b5 < 800000)
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN o.old_fp = n.new_fp THEN 'unchanged'
                  ELSE 'changed' END AS status,
             o.old_fp AS old_fp, n.new_fp AS new_fp
      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
      ORDER BY doc_id"""
      }),
    GateQuery("curation_mixture", family,
      build = (s, dir) =>
        graft.operators.Sampling.temperatureMixture(t(s, dir, "documents"),
            "source", "doc_id", targetRows = 250L, alpha = 0.5)
          .select("doc_id", "source", "group_rows", "rate_ppm")
          .orderBy("doc_id"),
      // exact-rounded (sqrt, left-assoc mul/div chain, sequential list sum),
      // so the engine's Scala arithmetic and this SQL agree bit-for-bit
      oracleSql = {
        val b0 = OracleXX.xxh64LongPmod("doc_id", 1000000L)
        s"""
      WITH cnt AS (SELECT source, count(*)::BIGINT AS c
                   FROM documents GROUP BY source),
      tot AS (SELECT list_aggregate(list(sqrt(c::DOUBLE) ORDER BY source),
                                    'sum') AS sw FROM cnt),
      rates AS (SELECT source, c AS group_rows,
                  least(1000000, floor(250::DOUBLE * sqrt(c::DOUBLE)
                    / (SELECT sw FROM tot) / c::DOUBLE * 1000000.0)::BIGINT)
                    AS rate_ppm
                FROM cnt)
      SELECT d.doc_id, d.source, r.group_rows, r.rate_ppm
      FROM documents d JOIN rates r USING (source)
      WHERE $b0 < r.rate_ppm
      ORDER BY d.doc_id"""
      }),
    /** Token-budget training schedule: 100k-token budget split across sources
      * by sqrt-temperature weights, with per-source repeat factors capped at
      * 4 epochs — the inventory→schedule step that precedes mixture sampling. */
    GateQuery("curation_epoch_plan", family,
      build = (s, dir) =>
        graft.operators.Sampling.epochPlan(t(s, dir, "documents"), "source",
            size(TF.tokens(col("text"))).cast("long"),
            budgetTokens = 100000L, alpha = 0.5, maxEpochsMilli = 4000L)
          .orderBy("source"),
      // the planner's float steps mirror temperatureMixture's determinism
      // contract (sqrt + left-assoc div chain + name-ordered sequential sum);
      // the epoch/planned columns are pure integer arithmetic on both engines
      oracleSql = s"""
      WITH toks AS (SELECT source, len($sqlToks)::BIGINT AS tk FROM documents),
      cnt AS (SELECT source, count(*)::BIGINT AS n_docs,
                     sum(tk)::BIGINT AS avail
              FROM toks GROUP BY source),
      tot AS (SELECT list_aggregate(list(sqrt(avail::DOUBLE) ORDER BY source),
                                    'sum') AS sw FROM cnt),
      base AS (SELECT source, n_docs, avail,
                 floor(sqrt(avail::DOUBLE) / (SELECT sw FROM tot)
                       * 1000000.0)::BIGINT AS weight_ppm,
                 floor(100000::DOUBLE * sqrt(avail::DOUBLE)
                       / (SELECT sw FROM tot))::BIGINT AS target
               FROM cnt),
      ep AS (SELECT *, least(4000, (1000 * target) // avail)::BIGINT
                         AS epochs_milli FROM base)
      SELECT source, n_docs, avail AS avail_tokens, weight_ppm,
             target AS target_tokens, epochs_milli,
             ((avail * epochs_milli) // 1000)::BIGINT AS planned_tokens
      FROM ep ORDER BY source"""),
    /** Reproducible global shuffle for training order: hash order + the
      * contiguous shard slices of that order (range-partitioned plan). */
    GateQuery("curation_order", family,
      build = (s, dir) =>
        graft.operators.Sampling.deterministicOrder(
            t(s, dir, "documents").select("doc_id", "source"),
            "doc_id", nShards = 64)
          .select("doc_id", "source", "ord", "shard")
          .orderBy("ord"),
      // temperature mixture: rate_ppm = floor(T*sqrt(c)/S/c*1e6) with the
      // weight sum S folded in domain-name order — every double op is IEEE
      // raw signed xxhash64 order + explicit floor-div shard (both engines'
      // native integer division truncates toward zero, so the correction
      // term is spelled out identically on both sides)
      oracleSql = {
        val h = OracleXX.xxh64LongSigned("doc_id")
        s"""
      WITH h AS (SELECT doc_id, source, ($h) AS ord FROM documents)
      SELECT doc_id, source, ord,
             (ord // 288230376151711744 -
              (CASE WHEN ord % 288230376151711744 < 0 THEN 1 ELSE 0 END)
              + 32)::BIGINT AS shard
      FROM h ORDER BY ord"""
      }),
    GateQuery("curation_interleave", family,
      build = (s, dir) =>
        Sampling.interleaveBySource(
            t(s, dir, "documents").select("doc_id", "source"), "doc_id", "source")
          .select("doc_id", "source", "rank_in_source", "pos")
          .orderBy("pos"),
      // per-source rank window + the closed-form round-robin position
      // (Σ min(c_s', r-1) + tie count) — see Sampling.interleaveBySource
      oracleSql = {
        val h = OracleXX.xxh64LongSigned("doc_id")
        s"""
      WITH h AS (SELECT doc_id, source, ($h) AS ord FROM documents),
      r AS (SELECT doc_id, source,
              row_number() OVER (PARTITION BY source
                                 ORDER BY ord, doc_id)::BIGINT AS rank_in_source
            FROM h),
      c AS MATERIALIZED (SELECT source, count(*)::BIGINT AS c
                         FROM documents GROUP BY 1)
      SELECT r.doc_id, r.source, r.rank_in_source,
             (1 + (SELECT sum(least(c.c, r.rank_in_source - 1)) FROM c)
                + (SELECT count(*) FROM c
                   WHERE c.source < r.source
                     AND c.c >= r.rank_in_source))::BIGINT AS pos
      FROM r ORDER BY pos"""
      }),
    /** Diversity cap: at most 10 documents per source, preferring the longest
      * (n_chars desc) with doc_id as the total-order tie-break. The
      * `row_number <= k` predicate plans as a partial WindowGroupLimit below
      * the exchange (PlanSpec-pinned) — the map-side prune that keeps a hot
      * domain from funneling its full row set through the shuffle. */
    GateQuery("curation_source_cap", family,
      build = (s, dir) =>
        graft.operators.Sampling.capPerGroup(t(s, dir, "documents"),
            "source", maxPerGroup = 10,
            order = Seq(col("n_chars").desc, col("doc_id").asc))
          .select("doc_id", "source", "n_chars", "group_rank")
          .orderBy("doc_id"),
      oracleSql = """
      SELECT doc_id, source, n_chars, group_rank FROM (
        SELECT doc_id, source, n_chars,
               (row_number() OVER (PARTITION BY source
                  ORDER BY n_chars DESC, doc_id ASC))::BIGINT AS group_rank
        FROM documents)
      WHERE group_rank <= 10 ORDER BY doc_id"""),
    /** Quality-first token-budget cut: the best-scoring documents admitted
      * until the 12k-token training budget is spent — global rank-ordered
      * prefix sum with no single-task window (the order is encoded into the
      * range-partition key). */
    GateQuery("curation_token_budget", family,
      build = (s, dir) =>
        TextAnalysis.tokenBudgetCut(t(s, dir, "documents"), "doc_id",
            TF.qualityScore(col("text")), TF.bpeishTokenCount(col("text")),
            budget = 12000L)
          .orderBy("doc_id"),
      // global (quality DESC, doc_id) running token sum replayed as one
      // ordered window; same admission rule offset < budget, straddling
      // document included
      oracleSql = s"""
      WITH $qualityKeptCtes,
      tk AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_tokens
        FROM documents),
      o AS (
        SELECT s.doc_id, s.quality::BIGINT AS quality, t.n_tokens,
               coalesce(sum(t.n_tokens) OVER (ORDER BY s.quality DESC, s.doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS "offset"
        FROM scored s JOIN tk t USING (doc_id))
      SELECT doc_id, quality, n_tokens, "offset" FROM o
      WHERE "offset" < 12000 ORDER BY doc_id"""),
    /** The end-to-end curation pipeline a training-data run actually
      * executes, as ONE composed query: Gopher quality/repetition filter →
      * normalized exact dedup (min-id survivor) → per-source diversity cap.
      * Every stage is individually gate-verified; this row verifies the
      * COMPOSITION (stage ordering, column threading, survivor semantics)
      * bit-exactly against the same stages stacked in SQL. */
    GateQuery("curation_pipeline", family,
      build = (s, dir) =>
        TextAnalysis.curationPipeline(t(s, dir, "documents"), "doc_id", "text",
            groupCol = "source", sizeCol = "n_chars",
            minScore = 450L, langs = Seq("en", "fr"),
            maxDupPpm = 120000L, maxTopPpm = 60000L, maxPerGroup = 25)
          .select("doc_id", "lang", "source", "n_copies", "group_rank")
          .orderBy("doc_id"),
      // the composed pipeline: Gopher survivors → normalized-text dedup
      // (min-id survivor, grouped on the normalized STRING where the engine
      // groups on md5 of it — identical partitioning absent a collision) →
      // per-source cap ranked (n_chars DESC, doc_id ASC) over survivors
      oracleSql = s"""
      WITH $gopherKeptCtes,
      gdocs AS MATERIALIZED (
        SELECT d.doc_id, g.lang, g.source, d.n_chars, d.text
        FROM documents d JOIN gkept g USING (doc_id)),
      nsurv AS (
        SELECT min(doc_id) AS doc_id, count(*)::BIGINT AS n_copies
        FROM gdocs
        GROUP BY trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))),
      capped AS (
        SELECT g.doc_id, g.lang, g.source, s.n_copies,
               (row_number() OVER (PARTITION BY g.source
                  ORDER BY g.n_chars DESC, g.doc_id ASC))::BIGINT AS group_rank
        FROM gdocs g JOIN nsurv s USING (doc_id))
      SELECT doc_id, lang, source, n_copies, group_rank
      FROM capped WHERE group_rank <= 25 ORDER BY doc_id"""),
    /** Per-source stage accounting of the same pipeline (raw → quality →
      * dedup → cap) — the corpus data-card table. */
    GateQuery("curation_report", family,
      build = (s, dir) =>
        TextAnalysis.curationReport(t(s, dir, "documents"), "doc_id", "text",
            groupCol = "source", sizeCol = "n_chars",
            minScore = 450L, langs = Seq("en", "fr"),
            maxDupPpm = 120000L, maxTopPpm = 60000L, maxPerGroup = 25)
          .orderBy("source", "stage"),
      // the same stages re-aggregated as per-source counts (the data-card
      // table); a source with zero survivors drops out of a stage in both
      // engines identically (GROUP BY emits no row)
      oracleSql = s"""
      WITH $gopherKeptCtes,
      gdocs AS MATERIALIZED (
        SELECT d.doc_id, g.source, d.n_chars, d.text
        FROM documents d JOIN gkept g USING (doc_id)),
      nsurv AS (
        SELECT min(doc_id) AS doc_id
        FROM gdocs
        GROUP BY trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))),
      dd AS (SELECT g.* FROM gdocs g JOIN nsurv USING (doc_id)),
      capped AS (
        SELECT source,
               row_number() OVER (PARTITION BY source
                 ORDER BY n_chars DESC, doc_id ASC) AS group_rank
        FROM dd),
      stages AS (
        SELECT source, 1 AS stage, 'raw' AS stage_name, count(*)::BIGINT AS docs
        FROM documents GROUP BY source
        UNION ALL SELECT source, 2, 'quality', count(*)::BIGINT
        FROM gdocs GROUP BY source
        UNION ALL SELECT source, 3, 'dedup', count(*)::BIGINT
        FROM dd GROUP BY source
        UNION ALL SELECT source, 4, 'cap', count(*)::BIGINT
        FROM capped WHERE group_rank <= 25 GROUP BY source)
      SELECT source, stage, stage_name, docs,
             docs::DOUBLE / (max(CASE WHEN stage = 1 THEN docs END)
               OVER (PARTITION BY source))::DOUBLE AS retained_frac
      FROM stages ORDER BY source, stage"""),
    /** Embedding-stratified diversity sampling — the operator COMPOSITION a
      * curation pipeline actually runs: cluster the corpus with the
      * full-corpus k-means, then keep the `cap` most-central documents per
      * cluster (`capPerGroup` with (dist asc, id asc) preference). Balances
      * the embedding space instead of the metadata (domain) space; the whole
      * two-operator pipeline stays bit-exact, so the oracle replays it
      * end-to-end. */
    GateQuery("curation_embed_balance", family,
      build = (s, dir) => {
        val assigned = Similarity.kmeansAssign(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 8, iters = 3, dim = 64)
        graft.operators.Sampling.capPerGroup(assigned, "cluster", maxPerGroup = 40,
            order = Seq(col("dist").asc, col("vec_id").asc))
          .select("vec_id", "cluster", "dist", "group_rank")
          .orderBy("vec_id")
      },
      // composition: the kmeans chain + the per-group cap replayed on top
      oracleSql = s"""${kmeansCtes(k = 8, iters = 3)}
      SELECT vec_id, cluster, dist, group_rank FROM (
        SELECT vec_id, cl AS cluster, dist,
               (row_number() OVER (PARTITION BY cl
                  ORDER BY dist ASC, vec_id ASC))::BIGINT AS group_rank
        FROM fin)
      WHERE group_rank <= 40 ORDER BY vec_id"""),
    GateQuery("curation_shards", family,
      build = (s, dir) =>
        TextAnalysis.packShards(t(s, dir, "documents"), "doc_id",
            octet_length(col("text")).cast("long"), shardBytes = 65536L)
          .orderBy("doc_id"),
      oracleSql = """
      WITH sz AS (SELECT doc_id, strlen(text)::BIGINT AS n_bytes FROM documents),
      o AS (
        SELECT doc_id, n_bytes,
               coalesce(sum(n_bytes) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS "offset"
        FROM sz)
      SELECT doc_id, n_bytes, "offset", "offset" // 65536 AS shard_id
      FROM o ORDER BY doc_id""")
  )
}
