package graft.gates

import graft.util.CacheSalt.SaltedPersistOps
import graft.operators.Similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import GateSupport._
import OracleCtes._

/** Similarity and retrieval gates: exact/ANN top-k, IVF, LSH, PQ and
  * random-projection indexes, recall reports and embedding QA. */
object SimilarityGates {
  private val family = "similarity"

  val gates: Seq[GateQuery] = Seq(
    GateQuery("sim_topk", family,
      build = (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = queryVectors(emb)
        Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "qid", "qvec", k = 10)
          .orderBy("qid", "rank")
      },
      oracleSql = simTopkOracleSql),
    /** Hamming-space ANN over 1-bit sign codes (32× compression) with
      * exact-cosine rerank: the packed-code scan never reads float vectors;
      * the rerank probes the corpus with a broadcast candidate set. Same
      * query set as `sim_topk`. */
    GateQuery("sim_hamming_topk", family,
      build = (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = queryVectors(emb)
        Similarity.hammingTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
            dim = 64, k = 10, candK = 30)
          .orderBy("qid", "rank")
      },
      // sign-bit packing into 32-bit words (every word positive BIGINT),
      // per-word XOR + popcount Hamming, candK cut, exact-cosine rerank —
      // the approximate pipeline itself replayed, not a brute-force proxy
      oracleSql = hammingOracleSql),
    /** Nearest-class-mean probe over the labeled embedding table:
      * fixed-point per-label centroids, squared-L2 assignment (ties to the
      * smaller label), confusion-matrix rollup — the "do these embeddings
      * separate the labels" diagnostic. Pure integer pipeline, bit-exact
      * vs the SQL replay. */
    GateQuery("sim_centroid_classifier", family,
      build = (s, dir) =>
        Similarity.centroidClassifierConfusion(t(s, dir, "embeddings"),
            "vec_id", "embedding", "label")
          .orderBy("label", "pred"),
      // fixed-point centroids (sum // count truncates toward zero in both
      // engines), squared-L2 argmin via the dist*16+label encode, confusion
      // rollup — the integer pipeline replayed end to end
      oracleSql = """
      WITH e AS (SELECT vec_id, label::BIGINT AS lbl,
               list_transform(embedding::DOUBLE[],
                 x -> floor(x * 1048576)::BIGINT) AS xq
             FROM embeddings),
      comp AS (SELECT lbl, unnest(list_transform(range(1, len(xq) + 1),
                 i -> {'d': i, 'x': xq[i]}), recursive := true)
               FROM e),
      cent AS (SELECT lbl AS cand, d, (sum(x) // count(*))::BIGINT AS c
               FROM comp GROUP BY 1, 2),
      ca AS (SELECT cand, list(c ORDER BY d) AS cv FROM cent GROUP BY cand),
      sc AS (SELECT e.vec_id, e.lbl,
               (list_aggregate(list_transform(range(1, len(xq) + 1),
                  i -> (xq[i] - a.cv[i]) * (xq[i] - a.cv[i])),
                'sum')::BIGINT * 16 + a.cand)::BIGINT AS enc
             FROM e CROSS JOIN ca a),
      pr AS (SELECT vec_id, lbl, min(enc) AS me FROM sc GROUP BY 1, 2)
      SELECT lbl AS label, (me % 16)::BIGINT AS pred, count(*)::BIGINT AS n
      FROM pr GROUP BY 1, 2 ORDER BY label, pred"""),
    /** Top principal component of the embedding corpus — Gram-matrix pass
      * + fixed-point power iteration (see [[Similarity.pcaTopComponent]]):
      * the representation-drift / variance-concentration QA direction. */
    GateQuery("sim_pca_top", family,
      build = (s, dir) =>
        Similarity.pcaTopComponent(t(s, dir, "embeddings"), "embedding",
            dim = 64)
          .orderBy("d"),
      oracleSql = pcaOracle(dim = 64, scaleBits = 7, iters = 8,
                                 vScaleBits = 20)),
    GateQuery("sim_pca_residual", family,
      build = (s, dir) =>
        Similarity.pcaProjectionReport(t(s, dir, "embeddings"), "vec_id",
            "embedding", dim = 64)
          .orderBy("vec_id"),
      oracleSql = pcaProjOracle(dim = 64, scaleBits = 7, iters = 8,
                                          vScaleBits = 20)),
    /** Label-filtered exact top-k (pre-filter semantics): each query
      * searches only corpus vectors sharing its label — the filtered
      * vector-search contract, returning a full k within the filter group
      * instead of post-filtering a global top-k down to fewer. */
    GateQuery("sim_filtered_topk", family,
      build = (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = emb.where(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
            col("label").as("qlabel"))
        Similarity.filteredTopK(emb, "vec_id", "embedding", "label",
            q, "qid", "qvec", "qlabel", k = 10)
          .select(col("qid"), col("filter_value").cast("long").as("filter_value"),
            col("id"), col("cosine"), col("rank"))
          .orderBy("qid", "rank")
      },
      // pre-filter semantics: the label equality restricts the candidate
      // set BEFORE ranking, so every query gets a full k inside its group
      oracleSql = """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label::BIGINT AS l
                 FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv, l AS ql FROM e WHERE vec_id < 5),
      scored AS (
        SELECT qid, e.l AS filter_value, e.vec_id AS id,
               list_cosine_similarity(e.v, q.qv) AS cosine
        FROM e JOIN q ON e.l = q.ql WHERE e.vec_id <> q.qid),
      ranked AS (
        SELECT qid, filter_value, id, cosine,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cosine DESC, id ASC) AS rank
        FROM scored)
      SELECT qid, filter_value, id, cosine, rank::INT AS rank FROM ranked
      WHERE rank <= 10 ORDER BY qid, rank"""),
    /** Hard negatives against a deterministic label set (id ≡ qid mod 7):
      * the top non-positive cosines per query — NOT a rank range of the
      * plain top-k, so the anti-join path is genuinely exercised. */
    GateQuery("sim_hard_negatives", family,
      build = (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = queryVectors(emb)
        val pos = emb.select(col("vec_id").as("id"))
          .join(broadcast(q.select("qid")), pmod(col("id"), lit(7)) === col("qid"))
        Similarity.hardNegatives(emb, "vec_id", "embedding", q, "qid", "qvec",
            pos, k = 10)
          .orderBy("qid", "rank")
      },
      // hard negatives: same exact-cosine replica minus the label pairs
      oracleSql = """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
      scored AS (
        SELECT qid, e.vec_id AS id, list_cosine_similarity(e.v, q.qv) AS cosine
        FROM e CROSS JOIN q WHERE e.vec_id <> q.qid),
      neg AS (SELECT * FROM scored WHERE NOT (id % 7 = qid)),
      ranked AS (
        SELECT qid, id, cosine,
               row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank
        FROM neg)
      SELECT qid, id, cosine, rank::INT AS rank FROM ranked
      WHERE rank <= 10 ORDER BY qid, rank"""),
    GateQuery("sim_lsh_topk", family,
      build = (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = queryVectors(emb)
        Similarity.lshTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
            k = 10, bits = 8, probes = 2)
          .orderBy("qid", "rank")
      },
      // full replica of the LSH ANN operator: the deterministic hyperplanes
      // are embedded as literals, DuckDB recomputes bucket assignment,
      // multi-probe, the candidate join, and the exact-cosine re-rank —
      // oracle-checking the APPROXIMATE output itself, not a brute-force proxy
      oracleSql = lshReplicaOracle(bits = 8, probes = 2, k = 10)),
    GateQuery("sim_ivf_topk", family,
      build = (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = queryVectors(emb)
        Similarity.ivfTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
            k = 10, nCentroids = 16, nProbe = 4)
          .orderBy("qid", "rank")
      },
      // trained-k-means IVF, Lloyd iterations unrolled in SQL
      oracleSql = ivfTrainedOracle(nCentroids = 16, nProbe = 4, k = 10)),
    /** IVF with a FIXED deterministic coarse quantizer instead of trained
      * k-means — same pipeline (assign → probe → exact cosine re-rank), but
      * the centroid constants can be embedded in the DuckDB oracle, which
      * replicates the whole approximate operator cell-exactly. */
    GateQuery("sim_ivf_verified", family,
      build = (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = queryVectors(emb)
        Similarity.ivfTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
            k = 10, nCentroids = 16, nProbe = 4,
            centroidsOverride = Some(Similarity.fixedCentroids(16, 64)))
          .orderBy("qid", "rank")
      },
      oracleSql = ivfReplicaOracle(
        Similarity.fixedCentroids(16, 64), nProbe = 4, k = 10)),
    /** IVF retrieval against the PERSISTED bucketed cell index — the
      * steady-state query-serving shape, the similarity analog of
      * `dedup_incremental_indexed`: assignments are computed once per corpus
      * refresh ([[Similarity.buildIvfIndex]] → `bucketMaterialize` on the
      * cell id) and every batch probes the table with no assignment pass
      * over the corpus and no index-side exchange (PlanSpec pins the shape).
      * Fixed quantizer → same output and oracle as `sim_ivf_verified`. */
    GateQuery("sim_ivf_indexed", family,
      build = (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val tag = layoutTag(dir)
        val cents = Similarity.fixedCentroids(16, 64)
        val idx = graft.operators.Relational.bucketMaterialize(
          Similarity.buildIvfIndex(emb, "vec_id", "embedding", cents),
          s"graft_b_ivf_$tag", "cluster", 8, s"${graft.util.Scratch.base}/graft_bucketed_$tag/ivf")
        val q = queryVectors(emb)
        Similarity.ivfTopKIndexed(idx, q, "qid", "qvec", cents, k = 10, nProbe = 4)
          .orderBy("qid", "rank")
      },
      // the indexed path changes WHERE assignments come from (the persisted
      // bucketed table), not what they are — same replica oracle
      oracleSql = ivfReplicaOracle(
        Similarity.fixedCentroids(16, 64), nProbe = 4, k = 10)),
    /** ANN quality measurement as a first-class operator: recall@k of the
      * IVF retrieval against the brute-force ground truth, per query plus
      * the zero-overlap guard (a LEFT join from the query set keeps
      * recall-0 queries visible — the failure mode a report exists to
      * catch). Both paths share one corpus scan; the hit count is a slim
      * (qid, id) equi-join of two k-row-per-query relations. */
    GateQuery("sim_recall_report", family,
      build = (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = queryVectors(emb)
        val approx = Similarity.ivfTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
            k = 10, nCentroids = 16, nProbe = 4,
            centroidsOverride = Some(Similarity.fixedCentroids(16, 64)))
          .select("qid", "id")
        val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
            q, "qid", "qvec", k = 10)
          .select("qid", "id")
        val hits = approx.join(exact, Seq("qid", "id"))
          .groupBy("qid").agg(count(lit(1)).as("n_hit"))
        q.select("qid").join(hits, Seq("qid"), "left")
          .select(col("qid"),
                  coalesce(col("n_hit"), lit(0L)).as("n_hit"),
                  (coalesce(col("n_hit"), lit(0L)).cast("double") / 10.0)
                    .as("recall_at_10"))
          .orderBy("qid")
      },
      // recall@10 of the IVF replica against the brute-force replica — the
      // `e` CTE from the IVF chain is reused for the exact pass
      oracleSql = s"""
      WITH ${ivfReplicaCtes(Similarity.fixedCentroids(16, 64), nProbe = 4,
                              dim = 64)},
      ivfr AS (SELECT qid, id FROM (
          SELECT qid, id, row_number() OVER (PARTITION BY qid
                 ORDER BY cosine DESC, id ASC) AS rank FROM scored)
        WHERE rank <= 10),
      q2 AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
      bscored AS (
        SELECT q2.qid, e.vec_id AS id, list_cosine_similarity(e.v, q2.qv) AS cosine
        FROM e CROSS JOIN q2 WHERE e.vec_id <> q2.qid),
      br AS (SELECT qid, id FROM (
          SELECT qid, id, row_number() OVER (PARTITION BY qid
                 ORDER BY cosine DESC, id ASC) AS rank FROM bscored)
        WHERE rank <= 10),
      h AS (SELECT i.qid, count(*)::BIGINT AS n_hit
            FROM ivfr i JOIN br USING (qid, id) GROUP BY 1)
      SELECT q2.qid, coalesce(h.n_hit, 0)::BIGINT AS n_hit,
             coalesce(h.n_hit, 0)::DOUBLE / 10.0 AS recall_at_10
      FROM q2 LEFT JOIN h USING (qid) ORDER BY qid"""),
    /** Retriever comparison matrix: recall@10 of every ANN path (IVF, LSH,
      * PQ, RP, Matryoshka) against the one brute-force ground truth — the
      * report that picks a retriever for a corpus. The truth relation is
      * computed once and persisted; each method contributes one slim
      * (qid, id) equi-join + counts. */
    GateQuery("sim_recall_matrix", family,
      build = (s, dir) => {
        val methods = Seq(
          "hamming" -> "sim_hamming_topk",
          "ivf" -> "sim_ivf_verified", "lsh" -> "sim_lsh_topk",
          "matryoshka" -> "sim_matryoshka_topk", "pq" -> "sim_pq_topk",
          "rp" -> "sim_rp_topk")
        val brute = GateRegistry("sim_topk").build(s, dir).select("qid", "id").saltedPersist()
        val truthN = brute.agg(count(lit(1)).as("n_truth"))
        val rows = methods.map { case (label, qname) =>
          val got = GateRegistry(qname).build(s, dir).select("qid", "id")
          got.agg(count(lit(1)).as("n_returned"))
            .crossJoin(got.join(brute, Seq("qid", "id"))
              .agg(count(lit(1)).as("n_hit")))
            .crossJoin(truthN)
            .select(lit(label).as("method"), col("n_returned"), col("n_hit"),
              // NULL on an empty truth set, same rationale as `dedup_lsh_quality`
              when(col("n_truth") === 0, lit(null).cast("double"))
                .otherwise(col("n_hit").cast("double") /
                           col("n_truth").cast("double"))
                .as("recall"))
        }
        val out = rows.reduce(_ unionByName _).orderBy("method")
        val res = graft.util.Materialize.cut(out)
        brute.unpersist()
        res
      },
      oracleSql = {
        val reps = Seq(
          "hamming" -> hammingOracleSql,
          "ivf" -> ivfReplicaOracle(Similarity.fixedCentroids(16, 64),
            nProbe = 4, k = 10),
          "lsh" -> lshReplicaOracle(bits = 8, probes = 2, k = 10),
          "matryoshka" -> matryoshkaOracleSql,
          "pq" -> pqReplicaOracle(Similarity.fixedCodebooks(8, 16, 8),
            k = 10, refine = 50),
          "rp" -> rpReplicaOracle(Similarity.fixedProjection(16, 64),
            k = 10, refine = 50))
        val ctes = (("bt" -> simTopkOracleSql) +: reps.map { case (l, sql) =>
          s"g_$l" -> sql
        }).map { case (n, sql) =>
          s"$n AS MATERIALIZED (SELECT qid, id FROM ($sql) t)"
        }.mkString(",\n      ")
        val rows = reps.map { case (l, _) => s"""
        SELECT '$l' AS method,
               (SELECT count(*) FROM g_$l)::BIGINT AS n_returned,
               (SELECT count(*) FROM g_$l JOIN bt USING (qid, id))::BIGINT AS n_hit,
               CASE WHEN (SELECT count(*) FROM bt) = 0 THEN NULL
                    ELSE (SELECT count(*) FROM g_$l JOIN bt USING (qid, id))::DOUBLE
                         / (SELECT count(*) FROM bt)::DOUBLE
               END AS recall"""
        }.mkString("\n        UNION ALL")
        s"""
      WITH $ctes
      $rows
      ORDER BY method"""
      }),
    /** Reciprocal-rank fusion of the two fixed-constant retrievers (RP
      * sketch + IVF probe): incomparable score scales combined by integer
      * reciprocal rank, re-ranked per query. Both input rankings are
      * themselves oracle-verified operators. */
    GateQuery("sim_rrf_fusion", family,
      build = (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = queryVectors(emb)
        val rp = Similarity.rpTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
          k = 10, outDim = 16, refine = 50)
        val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
          k = 10, nCentroids = 16, nProbe = 4,
          centroidsOverride = Some(Similarity.fixedCentroids(16, 64)))
        Similarity.reciprocalRankFusion(Seq(rp, ivf), k = 10)
          .select(col("qid"), col("id"), col("rrf_score"), col("rank"))
          .orderBy("qid", "rank")
      },
      // both replica rankings nested whole (DuckDB allows WITH inside a CTE
      // body), fused by the identical integer reciprocal-rank arithmetic
      oracleSql = s"""
      WITH rpr AS (${rpReplicaOracle(
                        Similarity.fixedProjection(16, 64), k = 10, refine = 50)}),
      ivfr AS (${ivfReplicaOracle(
                     Similarity.fixedCentroids(16, 64), nProbe = 4, k = 10)}),
      u AS (
        SELECT qid, id, 1000000000 // (60 + rank) AS s FROM rpr
        UNION ALL
        SELECT qid, id, 1000000000 // (60 + rank) AS s FROM ivfr),
      f AS (SELECT qid, id, sum(s)::BIGINT AS rrf_score
            FROM u GROUP BY qid, id),
      r AS (SELECT qid, id, rrf_score,
              row_number() OVER (PARTITION BY qid
                ORDER BY rrf_score DESC, id ASC) AS rank
            FROM f)
      SELECT qid, id, rrf_score, rank::INT AS rank FROM r
      WHERE rank <= 10 ORDER BY qid, rank"""),
    /** MMR-diversified retrieval: 5 results per query that are relevant but
      * mutually non-redundant, greedily selected from the exact top-20 pool
      * — the "most relevant non-duplicate documents" shape. */
    GateQuery("sim_mmr_topk", family,
      build = (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = queryVectors(emb)
        Similarity.mmrTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
            poolK = 20, k = 5)
          .orderBy("qid", "rank")
      },
      // exact top-20 pool, pool-pairwise cosines, then 5 unrolled greedy MMR
      // steps: each picks argmax(0.7·rel − 0.3·max-sim-to-selected) with the
      // identical exact-rounded double ops and id tie-break
      oracleSql = {
        val iters = (2 to 5).map { i =>
          val selPrev = (1 until i).map(j => s"SELECT qid, id FROM s$j")
            .mkString(" UNION ALL ")
          s"""
      sel$i AS ($selPrev),
      ms$i AS (
        SELECT p.qid, p.id, p.rel, max(pr.sim) AS maxsim
        FROM pool p
        JOIN pr ON pr.qid = p.qid AND pr.id_a = p.id
        JOIN sel$i sl ON sl.qid = pr.qid AND sl.id = pr.id_b
        WHERE NOT EXISTS (SELECT 1 FROM sel$i x
                          WHERE x.qid = p.qid AND x.id = p.id)
        GROUP BY p.qid, p.id, p.rel),
      s$i AS (
        SELECT qid, id, $i AS rank, score FROM (
          SELECT qid, id, score,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY score DESC, id ASC) AS rnk
          FROM (SELECT qid, id,
                       0.7::DOUBLE * rel - 0.3::DOUBLE * maxsim AS score
                FROM ms$i)) WHERE rnk = 1)"""
        }.mkString(",")
        s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
      sc AS (SELECT qid, c.vec_id AS id, list_cosine_similarity(c.v, qv) AS rel
             FROM e c CROSS JOIN q WHERE c.vec_id <> qid),
      pool AS MATERIALIZED (
        SELECT qid, id, rel FROM (
          SELECT qid, id, rel, row_number() OVER (PARTITION BY qid
            ORDER BY rel DESC, id ASC) AS rnk FROM sc)
        WHERE rnk <= 20),
      pv AS (SELECT p.qid, p.id, e.v FROM pool p JOIN e ON e.vec_id = p.id),
      pr AS MATERIALIZED (
        SELECT a.qid, a.id AS id_a, b.id AS id_b,
               list_cosine_similarity(a.v, b.v) AS sim
        FROM pv a JOIN pv b ON a.qid = b.qid AND a.id <> b.id),
      s1 AS (
        SELECT qid, id, 1 AS rank, rel AS score FROM (
          SELECT qid, id, rel, row_number() OVER (PARTITION BY qid
            ORDER BY rel DESC, id ASC) AS rnk FROM pool)
        WHERE rnk = 1),
      $iters
      SELECT qid, id, rank, score AS mmr_score
      FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
            UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
            UNION ALL SELECT * FROM s5)
      ORDER BY qid, rank"""
      }),
    /** End-to-end retrieval: IVF ANN top-k over the embedding corpus,
      * results joined back to the DOCUMENT table for the payload a serving
      * layer actually returns (rank, language, snippet). The join shape is
      * the 100 TB one: the candidate set (k rows per query) BROADCASTS onto
      * the document table, so document bodies never shuffle — retrieval
      * cost is the ANN stage plus one broadcast probe. */
    GateQuery("sim_retrieval_e2e", family,
      build = (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val docs = t(s, dir, "documents")
        val q = queryVectors(emb)
        val topk = Similarity.ivfTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
            k = 10, nCentroids = 16, nProbe = 4,
            centroidsOverride = Some(Similarity.fixedCentroids(16, 64)))
          .select(col("qid"), col("id"), col("cosine"), col("rank"))
        broadcast(topk).join(docs, topk("id") === docs("doc_id"))
          .select(col("qid"), col("rank"), col("doc_id"), col("lang"),
                  substring(col("text"), 1, 40).as("snippet"), col("cosine"))
          .orderBy("qid", "rank")
      },
      // every retriever replica nested as a subquery, each hoisted into a
      // MATERIALIZED CTE, hits counted against the one brute-force truth
      // ANN replica + document join: the serving-layer projection
      oracleSql = s"""
      WITH ${ivfReplicaCtes(Similarity.fixedCentroids(16, 64), nProbe = 4,
                              dim = 64)},
      ranked AS (
        SELECT qid, id, cosine,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cosine DESC, id ASC) AS rank
        FROM scored),
      tk AS (SELECT qid, id, cosine, rank FROM ranked WHERE rank <= 10)
      SELECT tk.qid, tk.rank::INT AS rank, d.doc_id, d.lang,
             substr(d.text, 1, 40) AS snippet, tk.cosine
      FROM tk JOIN documents d ON tk.id = d.doc_id
      ORDER BY qid, rank"""),
    /** PQ ANN with FIXED deterministic codebooks: encode → ADC top-refine →
      * exact cosine re-rank. Like `sim_ivf_verified`, the codebook constants
      * are embedded in the DuckDB oracle, which replays encoding, the
      * lookup-table scoring, the refine cut, and the re-rank cell-exactly —
      * the approximate pipeline itself is what's verified. */
    GateQuery("sim_pq_topk", family,
      build = (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = queryVectors(emb)
        Similarity.pqTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
            k = 10, m = 8, codesPerSub = 16, refine = 50)
          .orderBy("qid", "rank")
      },
      oracleSql = pqReplicaOracle(
        Similarity.fixedCodebooks(8, 16, 8), k = 10, refine = 50)),
    /** Random-projection ANN with the FIXED deterministic ±1 sign matrix:
      * integer-quantized JL projection → smallest projected L2 top-refine →
      * exact cosine re-rank. Like `sim_pq_topk`, the sign constants embed in
      * the DuckDB oracle, which replays the whole approximate pipeline
      * cell-exactly (the projection stage is all-BIGINT, so not even a
      * float-rounding hazard exists before the re-rank). */
    GateQuery("sim_rp_topk", family,
      build = (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = queryVectors(emb)
        Similarity.rpTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
            k = 10, outDim = 16, refine = 50)
          .orderBy("qid", "rank")
      },
      oracleSql = rpReplicaOracle(
        Similarity.fixedProjection(16, 64), k = 10, refine = 50)),
    /** Matryoshka truncated-prefix retrieval: candidates ranked on the first
      * 16 of 64 dims, exact full-dim rerank to top-10. candK=30 gives the
      * rerank real work to do (prefix order ≠ full order) while keeping the
      * oracle's window replica small. */
    GateQuery("sim_matryoshka_topk", family,
      build = (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = queryVectors(emb)
        Similarity.matryoshkaTopK(emb, "vec_id", "embedding", q, "qid", "qvec",
            prefixDims = 16, k = 10, candK = 30)
          .orderBy("qid", "rank")
      },
      oracleSql = matryoshkaOracleSql),
    /** Distributed Lloyd k-means over integer-quantized embeddings: the
      * oracle replays init, every assign/update iteration, and the final
      * assignment bit-exactly (all-BIGINT arithmetic — see
      * `Similarity.kmeansAssign`). */
    GateQuery("sim_kmeans", family,
      build = (s, dir) =>
        Similarity.kmeansAssign(t(s, dir, "embeddings"), "vec_id", "embedding",
            k = 8, iters = 3, dim = 64)
          .orderBy("vec_id"),
      oracleSql = s"""${kmeansCtes(k = 8, iters = 3)}
      SELECT vec_id, cl AS cluster, dist FROM fin ORDER BY vec_id"""),
    GateQuery("sim_embed_qa", family,
      build = (s, dir) =>
        Similarity.embeddingQa(t(s, dir, "embeddings"), "embedding", dim = 64,
            "label")
          .orderBy("label"),
      // the QA report's quantized-norm columns reuse the kmeans/pq
      // floor(x·2^10) contract, so min/max/sum are BIGINT-exact here too
      oracleSql = """
      WITH e AS (SELECT label, embedding AS v FROM embeddings),
      f AS (SELECT label,
              (v IS NULL) AS is_null,
              (v IS NOT NULL AND len(v) != 64) AS bad_dim,
              (v IS NOT NULL AND len(v) = 64 AND
               len(list_filter(v, x -> x IS NULL OR isnan(x) OR isinf(x))) > 0) AS nonfin,
              CASE WHEN v IS NOT NULL AND len(v) = 64 AND
                        len(list_filter(v, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
                   THEN len(list_filter(v, x -> x != 0)) = 0
                   ELSE FALSE END AS is_zero,
              CASE WHEN v IS NOT NULL AND len(v) = 64 AND
                        len(list_filter(v, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
                   THEN list_sum(list_transform(v, x ->
                          (floor(x::DOUBLE * 1024))::BIGINT *
                          (floor(x::DOUBLE * 1024))::BIGINT))::BIGINT
              END AS q2
            FROM e)
      SELECT label, count(*)::BIGINT AS n_vecs,
             sum(CASE WHEN is_null THEN 1 ELSE 0 END)::BIGINT AS n_null,
             sum(CASE WHEN bad_dim THEN 1 ELSE 0 END)::BIGINT AS n_bad_dim,
             sum(CASE WHEN nonfin THEN 1 ELSE 0 END)::BIGINT AS n_nonfinite,
             sum(CASE WHEN is_zero THEN 1 ELSE 0 END)::BIGINT AS n_zero,
             min(q2) AS q2_min, max(q2) AS q2_max, sum(q2)::BIGINT AS q2_sum
      FROM f GROUP BY 1 ORDER BY label"""),
    /** Epsilon-ball retrieval over the same fixed-centroid IVF index as
      * `sim_ivf_verified` — the oracle shares the probe CTEs and swaps the
      * rank window for the threshold filter, exactly like the operators do. */
    GateQuery("sim_ivf_range", family,
      build = (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q = queryVectors(emb)
        Similarity.ivfRangeSearch(emb, "vec_id", "embedding", q, "qid", "qvec",
            minCosine = 0.25, nCentroids = 16, nProbe = 4,
            centroidsOverride = Some(Similarity.fixedCentroids(16, 64)))
          .orderBy("qid", "id")
      },
      oracleSql = ivfRangeOracle(
        Similarity.fixedCentroids(16, 64), nProbe = 4, minCosine = 0.25)),
    /** All-nodes k-NN graph over the embedding corpus (fixed IVF centroids
      * so the oracle replays assignment + probing for EVERY node — the same
      * replica machinery as `sim_ivf_verified`, query set = the corpus). */
    GateQuery("sim_knn_graph", family,
      build = (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.knnGraph(emb, "vec_id", "embedding", k = 5,
            nCentroids = 16, nProbe = 4,
            centroidsOverride = Some(Similarity.fixedCentroids(16, 64)))
          .orderBy("src", "rank")
      },
      // all-nodes variant of the IVF replica: query predicate TRUE, so the
      // oracle replays assignment/probing/re-rank for every corpus vector
      oracleSql = s"""
      WITH ${ivfReplicaCtes(Similarity.fixedCentroids(16, 64), nProbe = 4,
                              dim = 64, queryPred = "TRUE")},
      ranked AS (
        SELECT qid AS src, id AS dst, cosine,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cosine DESC, id ASC) AS rank
        FROM scored)
      SELECT src, dst, cosine, rank::INT AS rank FROM ranked
      WHERE rank <= 5 ORDER BY src, rank"""),
    GateQuery("sim_int8_quant", family,
      build = (s, dir) =>
        Similarity.int8QuantReport(t(s, dir, "embeddings"), "vec_id", "embedding")
          .orderBy("vec_id"),
      // operation-for-operation replica of Int8QuantUtil.stats: max-abs
      // scale, floor (not round) codes clamped to +/-127, reconstruct,
      // sequential-sum dot products (list_dot_product === the JVM loop)
      oracleSql = """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id, v,
              list_aggregate(list_transform(v, x -> abs(x)), 'max') AS ma
            FROM e),
      rw AS (SELECT vec_id, v, ma,
              CASE WHEN ma = 0 THEN list_transform(v, x -> 0.0::DOUBLE)
                   ELSE list_transform(v, x -> floor(x * 127.0::DOUBLE / ma))
              END AS raw
             FROM q),
      c AS (SELECT vec_id, v, ma,
              list_transform(raw, r ->
                greatest(-127.0::DOUBLE, least(127.0::DOUBLE, r))::BIGINT) AS codes,
              len(list_filter(raw, r ->
                r > 127.0::DOUBLE OR r < -127.0::DOUBLE))::BIGINT AS n_clamped
            FROM rw),
      r AS (SELECT vec_id, v, ma, n_clamped,
              list_transform(codes, k -> k::DOUBLE * ma / 127.0::DOUBLE) AS rv
            FROM c),
      m AS (SELECT vec_id, ma AS max_abs, n_clamped,
              list_dot_product(v, rv) AS dot,
              list_dot_product(v, v) AS nv,
              list_dot_product(rv, rv) AS nr,
              list_aggregate(list_transform(range(1, len(v) + 1),
                i -> abs(v[i] - rv[i])), 'max') AS max_abs_err
            FROM r)
      SELECT vec_id, max_abs,
             CASE WHEN max_abs = 0 OR nr = 0 THEN NULL
                  ELSE dot / (sqrt(nv) * sqrt(nr)) END AS cos_recon,
             max_abs_err, n_clamped
      FROM m ORDER BY vec_id""")
  )

  /** DuckDB replica of `Similarity.pcaTopComponent`: quantized Gram +
    * mean (BIGINT-cast sums before every truncating division — DuckDB's
    * `//` on DECIMAL is NOT integer division), `iters` unrolled
    * matvec/max-normalize rounds, sign canonicalization, and the
    * `DIV 256` Rayleigh quotient. */
  private def pcaOracle(dim: Int, scaleBits: Int, iters: Int,
                        vScaleBits: Int): String = s"""
      WITH ${pcaCtes(dim, scaleBits, iters, vScaleBits)},
      wf AS (SELECT c.i, sum(c.c * v.v)::BIGINT AS w
             FROM cm c JOIN vf v ON v.i = c.j GROUP BY 1),
      ray AS (SELECT (CASE WHEN sum((v.v // 256) * (v.v // 256))::BIGINT = 0
                      THEN 0
                      ELSE sum((v.v // 256) * (w.w // 256))::BIGINT //
                           sum((v.v // 256) * (v.v // 256))::BIGINT
                      END)::BIGINT AS lambda_fp
              FROM vf v JOIN wf w ON v.i = w.i)
      SELECT (v.i - 1)::BIGINT AS d, v.v AS loading_fp,
             (SELECT lambda_fp FROM ray) AS lambda_fp
      FROM vf v ORDER BY d"""

  /** PCA-application replica: the shared power-iteration chain's final
    * vector applied per embedding row — same DIV-64/DIV-4096 rescale and
    * den=0 NULL guard as `Similarity.pcaProjectionReport`. */
  private def pcaProjOracle(dim: Int, scaleBits: Int, iters: Int,
                            vScaleBits: Int): String = {
    val q = 1L << scaleBits
    s"""
      WITH ${pcaCtes(dim, scaleBits, iters, vScaleBits)},
      vq AS (SELECT list(v // 256 ORDER BY i) AS vq,
                    sum((v // 256) * (v // 256))::BIGINT AS ev
             FROM vf),
      src AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
                x -> floor(x * $q)::BIGINT) AS xq
              FROM embeddings),
      pr AS (SELECT vec_id,
               list_aggregate(list_transform(range(1, len(xq) + 1),
                 i -> xq[i] * qq.vq[i]), 'sum')::BIGINT AS p,
               list_aggregate(list_transform(xq, x -> x * x),
                 'sum')::BIGINT AS ex,
               qq.ev AS ev
             FROM src CROSS JOIN vq qq),
      fin AS (SELECT vec_id, p, ex, ((ex * ev) // 4096)::BIGINT AS den
              FROM pr)
      SELECT vec_id, p, ex AS energy_q,
             (CASE WHEN den = 0 THEN NULL
              ELSE ((p // 64) * (p // 64) * 1000000) // den
              END)::BIGINT AS proj_frac_ppm
      FROM fin ORDER BY vec_id"""
  }

  /** Shared CTE chain of the PCA replicas, ending in `vf(i, v)` — the
    * sign-canonical fixed-point top component (1-based i). */
  private def pcaCtes(dim: Int, scaleBits: Int, iters: Int,
                      vScaleBits: Int): String = {
    val q = 1L << scaleBits
    val vs = 1L << vScaleBits
    val rounds = (1 to iters).map { k => s"""
      w$k AS (SELECT c.i, sum(c.c * v.v)::BIGINT AS w
              FROM cm c JOIN v${k - 1} v ON v.i = c.j GROUP BY 1),
      s$k AS (SELECT max(abs(w))::BIGINT AS s FROM w$k),
      v$k AS MATERIALIZED (
        SELECT t.i,
               (CASE WHEN (SELECT s FROM s$k) = 0
                     THEN (SELECT v FROM v${k - 1} pv WHERE pv.i = t.i)
                     ELSE t.w * $vs // (SELECT s FROM s$k)
                END)::BIGINT AS v
        FROM w$k t)"""
    }.mkString(",")
    s"""e AS (SELECT list_transform(embedding::DOUBLE[],
                   x -> floor(x * $q)::BIGINT) AS xq FROM embeddings),
      nn AS (SELECT count(*)::BIGINT AS n FROM e),
      px AS (SELECT xq, unnest(range(1, len(xq) + 1)) AS i FROM e),
      mu AS MATERIALIZED (
        SELECT i, (sum(xq[i])::BIGINT // (SELECT n FROM nn))::BIGINT AS mu
        FROM px GROUP BY 1),
      pxy AS (SELECT xq, i, unnest(range(1, len(xq) + 1)) AS j FROM px),
      gr AS (SELECT i, j, sum(xq[i] * xq[j])::BIGINT AS s
             FROM pxy GROUP BY 1, 2),
      cm AS MATERIALIZED (
        SELECT g.i, g.j,
               ((g.s // (SELECT n FROM nn)) - mi.mu * mj.mu)::BIGINT AS c
        FROM gr g JOIN mu mi ON mi.i = g.i JOIN mu mj ON mj.i = g.j),
      v0 AS (SELECT i, $vs::BIGINT AS v FROM mu),
      $rounds,
      sg AS (SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS sgn
             FROM v$iters ORDER BY abs(v) DESC, i ASC LIMIT 1),
      vf AS MATERIALIZED (
        SELECT i, (v * (SELECT sgn FROM sg))::BIGINT AS v FROM v$iters)"""
  }

  private def lshReplicaOracle(bits: Int, probes: Int, k: Int,
                               dim: Int = 64): String = {
    val nProbes = math.min(probes, bits)
    s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      cb AS (
        SELECT vec_id, v, ${hyperplaneBucketSql(bits, dim)} AS bucket
        FROM e),
      qp AS (
        SELECT vec_id AS qid, v AS qv,
               unnest(list_transform(range(0, ${nProbes + 1}), p ->
                 CASE WHEN p = 0 THEN bucket
                      ELSE xor(bucket, (1::BIGINT << (p - 1))) END)) AS bucket
        FROM cb WHERE vec_id < 5),
      cand AS (
        SELECT DISTINCT qp.qid, qp.qv, c.vec_id AS id, c.v AS v
        FROM qp JOIN cb c USING (bucket) WHERE c.vec_id <> qp.qid),
      scored AS (SELECT qid, id, list_cosine_similarity(v, qv) AS cosine FROM cand),
      ranked AS (
        SELECT qid, id, cosine,
               row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank
        FROM scored)
      SELECT qid, id, cosine, rank::INT AS rank FROM ranked
      WHERE rank <= $k ORDER BY qid, rank"""
  }

  /** DuckDB replica of `Similarity.ivfTopK` with fixed centroids: distance
    * mirrors `VectorKernels.l2Sq` float arithmetic exactly (FLOAT subtract
    * and multiply per term — DuckDB FLOAT ops round identically — summed as
    * DOUBLE), probe order ties break on centroid index like
    * `nearestCentroids`. */
  /** DuckDB replica of `Similarity.pqTopK` with literal codebooks: per-
    * subspace encoding uses the same FLOAT-subtract/multiply + DOUBLE-
    * accumulate arithmetic as the engine kernel; the ADC lookup tables are
    * DOUBLE dot products in list order (matching Spark's left-fold
    * `aggregate`); the refine cut and final re-rank break ties on id
    * exactly like the engine's windows. Codebooks are hoisted into one-row
    * MATERIALIZED CTEs (FLOAT for encoding, DOUBLE for the LUTs) — see
    * `semanticOracle` for why inlining them is catastrophic. */
  /** DuckDB replica of `Similarity.rpTopK` with the literal sign matrix:
    * quantize → project (all BIGINT — bit-exact) → projected-L2 refine cut
    * → exact cosine re-rank. */
  private def rpReplicaOracle(signs: Array[Array[Long]], k: Int,
                              refine: Int): String = {
    val outDim = signs.length
    val sl = signs.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    s"""
      WITH st AS MATERIALIZED (SELECT $sl AS sg),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                   list_transform(embedding, x -> floor(x::DOUBLE * 1024)::BIGINT) AS qv
            FROM embeddings),
      p AS MATERIALIZED (
        SELECT vec_id, v,
          list_transform(range(1, ${outDim + 1}), d ->
            list_aggregate(list_transform(range(1, len(qv) + 1), j ->
              sg[d][j] * qv[j]), 'sum')::BIGINT) AS pv
        FROM e CROSS JOIN st),
      qs AS (SELECT vec_id AS qid, v AS qvec, pv AS pq FROM p WHERE vec_id < 5),
      cand AS (
        SELECT qid, qvec, c.vec_id AS id, c.v AS cv,
               list_aggregate(list_transform(range(1, ${outDim + 1}), d ->
                 (c.pv[d] - pq[d]) * (c.pv[d] - pq[d])), 'sum')::BIGINT AS pdist
        FROM p c CROSS JOIN qs WHERE c.vec_id <> qid),
      topr AS (
        SELECT qid, qvec, id, cv,
               row_number() OVER (PARTITION BY qid ORDER BY pdist ASC, id ASC) AS arank
        FROM cand),
      scored AS (
        SELECT qid, id, list_cosine_similarity(cv, qvec) AS cosine
        FROM topr WHERE arank <= $refine),
      ranked AS (
        SELECT qid, id, cosine,
               row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank
        FROM scored)
      SELECT qid, id, cosine, rank::INT AS rank FROM ranked
      WHERE rank <= $k ORDER BY qid, rank"""
  }

  private def pqReplicaOracle(cbs: Array[Array[Array[Float]]], k: Int,
                              refine: Int, dim: Int = 64): String = {
    val m = cbs.length
    val nK = cbs(0).length
    val sub = dim / m
    def lit3(f: Float => String): String =
      cbs.map(_.map(_.map(f).mkString("[", ", ", "]")).mkString("[", ", ", "]"))
        .mkString("[", ", ", "]")
    val cbf = lit3(x => s"$x::FLOAT")
    val cbd = lit3(x => s"${x.toDouble}")
    s"""
      WITH cbft AS MATERIALIZED (SELECT $cbf AS cf),
      cbdt AS MATERIALIZED (SELECT $cbd AS cd),
      e AS (SELECT vec_id, embedding AS f, embedding::DOUBLE[] AS v FROM embeddings),
      codes AS MATERIALIZED (
        SELECT vec_id, v,
          list_transform(range(0, $m), mi ->
            list_extract(list_transform(list_slice(list_sort(
              list_transform(range(0, $nK), ki ->
                {'d': list_aggregate(list_transform(range(1, ${sub + 1}), j ->
                        ((f[mi * $sub + j] - cf[mi + 1][ki + 1][j]) *
                         (f[mi * $sub + j] - cf[mi + 1][ki + 1][j]))::DOUBLE),
                      'sum'),
                 'i': ki})), 1, 1), s -> s.i), 1)) AS codes
        FROM e CROSS JOIN cbft),
      qluts AS MATERIALIZED (
        SELECT vec_id AS qid, v AS qv,
          list_transform(range(0, $m), mi ->
            list_transform(range(0, $nK), ki ->
              list_aggregate(list_transform(range(1, ${sub + 1}), j ->
                v[mi * $sub + j] * cd[mi + 1][ki + 1][j]), 'sum'))) AS luts
        FROM e CROSS JOIN cbdt WHERE vec_id < 5),
      cand AS (
        SELECT qid, qv, c.vec_id AS id, c.v AS cv,
               list_aggregate(list_transform(range(0, $m), mi ->
                 luts[mi + 1][codes[mi + 1] + 1]), 'sum') AS approx
        FROM codes c CROSS JOIN qluts WHERE c.vec_id <> qid),
      topr AS (
        SELECT qid, qv, id, cv,
               row_number() OVER (PARTITION BY qid ORDER BY approx DESC, id ASC) AS arank
        FROM cand),
      scored AS (
        SELECT qid, id, list_cosine_similarity(cv, qv) AS cosine
        FROM topr WHERE arank <= $refine),
      ranked AS (
        SELECT qid, id, cosine,
               row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank
        FROM scored)
      SELECT qid, id, cosine, rank::INT AS rank FROM ranked
      WHERE rank <= $k ORDER BY qid, rank"""
  }

  private def ivfRangeOracle(cents: Array[Array[Float]], nProbe: Int,
                             minCosine: Double, dim: Int = 64): String = s"""
      WITH ${ivfReplicaCtes(cents, nProbe, dim)}
      SELECT qid, id, cosine FROM scored
      WHERE cosine >= $minCosine ORDER BY qid, id"""

  /** DuckDB replica of the FULL trained-IVF pipeline (`Similarity.ivfTopK`
    * with driver k-means): the 5 Lloyd iterations are unrolled as CTE
    * stages mirroring `trainCentroids` exactly — first-2048-by-id sample,
    * evenly-strided init, FLOAT subtract/multiply with DOUBLE accumulation
    * in sample order (sums are ordered-list reductions, not unordered SQL
    * aggregates, so the float means round identically), ties on centroid
    * index — then assignment/probing/re-ranking like the fixed-centroid
    * replica. */
  private def ivfTrainedOracle(nCentroids: Int = 16, nProbe: Int = 4,
                               k: Int = 10, iters: Int = 5,
                               sampleN: Int = 2048, dim: Int = 64): String = {
    def dist(f: String, ccI: String): String =
      s"""list_aggregate(list_transform(range(1, ${dim + 1}), j ->
            ((($f)[j] - ($ccI)[j]) * (($f)[j] - ($ccI)[j]))::DOUBLE), 'sum')"""
    def probeList(n: Int): String =
      s"""list_transform(list_slice(list_sort(list_transform(range(0, $nCentroids), i ->
            {'d': ${dist("f", "cc[i+1]")}, 'i': i})), 1, $n), s -> s.i)"""
    def lloydIter(t: Int): String = s"""
      a$t AS (SELECT sid, f, list_extract(${probeList(1)}, 1) AS c
              FROM smp CROSS JOIN c${t - 1}),
      g$t AS (SELECT c, count(*) AS n, list(f ORDER BY sid) AS fs FROM a$t GROUP BY c),
      c$t AS (SELECT list(newv ORDER BY i) AS cc FROM (
        SELECT t.i AS i,
               CASE WHEN g.c IS NULL THEN p.cc[t.i+1]
                    ELSE list_transform(range(1, ${dim + 1}), j ->
                      (list_aggregate(list_transform(g.fs, v -> v[j]::DOUBLE), 'sum') / g.n)::FLOAT) END AS newv
        FROM (SELECT unnest(range(0, $nCentroids)) AS i) t
        CROSS JOIN c${t - 1} p
        LEFT JOIN g$t g ON g.c = t.i))"""
    val iterCtes = (1 to iters).map(lloydIter).mkString(",")
    s"""
      WITH smp AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS sid, embedding AS f
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $sampleN)),
      c0 AS (SELECT list_transform(range(0, $nCentroids), i -> sl[(i*n)//$nCentroids + 1]) AS cc FROM
        (SELECT list(f ORDER BY sid) AS sl, count(*) AS n FROM smp)),
      $iterCtes,
      e AS (SELECT vec_id, embedding AS f, embedding::DOUBLE[] AS v FROM embeddings),
      cb AS MATERIALIZED (SELECT vec_id, v, list_extract(${probeList(1)}, 1) AS cluster
            FROM e CROSS JOIN c$iters),
      qp AS (SELECT vec_id AS qid, v AS qv, unnest(${probeList(nProbe)}) AS cluster
             FROM e CROSS JOIN c$iters WHERE vec_id < 5),
      cand AS (SELECT DISTINCT qp.qid, qp.qv, c.vec_id AS id, c.v AS v
               FROM qp JOIN cb c USING (cluster) WHERE c.vec_id <> qp.qid),
      scored AS (SELECT qid, id, list_cosine_similarity(v, qv) AS cosine FROM cand),
      ranked AS (SELECT qid, id, cosine,
                   row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank
                 FROM scored)
      SELECT qid, id, cosine, rank::INT AS rank FROM ranked
      WHERE rank <= $k ORDER BY qid, rank"""
  }

  /** Brute-force cosine top-k replica (the `sim_topk` oracle), shared with
    * the recall-matrix rollup. */
  private lazy val simTopkOracleSql = """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
      scored AS (
        SELECT qid, e.vec_id AS id, list_cosine_similarity(e.v, q.qv) AS cosine
        FROM e CROSS JOIN q WHERE e.vec_id <> q.qid),
      ranked AS (
        SELECT qid, id, cosine,
               row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank
        FROM scored)
      SELECT qid, id, cosine, rank::INT AS rank FROM ranked
      WHERE rank <= 10 ORDER BY qid, rank"""

  /** Hamming sign-code retrieval replica, shared with the recall matrix:
    * sign-bit packing into 32-bit words (every word a positive BIGINT),
    * per-word XOR + popcount distance, candK cut, exact-cosine rerank —
    * the approximate pipeline itself, not a brute-force proxy. */
  private lazy val hammingOracleSql = """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      cw AS (SELECT vec_id, v,
               list_transform(range(0, 2), w ->
                 list_aggregate(list_transform(range(1, 33), i ->
                   CASE WHEN v[w * 32 + i] > 0
                        THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END),
                 'sum')::BIGINT) AS code
             FROM e),
      q AS (SELECT vec_id AS qid, v AS qv, code AS qc
            FROM cw WHERE vec_id < 5),
      h AS (SELECT qid, c.vec_id AS id,
              (bit_count(xor(c.code[1], q.qc[1])) +
               bit_count(xor(c.code[2], q.qc[2])))::BIGINT AS hamming
            FROM cw c CROSS JOIN q WHERE c.vec_id <> q.qid),
      cand AS (SELECT qid, id, hamming,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY hamming ASC, id ASC) AS hrank
               FROM h),
      rer AS (SELECT c.qid, c.id,
                list_cosine_similarity(e.v, q.qv) AS cosine, c.hamming
              FROM cand c JOIN e ON e.vec_id = c.id JOIN q ON q.qid = c.qid
              WHERE c.hrank <= 30),
      ranked AS (SELECT qid, id, cosine, hamming,
                   row_number() OVER (PARTITION BY qid
                     ORDER BY cosine DESC, id ASC) AS rank
                 FROM rer)
      SELECT qid, id, cosine, hamming, rank::INT AS rank FROM ranked
      WHERE rank <= 10 ORDER BY qid, rank"""

  /** Matryoshka prefix-retrieval replica, shared with the recall matrix. */
  private lazy val matryoshkaOracleSql = """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
      pre AS (
        SELECT qid, e.vec_id AS id,
               list_cosine_similarity(e.v[1:16], q.qv[1:16]) AS prefix_cosine
        FROM e CROSS JOIN q WHERE e.vec_id <> q.qid),
      cand AS (
        SELECT qid, id, prefix_cosine,
               row_number() OVER (PARTITION BY qid ORDER BY prefix_cosine DESC, id ASC) AS prank
        FROM pre),
      rer AS (
        SELECT c.qid, c.id, list_cosine_similarity(e.v, q.qv) AS cosine,
               c.prefix_cosine
        FROM cand c JOIN e ON e.vec_id = c.id JOIN q ON q.qid = c.qid
        WHERE c.prank <= 30),
      ranked AS (
        SELECT qid, id, cosine, prefix_cosine,
               row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank
        FROM rer)
      SELECT qid, id, cosine, prefix_cosine, rank::INT AS rank FROM ranked
      WHERE rank <= 10 ORDER BY qid, rank"""

  /** The query set of the retrieval gates: vectors 0-4 of the corpus as
    * (qid, qvec). */
  private def queryVectors(emb: DataFrame): DataFrame =
    emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
}
