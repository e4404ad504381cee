package graft.gates

import graft.OracleXX
import graft.functions.{TextFunctions => TF}
import graft.operators.Similarity

/** DuckDB SQL fragments and oracles shared by more than one gate family. */
object OracleCtes {

  /** DuckDB replica of the bottom-k quantile sketch gate — see the
    * `text_length_sketch` gate for the determinism argument. */
  private[gates] def lengthSketchOracle(k: Int): String = {
    val h = OracleXX.mix64Signed("doc_id", seed = 0L)
    s"""
      WITH d AS MATERIALIZED (
        SELECT lang, length(text)::BIGINT AS v, $h AS hh FROM documents),
      r AS (SELECT lang, v,
                   row_number() OVER (PARTITION BY lang ORDER BY hh, v) AS rn
            FROM d),
      sq AS (SELECT lang, list_sort(list(v)) AS sv, count(*)::BIGINT AS m
             FROM r WHERE rn <= $k GROUP BY lang),
      eq AS (SELECT lang, list_sort(list(v)) AS ev, count(*)::BIGINT AS n
             FROM d GROUP BY lang)
      SELECT eq.lang, n AS n_docs, m AS sample_n,
             list_extract(sv, floor(0.5::DOUBLE  * (m - 1)::DOUBLE)::BIGINT + 1) AS p50_est,
             list_extract(sv, floor(0.9::DOUBLE  * (m - 1)::DOUBLE)::BIGINT + 1) AS p90_est,
             list_extract(sv, floor(0.99::DOUBLE * (m - 1)::DOUBLE)::BIGINT + 1) AS p99_est,
             list_extract(ev, floor(0.5::DOUBLE  * (n - 1)::DOUBLE)::BIGINT + 1) AS p50_exact,
             list_extract(ev, floor(0.9::DOUBLE  * (n - 1)::DOUBLE)::BIGINT + 1) AS p90_exact,
             list_extract(ev, floor(0.99::DOUBLE * (n - 1)::DOUBLE)::BIGINT + 1) AS p99_exact
      FROM sq JOIN eq USING (lang) ORDER BY lang"""
  }

  /** DuckDB replica of the `Similarity.kmeansAssign` pipeline: quantize →
    * k-smallest-ids init → `iters` × (argmin assignment with (dist,
    * cluster) tie-break; per-dim BIGINT sums with a floor-div centroid
    * update; empty clusters keep their centroid) → final assignment. All
    * integer — bit-exact. Returns the full `WITH …` chain ending in
    * `fin(vec_id, cl, dist)`; callers append their final SELECT (the
    * `sim_kmeans` dump and the `curation_embed_balance` cap both ride the
    * same chain). */
  private[gates] def kmeansCtes(k: Int, iters: Int): String = {
    val distExpr = "list_aggregate(list_transform(range(1, len(qv)+1), " +
      "j -> (qv[j]-cv[j])*(qv[j]-cv[j])), 'sum')::BIGINT"
    def assign(i: Int) = s"""a$i AS (
      SELECT vec_id, qv, cl, dist FROM (
        SELECT q.vec_id, q.qv, c.cl, $distExpr AS dist,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY $distExpr ASC, c.cl ASC) AS rn
        FROM q CROSS JOIN c${i - 1} c) WHERE rn = 1)"""
    // centroid update: floor-div via C-style % lifted to floor-mod — the
    // (s - fm) difference divides exactly, so // carries no rounding
    def update(i: Int) = s"""u$i AS (
      SELECT cl, pos, sum(v)::BIGINT AS s, count(*)::BIGINT AS n FROM (
        SELECT cl, unnest(list_transform(range(1, len(qv)+1),
          j -> {'pos': j, 'v': qv[j]}), recursive := true) FROM a$i)
      GROUP BY cl, pos),
      n$i AS (SELECT cl,
                list(((s - (((s % n) + n) % n)) // n)::BIGINT ORDER BY pos) AS cv
              FROM u$i GROUP BY cl),
      c$i AS (SELECT p.cl, coalesce(x.cv, p.cv) AS cv
              FROM c${i - 1} p LEFT JOIN n$i x USING (cl))"""
    val iterCtes = (1 to iters).map(i => s"${assign(i)},\n      ${update(i)}")
    s"""
      WITH q AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding, x -> floor(x::DOUBLE * 1024)::BIGINT) AS qv
        FROM embeddings),
      c0 AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::BIGINT AS cl,
                    qv AS cv
             FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT $k)),
      ${iterCtes.mkString(",\n      ")},
      fin AS (
        SELECT vec_id, cl, dist FROM (
          SELECT q.vec_id, c.cl, $distExpr AS dist,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY $distExpr ASC, c.cl ASC) AS rn
          FROM q CROSS JOIN c$iters c) WHERE rn = 1)"""
  }

  /** Shared oracle chain for the winnow family: DuckDB replica of
    * `TextAnalysis.winnowFingerprints` (positional 4-gram XXH64 hashes,
    * converted back to SIGNED before the min-comparisons, 8-window
    * rightmost-min selection as a brute-force window join). Ends in
    * `sel(doc_id, pos, hash)`; `text_winnow` dumps it, `dedup_winnow`
    * builds the overlap pairs on top. */
  private[gates] def winnowCtes(n: Int = 4, w: Int = 8): String = {
    val xx = OracleXX.xxh64Str("g", padLen = 48)
    s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      pg AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) - ${n - 2}), i ->
               {'pos': i - 1, 'g': array_to_string(list_slice(tk, i, i + ${n - 1}), ' ')}),
               recursive := true)
             FROM toks WHERE len(tk) >= $n),
      dh AS MATERIALIZED (SELECT g,
              (CASE WHEN hu >= 9223372036854775808::HUGEINT
                    THEN hu - 18446744073709551616::HUGEINT ELSE hu END)::BIGINT AS h
            FROM (SELECT g, $xx AS hu FROM (SELECT DISTINCT g FROM pg))),
      gr AS MATERIALIZED (SELECT doc_id, pos, h FROM pg JOIN dh USING (g)),
      kk AS (SELECT doc_id, count(*)::BIGINT AS k FROM gr GROUP BY doc_id),
      win AS (SELECT doc_id, least($w, k) AS ww,
                     unnest(range(0, k - least($w, k) + 1)) AS t FROM kk),
      cand AS (SELECT g.doc_id, w.t, g.pos, g.h,
                 row_number() OVER (PARTITION BY g.doc_id, w.t
                   ORDER BY g.h ASC, g.pos DESC) AS rn
               FROM win w JOIN gr g ON g.doc_id = w.doc_id
                    AND g.pos BETWEEN w.t AND w.t + w.ww - 1),
      sel AS MATERIALIZED (SELECT DISTINCT doc_id, pos::BIGINT AS pos, h AS hash
             FROM cand WHERE rn = 1)"""
  }

  /** Normalized-token expression shared by several oracles (DuckDB SQL
    * equivalent of TextFunctions.normText/tokens). */
  private[gates] val sqlToks =
    """string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ')"""

  /** CTE chain ending in `ok(id_a, id_b, jaccard, ...)` — brute-force exact
    * all-pairs n-gram Jaccard ≥ `threshold` over the inverted index, the
    * shared oracle for every exact-Jaccard row (`dedup_ngram`, the
    * prefix-filtered twin, the source-overlap rollup). DuckDB joins on the
    * shingle STRING where the engine joins on `xxhash64` of it — identical
    * pairing absent a 64-bit collision on the same corpus. */
  private[gates] def ngramJaccardCtes(threshold: Double): String = s"""
      toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
        FROM toks),
      posting AS (SELECT doc_id, len(hs) AS n, unnest(hs) AS h FROM sh),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter,
               any_value(a.n) AS na, any_value(b.n) AS nb
        FROM posting a JOIN posting b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      ok AS (
        SELECT id_a, id_b, inter::DOUBLE / (na + nb - inter) AS jaccard
        FROM pairs WHERE inter::DOUBLE / (na + nb - inter) >= $threshold)"""

  /** DuckDB replica of `TextFunctions.rollingHash` (Karp-Rabin over UTF-8
    * bytes, B=257, mod 2^61-1) on column `text` — shared by the
    * `text_rollhash` and `sql_functions` oracles. */
  private[gates] val rollhashExprSql = """
        list_reduce(
          list_prepend(0::HUGEINT,
            list_transform(range(0, octet_length(encode(text))),
              i -> (strpos('123456789ABCDEF', substr(hex(encode(text)), 2*i+1, 1)) * 16
                    + strpos('123456789ABCDEF', substr(hex(encode(text)), 2*i+2, 1)))::HUGEINT)),
          (h, b) -> (h * 257 + b) % 2305843009213693951::HUGEINT
        )::BIGINT"""

  /** Sequential-loop replica of the embedding ingest gates
    * (`dedup_embed_ingest` / `stream_embed_ingest`): bucket every vector
    * with the hyperplane replica, then per batch drop ids whose cosine to
    * an ACCEPTED bucket-mate or a smaller-id batch bucket-mate meets the
    * threshold — the [[OracleXX.hammingIngestOracle]] unrolling with the
    * LSH-bucket join swapped in for the fragment join. */
  private[gates] def embedIngestOracle(bounds: Seq[(Long, Long)],
                                threshold: Double): String = {
    val steps = bounds.zipWithIndex.map { case ((lo, hi), i0) =>
      val i = i0 + 1
      s"""drop$i AS (
        SELECT DISTINCT a.vec_id
        FROM cb a JOIN cb b ON a.bucket = b.bucket
        WHERE a.vec_id >= $lo AND a.vec_id < $hi
          AND (b.vec_id IN (SELECT vec_id FROM acc${i - 1})
               OR (b.vec_id >= $lo AND b.vec_id < $hi AND b.vec_id < a.vec_id))
          AND list_cosine_similarity(a.v, b.v) >= $threshold),
      acc$i AS MATERIALIZED (
        SELECT vec_id FROM acc${i - 1}
        UNION ALL
        SELECT vec_id FROM cb
        WHERE vec_id >= $lo AND vec_id < $hi
          AND vec_id NOT IN (SELECT vec_id FROM drop$i))"""
    }
    s"""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      cb AS MATERIALIZED (
        SELECT vec_id, label, v, ${hyperplaneBucketSql(8, 64)} AS bucket FROM e),
      acc0 AS (SELECT vec_id FROM embeddings WHERE FALSE),
      ${steps.mkString(",\n      ")}
      SELECT cb.vec_id, cb.label
      FROM cb JOIN acc${bounds.size} a ON a.vec_id = cb.vec_id
      ORDER BY cb.vec_id"""
  }

  /** DuckDB replica of `Similarity.lshTopK`: same deterministic hyperplanes
    * (literal-embedded), same sign-bit bucket formula (double arithmetic,
    * sequential sum — matching Spark's `aggregate` over the array), same
    * 1-bit multi-probe sequence, same candidate join + exact cosine rank. */
  /** SQL expr: sign-bit hyperplane bucket of DOUBLE[] column `v` — exact
    * replica of `Similarity.hyperplaneBucket` with the same deterministic
    * hyperplane constants embedded as literals. */
  private[gates] def hyperplaneBucketSql(bits: Int, dim: Int): String = {
    val hLit = Similarity.hyperplanes(bits, dim)
      .map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    // list_dot_product is bit-identical to the explicit sequential
    // lambda-sum (verified over every pair in the corpus) and indexes the
    // hyperplane literal once per PLANE instead of once per COMPONENT —
    // ~50x less literal re-evaluation, which dominated the driver-side
    // compare cost of every embedding oracle (round-9 diagnosis of the
    // empty CORRECTNESS_r08 record: a contention-slowed gate timing out)
    s"""list_aggregate(list_transform(range(0, $bits), i ->
                 CASE WHEN list_dot_product(v, ($hLit)[i + 1]) > 0
                      THEN (1::BIGINT << i) ELSE 0::BIGINT END), 'sum')"""
  }

  /** Shared CTE chain ending in `scored(qid, id, cosine)` — the DuckDB
    * replica of the fixed-centroid IVF probe (assignment, nProbe query
    * cells, candidate join, exact cosine). Consumed by the top-k oracle
    * (adds the rank window) and the range-search oracle (adds a plain
    * threshold filter — mirroring exactly the operators' shared/divergent
    * structure). */
  private[gates] def ivfReplicaCtes(cents: Array[Array[Float]], nProbe: Int,
                             dim: Int, queryPred: String = "vec_id < 5"): String = {
    val cLit = cents.map(_.map(f => s"$f::FLOAT").mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")
    val nc = cents.length
    // nearest-centroid probe list over the raw FLOAT[] embedding `f`; the
    // centroid literal is hoisted into a one-row MATERIALIZED CTE (`cc`) —
    // inlined per-access it made DuckDB rebuild the nested list for every
    // [i+1][j] element (measured: 215s → <1s for the identical result)
    def probeList(n: Int): String =
      s"""list_transform(list_slice(list_sort(list_transform(range(0, $nc), i ->
            {'d': list_aggregate(list_transform(range(1, ${dim + 1}),
                    j -> ((f[j] - cc[i + 1][j]) * (f[j] - cc[i + 1][j]))::DOUBLE),
                  'sum'),
             'i': i})), 1, $n), s -> s.i)"""
    s"""cents AS MATERIALIZED (SELECT $cLit AS cc),
      e AS (SELECT vec_id, embedding AS f, embedding::DOUBLE[] AS v FROM embeddings),
      cb AS (SELECT vec_id, v, list_extract(${probeList(1)}, 1) AS cluster
             FROM e CROSS JOIN cents),
      qp AS (
        SELECT vec_id AS qid, v AS qv, unnest(${probeList(nProbe)}) AS cluster
        FROM e CROSS JOIN cents WHERE $queryPred),
      cand AS (
        SELECT DISTINCT qp.qid, qp.qv, c.vec_id AS id, c.v AS v
        FROM qp JOIN cb c USING (cluster) WHERE c.vec_id <> qp.qid),
      scored AS (SELECT qid, id, list_cosine_similarity(v, qv) AS cosine FROM cand)"""
  }

  private[gates] def ivfReplicaOracle(cents: Array[Array[Float]], nProbe: Int,
                               k: Int, dim: Int = 64,
                               queryPred: String = "vec_id < 5"): String = s"""
      WITH ${ivfReplicaCtes(cents, nProbe, dim, queryPred)},
      ranked AS (
        SELECT qid, id, cosine,
               row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank
        FROM scored)
      SELECT qid, id, cosine, rank::INT AS rank FROM ranked
      WHERE rank <= $k ORDER BY qid, rank"""

  /** Shared CTE chain replicating `QualityLangKeep` (quality score +
    * language pick) ending in `kept(doc_id, lang, source)` — used by the
    * quality-filter oracle and composed with repetition caps by the Gopher
    * oracle. */
  private[gates] def qualityKeptCtes: String = s"""c AS (
        SELECT doc_id, lang, source,
               len($sqlToks)::BIGINT AS n_tokens,
               CASE WHEN length(text) > 0 THEN
                 floor(len(regexp_extract_all(text, '[.,;:!?]')) * 1000.0 / length(text))::BIGINT
               ELSE 0 END AS punct_pm,
               ${langScoreSql("en")} AS stop_hits,
               ${langScoreSql("de")} AS s_de, ${langScoreSql("en")} AS s_en,
               ${langScoreSql("es")} AS s_es, ${langScoreSql("fr")} AS s_fr,
               ${langScoreSql("zh")} AS s_zh
        FROM documents),
      scored AS (
        SELECT doc_id, lang, source,
               (least(n_tokens, 200) * 2 +
                CASE WHEN punct_pm <= 80 THEN 300 ELSE 100 END +
                least(stop_hits * 30, 300)) AS quality,
               CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                    WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
                    WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                    WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                    WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                    ELSE 'de' END AS lang_pred
        FROM c),
      kept AS (
        SELECT doc_id, lang, source FROM scored
        WHERE quality >= 450 AND lang_pred IN ('en', 'fr'))"""

  /** Shared chain for the Gopher-filter family: [[qualityKeptCtes]] plus
    * the 2-gram repetition caps (dup_ppm <= 120000, top_ppm <= 60000,
    * computed over the kept set only — per-doc signals, order-invariant),
    * ending in `gkept(doc_id, lang, source)` — the full Gopher survivor
    * set. `text_gopher_filter` dumps it; `curation_pipeline` stacks dedup
    * and the source cap on top. */
  private[gates] def gopherKeptCtes: String = s"""$qualityKeptCtes,
      ktoks AS MATERIALIZED (
        SELECT doc_id, $sqlToks AS tk FROM documents JOIN kept USING (doc_id)),
      ng AS (
        SELECT doc_id,
               list_transform(range(1, greatest(len(tk), 1)),
                 i -> array_to_string(list_slice(tk, i, i + 1), ' ')) AS gs
        FROM ktoks),
      occ AS (SELECT doc_id, unnest(gs) AS g FROM ng),
      gcnt AS (SELECT doc_id, g, count(*)::BIGINT AS cnt FROM occ GROUP BY 1, 2),
      ragg AS (
        SELECT doc_id, sum(cnt)::BIGINT AS total,
               coalesce(sum(cnt) FILTER (WHERE cnt > 1), 0)::BIGINT AS dup,
               max(cnt)::BIGINT AS top
        FROM gcnt GROUP BY 1),
      bad AS (
        SELECT doc_id FROM ragg
        WHERE dup * 1000000 // total > 120000 OR top * 1000000 // total > 60000),
      gkept AS (
        SELECT doc_id, lang, source FROM kept
        WHERE doc_id NOT IN (SELECT doc_id FROM bad))"""

  /** Funnel oracle (greedy first-touch, 7-day step window) — shared by the
    * batch funnel and its live streaming twin, which must land on the
    * identical summary. */
  /** Shared by `events_attribution` (batch window scan) and
    * `stream_attribution` (the live stateful fold): both must reproduce
    * this report bit-exactly. */
  private[gates] val attributionOracle: String = """
      WITH e AS (
        SELECT user_id, event_id, event_type, epoch_ms(ts) AS t,
               (value::DECIMAL(18,2) * 100)::BIGINT AS cents
        FROM events),
      w AS (
        SELECT event_type, cents,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN event_type END IGNORE NULLS)
                 OVER pre AS lt,
               first_value(CASE WHEN event_type IN ('click', 'view')
                                THEN event_type END IGNORE NULLS)
                 OVER pre AS ft
        FROM e
        WINDOW pre AS (PARTITION BY user_id ORDER BY t, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      c AS (SELECT * FROM w WHERE event_type = 'purchase' AND lt IS NOT NULL),
      bf AS (SELECT ft AS touch_type, count(*)::BIGINT AS n_first,
                    sum(cents)::BIGINT AS cents_first
             FROM c GROUP BY 1),
      bl AS (SELECT lt AS touch_type, count(*)::BIGINT AS n_last,
                    sum(cents)::BIGINT AS cents_last
             FROM c GROUP BY 1)
      SELECT coalesce(bf.touch_type, bl.touch_type) AS touch_type,
             coalesce(n_first, 0)::BIGINT AS n_first,
             coalesce(cents_first, 0)::BIGINT AS cents_first,
             coalesce(n_last, 0)::BIGINT AS n_last,
             coalesce(cents_last, 0)::BIGINT AS cents_last
      FROM bf FULL OUTER JOIN bl ON bf.touch_type = bl.touch_type
      ORDER BY touch_type"""

  private[gates] val funnelOracle: String = """
      WITH ev AS (SELECT user_id AS u, event_type AS et, epoch_ms(ts) AS t
                  FROM events),
      r1 AS (SELECT u, min(t) AS t FROM ev WHERE et = 'signup' GROUP BY u),
      r2 AS (SELECT ev.u, min(ev.t) AS t FROM ev JOIN r1 ON ev.u = r1.u
             WHERE ev.et = 'view' AND ev.t > r1.t
               AND ev.t <= r1.t + 604800000 GROUP BY ev.u),
      r3 AS (SELECT ev.u, min(ev.t) AS t FROM ev JOIN r2 ON ev.u = r2.u
             WHERE ev.et = 'click' AND ev.t > r2.t
               AND ev.t <= r2.t + 604800000 GROUP BY ev.u),
      r4 AS (SELECT ev.u, min(ev.t) AS t FROM ev JOIN r3 ON ev.u = r3.u
             WHERE ev.et = 'purchase' AND ev.t > r3.t
               AND ev.t <= r3.t + 604800000 GROUP BY ev.u),
      stages AS (
        SELECT 1 AS step, 'signup' AS step_name, count(*)::BIGINT AS users FROM r1
        UNION ALL SELECT 2, 'view', count(*)::BIGINT FROM r2
        UNION ALL SELECT 3, 'click', count(*)::BIGINT FROM r3
        UNION ALL SELECT 4, 'purchase', count(*)::BIGINT FROM r4)
      SELECT step, step_name, users,
             users::DOUBLE /
               (max(CASE WHEN step = 1 THEN users END) OVER ())::DOUBLE AS pct
      FROM stages WHERE users > 0 ORDER BY step"""

  /** Chained replica of `Dedup.dedupIngest`: per batch, candidates against
    * the ACCEPTED set so far (`acc{i-1}`) plus smaller-id same-batch docs,
    * jaccard-thresholded drops, survivors accumulated. The batch split
    * comes from [[ingestBounds]] — the same constants the gate query uses. */
  private[gates] def ingestOracle(bounds: Seq[(Long, Long)]): String = {
    val steps = bounds.zipWithIndex.map { case ((lo, hi), i0) =>
      val i = i0 + 1
      s"""pairs$i AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter,
               any_value(a.n) AS na, any_value(b.n) AS nb
        FROM posting a JOIN posting b ON a.h = b.h
        WHERE a.doc_id >= $lo AND a.doc_id < $hi
          AND (b.doc_id IN (SELECT doc_id FROM acc${i - 1})
               OR (b.doc_id >= $lo AND b.doc_id < $hi AND b.doc_id < a.doc_id))
        GROUP BY 1, 2),
      drop$i AS (
        SELECT DISTINCT id_a AS doc_id FROM pairs$i
        WHERE inter::DOUBLE / (na + nb - inter) >= 0.5),
      acc$i AS MATERIALIZED (
        SELECT doc_id FROM acc${i - 1}
        UNION ALL
        SELECT doc_id FROM documents
        WHERE doc_id >= $lo AND doc_id < $hi
          AND doc_id NOT IN (SELECT doc_id FROM drop$i))"""
    }
    s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
        FROM toks),
      posting AS MATERIALIZED (
        SELECT doc_id, len(hs) AS n, unnest(hs) AS h FROM sh),
      acc0 AS (SELECT doc_id FROM documents WHERE 1 = 0),
      ${steps.mkString(",\n      ")}
      SELECT d.doc_id, d.lang FROM documents d
      JOIN acc${bounds.size} a USING (doc_id)
      ORDER BY d.doc_id"""
  }

  /** Cohort-LTV triangle replica, shared by the batch operator and its
    * streaming twin (bit-exact batch/stream parity gate). */
  private[gates] lazy val cohortLtvOracleSql = """
      WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_type,
               (value::DECIMAL(18,2) * 100)::BIGINT AS cents
             FROM events),
      fs AS (SELECT user_id, min(ms // 604800000)::BIGINT AS cohort
             FROM e GROUP BY 1),
      sz AS (SELECT cohort, count(*)::BIGINT AS cohort_size
             FROM fs GROUP BY 1),
      b AS (SELECT user_id, (ms // 604800000)::BIGINT AS bucket, cents
            FROM e WHERE event_type = 'purchase'),
      ba AS (SELECT f.cohort, (b.bucket - f.cohort)::BIGINT AS age,
               count(DISTINCT b.user_id)::BIGINT AS n_buyers,
               sum(cents)::BIGINT AS revenue_cents
             FROM b JOIN fs f USING (user_id) GROUP BY 1, 2),
      c AS (SELECT cohort, age, n_buyers, revenue_cents,
              sum(revenue_cents) OVER (PARTITION BY cohort ORDER BY age
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              )::BIGINT AS cum_revenue_cents
            FROM ba)
      SELECT c.cohort, c.age, s.cohort_size, c.n_buyers, c.revenue_cents,
             c.cum_revenue_cents,
             (c.cum_revenue_cents // s.cohort_size)::BIGINT AS ltv_cents_per_user
      FROM c JOIN sz s USING (cohort) ORDER BY cohort, age"""

  /** Recursive replay of the two-sided integer CUSUM with restart-on-
    * alarm; `tExpr` is the per-group target expression (the self-
    * calibrating mean, or a fixed baseline for the streaming twin).
    * spr/snr are inlined per reference (SQL has no local bindings). */
  private[gates] def cusumOracleSql(tExpr: String): String = {
    val q = 1048576L
    val spr = s"greatest(0, s.sp + n.y * $q - t.t - t.t // 8)"
    val snr = s"greatest(0, s.sn + t.t - t.t // 8 - n.y * $q)"
    s"""
      WITH RECURSIVE ev AS (
        SELECT event_type, epoch_ms(ts) // 3600000 AS h FROM events),
      cnt AS (SELECT event_type, h, count(*)::BIGINT AS y
              FROM ev GROUP BY 1, 2),
      idx AS MATERIALIZED (SELECT event_type, h, y,
                row_number() OVER (PARTITION BY event_type ORDER BY h) AS i
              FROM cnt),
      tg AS MATERIALIZED (SELECT event_type, ($tExpr)::BIGINT AS t,
               count(*)::BIGINT AS n
             FROM idx GROUP BY 1),
      sm AS (
        SELECT event_type, 0::BIGINT AS i, 0::BIGINT AS sp, 0::BIGINT AS sn,
               0::BIGINT AS nup, 0::BIGINT AS ndn, (-1)::BIGINT AS fst,
               0::BIGINT AS msp, 0::BIGINT AS msn
        FROM tg
        UNION ALL
        SELECT s.event_type, n.i,
               (CASE WHEN $spr > t.t THEN 0 ELSE $spr END)::BIGINT AS sp,
               (CASE WHEN $snr > t.t THEN 0 ELSE $snr END)::BIGINT AS sn,
               (s.nup + CASE WHEN $spr > t.t THEN 1 ELSE 0 END)::BIGINT AS nup,
               (s.ndn + CASE WHEN $snr > t.t THEN 1 ELSE 0 END)::BIGINT AS ndn,
               (CASE WHEN s.fst = -1 AND ($spr > t.t OR $snr > t.t)
                     THEN n.h ELSE s.fst END)::BIGINT AS fst,
               greatest(s.msp, $spr)::BIGINT AS msp,
               greatest(s.msn, $snr)::BIGINT AS msn
        FROM sm s
        JOIN idx n ON n.event_type = s.event_type AND n.i = s.i + 1
        JOIN tg t ON t.event_type = s.event_type),
      fin AS (SELECT s.* FROM sm s JOIN tg t
                ON s.event_type = t.event_type AND s.i = t.n)
      SELECT f.event_type AS event_type, t.n AS n_buckets, t.t AS target_fp,
             f.nup AS n_up_alarms, f.ndn AS n_down_alarms,
             (CASE WHEN f.fst = -1 THEN NULL ELSE f.fst END)::BIGINT
               AS first_alarm_h,
             f.msp AS max_sp_fp, f.msn AS max_sn_fp
      FROM fin f JOIN tg t USING (event_type) ORDER BY event_type"""
  }

  private[gates] def langScoreSql(lang: String, toks: String = null): String = {
    val words = TF.Stopwords(lang).map(w => s"'$w'").mkString("[", ", ", "]")
    val tk = if (toks == null) sqlToks else toks
    s"len(list_intersect(list_distinct($tk), $words))::BIGINT"
  }

  /** The regex keep-filter + header-enrich chain over the events fixture:
    * `pipe_transform` runs it as a batch chain, `stream_pipeline_e2e` as a
    * live config-assembled pipeline. */
  private[gates] val transformOracle = """
      SELECT event_id, props AS body, 'graft' AS source
      FROM events WHERE regexp_matches(props, '"k": 8\d')
      ORDER BY event_id"""

  /** Mergeable-histogram quantile replica of `events_value_histogram` and
    * its live twin `stream_value_histogram`: same bin math, same cumulative
    * frame, same interpolation op order — see Analytics.histogramQuantiles. */
  private[gates] val valueHistogramOracle = """
      WITH v AS (SELECT event_type AS grp,
                        (value::DECIMAL(18,2) * 100)::BIGINT AS v FROM events),
      b AS (SELECT grp,
                   CASE WHEN v >= 0 THEN v // 1000
                        ELSE -((0 - v + 999) // 1000) END AS bin,
                   count(*)::BIGINT AS cnt
            FROM v GROUP BY 1, 2),
      c AS (SELECT grp, bin, cnt,
                   sum(cnt) OVER (PARTITION BY grp ORDER BY bin)::BIGINT AS cum,
                   sum(cnt) OVER (PARTITION BY grp)::BIGINT AS n
            FROM b),
      qq AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q)
      SELECT grp AS event_type, qq.q,
             (0 + bin * 1000)::DOUBLE +
               (qq.q * n - (cum - cnt)::DOUBLE) / cnt::DOUBLE * 1000 AS est,
             n
      FROM c, qq
      WHERE cum >= qq.q * n AND cum - cnt < qq.q * n
      ORDER BY event_type, q"""
}
