package graft.gates

import graft.OracleXX
import graft.operators.{Dedup, Graph}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import GateSupport._
import OracleCtes._

/** Graph gates over the near-duplicate document graph: PageRank,
  * triangles, components, k-core, label propagation, traversals. */
object GraphGates {
  private val family = "graph"

  val gates: Seq[GateQuery] = Seq(
    /** PageRank over the near-dup candidate graph (same MinHash-LSH pairs as
      * `dedup_minhash`): centrality ranks duplicate-hub documents — the
      * canonical-representative / boilerplate-template signal. Fixed-point
      * BIGINT arithmetic end-to-end (see `Graph.pageRank`), so the oracle
      * replays all 5 iterations bit-exactly on top of the banded-pairs CTEs. */
    GateQuery("graph_pagerank", family,
      build = (s, dir) =>
        Graph.pageRank(
            dupGraph(s, dir),
            "id_a", "id_b", iters = 5)
          .select(col("id").as("doc_id"), col("rank").as("rank_fp"), col("deg"))
          .orderBy("doc_id"),
      oracleSql = pagerankOracle(iters = 5)),
    /** Triangle census of the Jaccard near-dup graph (same edge relation as
      * `dedup_clusters`): nodes inside template cliques vs chain-linked
      * near-dups. */
    GateQuery("graph_triangles", family,
      build = (s, dir) =>
        Graph.triangleCounts(
            Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
                shingleN = 3, threshold = 0.5, maxDocFreq = Long.MaxValue)
              .select("id_a", "id_b"),
            "id_a", "id_b")
          .select(col("id").as("doc_id"), col("n_triangles"))
          .orderBy("doc_id"),
      // oriented x<y<z enumeration over the exact-Jaccard edge relation —
      // each triangle found once, then exploded to its three member nodes
      oracleSql = s"""
      WITH ${ngramJaccardCtes(0.5)},
      jp AS MATERIALIZED (SELECT id_a, id_b FROM ok)
      SELECT t.id AS doc_id, count(*)::BIGINT AS n_triangles FROM (
        SELECT unnest([e1.id_a, e1.id_b, e2.id_b]) AS id
        FROM jp e1 JOIN jp e2 ON e2.id_a = e1.id_b
             JOIN jp e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b) t
      GROUP BY 1 ORDER BY 1"""),
    /** Component-size histogram of the `dedup_clusters` labeling — the
      * dup-graph pathology report. */
    GateQuery("graph_cc_sizes", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          shingleN = 3, threshold = 0.5, maxDocFreq = Long.MaxValue)
        Graph.componentSizeHistogram(
            Dedup.connectedComponents(docs, pairs, "doc_id"), "cluster_id")
          .orderBy("cluster_size")
      },
      // the dedup_clusters labeling chain, collapsed to its size histogram
      oracleSql = s"""
      WITH RECURSIVE ${ngramJaccardCtes(0.5)},
      jp AS MATERIALIZED (SELECT id_a, id_b FROM ok),
      ${OracleCtes.reachFromPairs},
      cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
      szs AS (SELECT cluster_id, count(*)::BIGINT AS sz FROM cl GROUP BY 1)
      SELECT sz AS cluster_size, count(*)::BIGINT AS n_clusters
      FROM szs GROUP BY 1 ORDER BY 1"""),
    /** 2-core of the minhash candidate graph (same edge relation as
      * `graph_pagerank`): every surviving node keeps >= 2 within-core
      * neighbors, separating clustered template/mirror families from
      * isolated accidental pairs. */
    GateQuery("graph_kcore", family,
      build = (s, dir) =>
        Graph.kCore(
            dupGraph(s, dir),
            "id_a", "id_b", k = 2)
          .select(col("id").as("doc_id"), col("core_deg"))
          .orderBy("doc_id"),
      // iterative peel to the 2-core over the same minhash edge relation
      oracleSql = s"""
      WITH ${OracleXX.minhashAgreeCtes(128, 16)},
      kp AS (SELECT id_a, id_b FROM ag WHERE agree::DOUBLE / 128 >= 0.4),
      e0 AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM kp
        UNION ALL SELECT id_b AS src, id_a AS dst FROM kp),
      ${kcoreOracleStages(k = 2, peels = 4)}
      SELECT src AS doc_id, count(*)::BIGINT AS core_deg
      FROM e4 CROSS JOIN kguard GROUP BY src ORDER BY doc_id"""),
    /** Synchronous 3-round mode-label propagation over the same minhash
      * candidate graph: community labels at the density granularity (a
      * bridge pair between two template families does NOT merge them the
      * way connected components would). Integer-encoded argmax, bit-exact
      * vs the unrolled DuckDB replay. */
    GateQuery("graph_labelprop", family,
      build = (s, dir) =>
        Graph.labelPropagation(
            dupGraph(s, dir),
            "id_a", "id_b", rounds = 3)
          .select(col("id").as("doc_id"), col("community"))
          .orderBy("doc_id"),
      // 3 unrolled synchronous LPA rounds over the same candidate graph:
      // per-round neighbor-label counts, argmax via the identical integer
      // encode cnt*10^9 + (10^9-1-label) — max picks highest count then
      // smallest label, exactly the engine's aggregate
      oracleSql = s"""
      WITH ${OracleXX.minhashAgreeCtes(128, 16)},
      kp AS (SELECT id_a, id_b FROM ag WHERE agree::DOUBLE / 128 >= 0.4),
      e0 AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM kp
        UNION ALL SELECT id_b AS src, id_a AS dst FROM kp),
      l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM e0),
      ${(1 to 3).map(r => s"""
      c$r AS (SELECT e.dst, l.lbl, count(*)::BIGINT AS cnt
              FROM e0 e JOIN l${r - 1} l ON e.src = l.id GROUP BY e.dst, l.lbl),
      l$r AS (SELECT dst AS id,
                (999999999 - (max(cnt * 1000000000 + (999999999 - lbl))
                              % 1000000000))::BIGINT AS lbl
              FROM c$r GROUP BY dst)""").mkString(",")}
      SELECT id AS doc_id, lbl AS community FROM l3 ORDER BY doc_id"""),
    /** Triadic link prediction over the same minhash candidate graph: open
      * triads (co-neighbors of a shared pivot that are not themselves an
      * edge) scored with common-neighbor count, preferential attachment,
      * and neighborhood-Jaccard ppm — the pairs the banding most likely
      * missed, i.e. the exact-verify worklist. Integer scores, bit-exact
      * vs the SQL replay. */
    GateQuery("graph_link_pred", family,
      build = (s, dir) =>
        Graph.linkPrediction(
            dupGraph(s, dir),
            "id_a", "id_b", maxPivotDegree = 1000L)
          .orderBy("id_a", "id_b"),
      // open triads via the capped-pivot self-join, existing edges removed
      // with NOT EXISTS, full degrees in the integer scores — // and DIV
      // both floor on the non-negative operands
      oracleSql = s"""
      WITH ${OracleXX.minhashAgreeCtes(128, 16)},
      kp AS MATERIALIZED (
        SELECT id_a, id_b FROM ag WHERE agree::DOUBLE / 128 >= 0.4),
      e0 AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM kp
        UNION ALL SELECT id_b AS src, id_a AS dst FROM kp),
      dg AS (SELECT src, count(*)::BIGINT AS deg FROM e0 GROUP BY src),
      pe AS (SELECT e.src, e.dst FROM e0 e JOIN dg d ON e.src = d.src
             WHERE d.deg <= 1000),
      cd AS (SELECT x.dst AS id_a, y.dst AS id_b, count(*)::BIGINT AS cn
             FROM pe x JOIN pe y ON x.src = y.src AND x.dst < y.dst
             GROUP BY 1, 2),
      nc AS (SELECT * FROM cd c WHERE NOT EXISTS (
               SELECT 1 FROM kp k
               WHERE k.id_a = c.id_a AND k.id_b = c.id_b))
      SELECT n.id_a, n.id_b, n.cn, (da.deg * db.deg)::BIGINT AS pa,
             (n.cn * 1000000 // (da.deg + db.deg - n.cn))::BIGINT AS jaccard_ppm
      FROM nc n JOIN dg da ON n.id_a = da.src JOIN dg db ON n.id_b = db.src
      ORDER BY n.id_a, n.id_b"""),
    /** Fixed-point HITS over the DIRECTED (lo→hi) minhash candidate graph:
      * hub scores flag template-source documents (their matches are
      * themselves heavily matched), authority scores the heavily-pointed-at
      * copies — the asymmetric signal the undirected PageRank on the same
      * graph cannot see. 4 max-normalized integer rounds, bit-exact vs the
      * unrolled DuckDB replay. */
    GateQuery("graph_hits", family,
      build = (s, dir) =>
        Graph.hits(
            dupGraph(s, dir),
            "id_a", "id_b", rounds = 4)
          .select(col("id").as("doc_id"), col("hub_fp"), col("auth_fp"))
          .orderBy("doc_id"),
      oracleSql = hitsOracle(rounds = 4)),
    /** Hop-bounded multi-source BFS over the minhash candidate graph:
      * quarantine-neighborhood expansion from seed documents (here every
      * 50th doc id) — every node within 4 hops of a seed, with its hop
      * distance. Frontier-at-a-time walk; oracle is DuckDB's native
      * recursive CTE with the same hop bound. */
    GateQuery("graph_bfs", family,
      build = (s, dir) => {
        val pairs = dupGraph(s, dir)
        val seeds = everyFiftieth(pairs)
        Graph.bfsDistances(pairs, "id_a", "id_b", seeds, maxHops = 4)
          .select(col("id").as("doc_id"), col("dist"))
          .orderBy("doc_id")
      },
      oracleSql = bfsOracle(maxHops = 4)),
    /** Personalized PageRank from the BFS-family seed set (every 50th doc
      * id) over the minhash candidate graph: rank = proximity to the seeds
      * through near-dup structure — the related-documents expansion the
      * uniform `graph_pagerank` cannot express. 5 integer rounds, bit-exact
      * vs the unrolled seeded-teleport replay. */
    GateQuery("graph_ppr", family,
      build = (s, dir) => {
        val pairs = dupGraph(s, dir)
        val seeds = everyFiftieth(pairs)
        Graph.personalizedPageRank(pairs, "id_a", "id_b", seeds,
            iters = 5)
          .select(col("id").as("doc_id"), col("rank").as("rank_fp"),
            col("is_seed"))
          .orderBy("doc_id")
      },
      oracleSql = pprOracle(iters = 5)),
    /** Landmark distance sketch + pair estimates over the minhash candidate
      * graph: landmarks are every 13th node id; each LSH pair gets
      * `min over shared lm of d(a,lm)+d(b,lm)` — the bounded-state
      * approximate-distance path for graphs where all-pairs BFS is
      * unpayable (see [[Graph.landmarkDistances]]). */
    GateQuery("graph_landmark_est", family,
      build = (s, dir) => {
        val pairs = dupGraph(s, dir)
        val lms = pairs.select(col("id_a").as("id"))
          .union(pairs.select(col("id_b").as("id")))
          .where(col("id") % 13 === 0).distinct()
        val dist = Graph.landmarkDistances(pairs, "id_a", "id_b",
          lms, maxHops = 3)
        Graph.landmarkEstimate(pairs, "id_a", "id_b", dist)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
            col("d_est"))
          .orderBy("doc_a", "doc_b")
      },
      oracleSql = landmarkOracle(maxHops = 3))
  )

  /** DuckDB replica of `Graph.landmarkDistances` + `landmarkEstimate`:
    * recursive-CTE multi-source walk carrying the landmark id, min-d
    * distances, then the shared-landmark min-sum per LSH pair. */
  private def landmarkOracle(maxHops: Int): String = s"""
      WITH RECURSIVE ${OracleXX.minhashAgreeCtes(numHashes = 128, bands = 16)},
      prs2 AS MATERIALIZED (SELECT id_a, id_b FROM ag
                            WHERE agree::DOUBLE / 128 >= 0.4),
      ed AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM prs2
        UNION ALL SELECT id_b AS src, id_a AS dst FROM prs2),
      sd AS (SELECT DISTINCT src AS id FROM ed WHERE src % 13 = 0),
      walk(lm, id, d) AS (
        SELECT id, id, 0 FROM sd
        UNION
        SELECT w.lm, e.dst, w.d + 1 FROM walk w JOIN ed e ON e.src = w.id
        WHERE w.d < $maxHops),
      dist AS MATERIALIZED (
        SELECT lm, id, min(d)::BIGINT AS dist FROM walk GROUP BY 1, 2),
      est AS (SELECT p.id_a, p.id_b, min(da.dist + db.dist)::BIGINT AS d_est
              FROM prs2 p
              JOIN dist da ON da.id = p.id_a
              JOIN dist db ON db.id = p.id_b AND db.lm = da.lm
              GROUP BY 1, 2)
      SELECT id_a AS doc_a, id_b AS doc_b, d_est FROM est
      ORDER BY doc_a, doc_b"""

  /** DuckDB replica of `Graph.pageRank` over the minhash candidate graph:
    * the shared banded-pairs CTEs → thresholded pairs → symmetric edge
    * list → 5 unrolled integer-arithmetic iterations. `//` and `DIV` are
    * both floor division on non-negative BIGINTs and `*`/`//` share
    * left-associative precedence in both engines, so every intermediate
    * is identical. */
  private def pagerankOracle(iters: Int): String = {
    def it(prev: String, cur: String) =
      s"""$cur AS (SELECT e.dst AS id,
             ((150000000000 // (SELECT n FROM nn)) + 85 * sum(r.rank // d.deg) // 100)::BIGINT AS rank
           FROM ed e JOIN $prev r ON e.src = r.id JOIN dg d ON e.src = d.src
           GROUP BY e.dst)"""
    val chain = (1 to iters)
      .map(i => it(if (i == 1) "r0" else s"it${i - 1}", s"it$i"))
      .mkString(",\n      ")
    s"""
      WITH ${OracleXX.minhashAgreeCtes(numHashes = 128, bands = 16)},
      prs2 AS (SELECT id_a, id_b FROM ag WHERE agree::DOUBLE / 128 >= 0.4),
      ed AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM prs2
        UNION ALL SELECT id_b AS src, id_a AS dst FROM prs2),
      dg AS MATERIALIZED (SELECT src, count(*)::BIGINT AS deg FROM ed GROUP BY src),
      nn AS MATERIALIZED (SELECT count(DISTINCT src)::BIGINT AS n FROM ed),
      r0 AS (SELECT DISTINCT src AS id,
               (1000000000000 // (SELECT n FROM nn))::BIGINT AS rank FROM ed),
      $chain
      SELECT i.id AS doc_id, i.rank AS rank_fp, d.deg
      FROM it$iters i JOIN dg d ON i.id = d.src ORDER BY doc_id"""
  }

  /** DuckDB replica of `Graph.personalizedPageRank` over the minhash
    * candidate graph with the BFS-family seed set: r0 concentrates the
    * mass on the seeds, and each unrolled round adds the seeded teleport
    * base only where a seed marker joins — all `//` truncation on
    * non-negative BIGINTs, so every intermediate matches the engine. */
  private def pprOracle(iters: Int): String = {
    def it(prev: String, cur: String) =
      s"""$cur AS MATERIALIZED (SELECT e.dst AS id,
             ((CASE WHEN s2.id IS NOT NULL
                    THEN 150000000000 // (SELECT ns FROM nsq) ELSE 0 END)
              + 85 * sum(r.rank // d.deg) // 100)::BIGINT AS rank
           FROM ed e JOIN $prev r ON e.src = r.id JOIN dg d ON e.src = d.src
           LEFT JOIN sd s2 ON s2.id = e.dst
           GROUP BY e.dst, s2.id)"""
    val chain = (1 to iters)
      .map(i => it(if (i == 1) "r0" else s"it${i - 1}", s"it$i"))
      .mkString(",\n      ")
    s"""
      WITH ${OracleXX.minhashAgreeCtes(numHashes = 128, bands = 16)},
      -- prs2 MATERIALIZED is load-bearing: left plain it inlines into ed,
      -- and the per-round seed LEFT JOINs then replay the whole minhash
      -- chain (~3x, measured 8.6s -> 2.8s at sf0.01)
      prs2 AS MATERIALIZED (SELECT id_a, id_b FROM ag WHERE agree::DOUBLE / 128 >= 0.4),
      ed AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM prs2
        UNION ALL SELECT id_b AS src, id_a AS dst FROM prs2),
      dg AS MATERIALIZED (SELECT src, count(*)::BIGINT AS deg FROM ed GROUP BY src),
      sd AS MATERIALIZED (SELECT DISTINCT src AS id FROM ed WHERE src % 50 = 0),
      nsq AS MATERIALIZED (SELECT count(*)::BIGINT AS ns FROM sd),
      r0 AS MATERIALIZED (SELECT n.id,
               (CASE WHEN s2.id IS NOT NULL
                     THEN 1000000000000 // (SELECT ns FROM nsq)
                     ELSE 0 END)::BIGINT AS rank
             FROM (SELECT DISTINCT src AS id FROM ed) n
             LEFT JOIN sd s2 ON s2.id = n.id),
      $chain
      SELECT i.id AS doc_id, i.rank AS rank_fp, (s2.id IS NOT NULL) AS is_seed
      FROM it$iters i LEFT JOIN sd s2 ON s2.id = i.id ORDER BY doc_id"""
  }

  /** DuckDB replica of `Graph.hits`: the shared banded-pairs CTEs → the
    * DIRECTED lo→hi edge list → `rounds` unrolled auth/hub passes, each a
    * BIGINT sum of the opposite score followed by `raw * 10^6 //
    * max(raw)` max-normalization — `//` and `DIV` are both truncation on
    * non-negative BIGINTs, so every intermediate matches the engine. */
  private def hitsOracle(rounds: Int): String = {
    // Every CTE here is AS MATERIALIZED: a{i} references a{i}_raw TWICE
    // (the FROM plus the scalar max() subquery); left to the optimizer's
    // inlining heuristic that doubling compounds per round into an
    // exponential replay of the shared minhash CTE chain (measured 342.8 s
    // at sf0.01 for 4 rounds — the round-9 gate-budget bomb).
    def round(i: Int, prevHub: String) = s"""
      a${i}_raw AS MATERIALIZED (
        SELECT e.dst AS id, sum(h.hub)::BIGINT AS raw
        FROM ed e JOIN $prevHub h ON e.src = h.id GROUP BY e.dst),
      a$i AS MATERIALIZED (SELECT id,
                (raw * 1000000 // (SELECT max(raw) FROM a${i}_raw))::BIGINT AS auth
              FROM a${i}_raw),
      h${i}_raw AS MATERIALIZED (
        SELECT e.src AS id, sum(a.auth)::BIGINT AS raw
        FROM ed e JOIN a$i a ON e.dst = a.id GROUP BY e.src),
      h$i AS MATERIALIZED (SELECT id,
                (raw * 1000000 // (SELECT max(raw) FROM h${i}_raw))::BIGINT AS hub
              FROM h${i}_raw)"""
    val chain = (1 to rounds)
      .map(i => round(i, if (i == 1) "h0" else s"h${i - 1}"))
      .mkString(",\n      ")
    s"""
      WITH ${OracleXX.minhashAgreeCtes(numHashes = 128, bands = 16)},
      prs2 AS (SELECT id_a, id_b FROM ag WHERE agree::DOUBLE / 128 >= 0.4),
      ed AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM prs2),
      nd AS MATERIALIZED (SELECT DISTINCT id FROM
        (SELECT src AS id FROM ed UNION ALL SELECT dst FROM ed)),
      h0 AS MATERIALIZED (SELECT id, 1000000::BIGINT AS hub FROM nd),
      $chain
      SELECT nd.id AS doc_id,
             coalesce(h$rounds.hub, 0)::BIGINT AS hub_fp,
             coalesce(a$rounds.auth, 0)::BIGINT AS auth_fp
      FROM nd LEFT JOIN h$rounds ON nd.id = h$rounds.id
              LEFT JOIN a$rounds ON nd.id = a$rounds.id
      ORDER BY doc_id"""
  }

  /** DuckDB replica of `Graph.bfsDistances` over the minhash candidate
    * graph: native recursive CTE with UNION (distinct) semantics — the
    * working set is distinct (id, hop) rows, so cycles terminate under
    * the hop bound and `min(d)` is the BFS distance. */
  private def bfsOracle(maxHops: Int): String = s"""
      WITH RECURSIVE ${OracleXX.minhashAgreeCtes(numHashes = 128, bands = 16)},
      prs2 AS (SELECT id_a, id_b FROM ag WHERE agree::DOUBLE / 128 >= 0.4),
      ed AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM prs2
        UNION ALL SELECT id_b AS src, id_a AS dst FROM prs2),
      sd AS (SELECT DISTINCT src AS id FROM ed WHERE src % 50 = 0),
      walk(id, d) AS (
        SELECT id, 0 FROM sd
        UNION
        SELECT e.dst, w.d + 1 FROM walk w JOIN ed e ON e.src = w.id
        WHERE w.d < $maxHops)
      SELECT id AS doc_id, min(d)::BIGINT AS dist
      FROM walk GROUP BY id ORDER BY doc_id"""

  /** Unrolled k-core peel: `peels` staged (degree filter -> edge restrict)
    * rounds over the symmetric edge CTE `e0`, with an error() guard that
    * the last two stages agree (fixpoint actually reached) — the same
    * unroll-plus-guard discipline as the k-means and PageRank replicas. */
  private def kcoreOracleStages(k: Int, peels: Int): String = {
    val rounds = (1 to peels).map { i =>
      val prev = s"e${i - 1}"
      s"""k$i AS (SELECT src FROM $prev GROUP BY src HAVING count(*) >= $k),
      e$i AS MATERIALIZED (SELECT $prev.src, $prev.dst FROM $prev
        JOIN k$i ka ON $prev.src = ka.src
        JOIN k$i kb ON $prev.dst = kb.src)"""
    }.mkString(",\n      ")
    s"""$rounds,
      kguard AS (SELECT CASE WHEN (SELECT count(*) FROM e$peels) <>
                              (SELECT count(*) FROM e${peels - 1})
                 THEN error('k-core oracle: no fixpoint in $peels unrolled peels — raise the unroll')
                 ELSE 1 END AS ok)"""
  }

  /** The near-duplicate graph every graph gate runs on: MinHash-LSH pairs
    * of the documents (128 hashes, 16 bands, Jaccard >= 0.4). */
  private def dupGraph(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        numHashes = 128, bands = 16, threshold = 0.4)
      .select(col("id_a"), col("id_b"))

  /** The seed set of the traversal gates: graph nodes with id % 50 = 0. */
  private def everyFiftieth(pairs: DataFrame): DataFrame =
    pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id")))
      .where(col("id") % 50 === 0).distinct()
}
