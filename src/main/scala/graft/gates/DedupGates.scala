package graft.gates

import graft.OracleXX
import graft.functions.{TextFunctions => TF}
import graft.operators.{Dedup, Similarity}

import org.apache.spark.sql.functions._

import GateSupport._
import OracleCtes._

/** Deduplication gates: exact, normalized, MinHash/SimHash, n-gram,
  * span, embedding, incremental and ingest-loop dedup. */
object DedupGates {
  private val family = "dedup"
  // fuzzy-pipeline LSH parameters — shared by the gate query AND its
  // oracle so a tune cannot drift them apart
  private val fuzzyHashes = 128
  private val fuzzyBands = 16
  private val fuzzyThreshold = 0.4

  val gates: Seq[GateQuery] = Seq(
    GateQuery("dedup_exact", family,
      build = (s, dir) =>
        Dedup.exactSurvivors(t(s, dir, "documents"), "doc_id", "text")
          .orderBy("text_hash"),
      oracleSql = """
      SELECT md5(text) AS text_hash, min(doc_id) AS doc_id,
             count(*)::BIGINT AS n_copies
      FROM documents GROUP BY 1 ORDER BY text_hash"""),
    GateQuery("dedup_normalized", family,
      build = (s, dir) =>
        Dedup.normalizedSurvivors(t(s, dir, "documents"), "doc_id", "text")
          .orderBy("text_hash"),
      oracleSql = """
      SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS text_hash,
             min(doc_id) AS doc_id, count(*)::BIGINT AS n_copies
      FROM documents GROUP BY 1 ORDER BY text_hash"""),
    GateQuery("dedup_minhash", family,
      build = (s, dir) =>
        Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
            numHashes = 128, bands = 16, threshold = 0.4)
          .orderBy("id_a", "id_b"),
      // full replicas of the hash-sketch dedup operators: XXH64 (the exact
      // Spark xxhash64 bit mixing) is reproduced in DuckDB HUGEINT
      // arithmetic, so the estimate-scored MinHash pairs and the SimHash
      // Hamming pairs are oracle-checked as-is — see OracleXX
      oracleSql = OracleXX.minhashOracle(numHashes = 128, bands = 16,
        threshold = 0.4)),
    /** Approximate blocking + EXACT verification — the production dedup shape.
      * Aggressive banding (64×2) makes candidate recall ≈ 1 at j ≥ 0.5, so the
      * verified output equals the exact all-pairs oracle. */
    GateQuery("dedup_minhash_verified", family,
      build = (s, dir) =>
        Dedup.minhashVerifiedPairs(t(s, dir, "documents"), "doc_id", "text",
            numHashes = 128, bands = 64, threshold = 0.5, shingleN = 3)
          .orderBy("id_a", "id_b"),
      // exact-verified MinHash: candidates from LSH, output = exact n-gram
      // Jaccard ≥ 0.5 — oracle is the same all-pairs exact computation, with
      // the engine's band keys replicated (bands=64) purely to feed the same
      // skew-cap guard as dedup_minhash: cap-induced divergence fails with the
      // explanatory error() instead of a bare row/hash mismatch
      oracleSql = s"""
      WITH ${OracleXX.minhashBandCtes(numHashes = 128, bands = 64)},
      posting AS (SELECT doc_id, len(hs) AS n, unnest(hs) AS h FROM sh3),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter,
               any_value(a.n) AS na, any_value(b.n) AS nb
        FROM posting a JOIN posting b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b, inter::DOUBLE / (na + nb - inter) AS jaccard
      FROM pairs CROSS JOIN guard WHERE inter::DOUBLE / (na + nb - inter) >= 0.5
      ORDER BY id_a, id_b"""),
    GateQuery("dedup_simhash", family,
      build = (s, dir) =>
        Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
          .orderBy("id_a", "id_b"),
      oracleSql = OracleXX.simhashOracle(maxHamming = 3)),
    GateQuery("dedup_ngram", family,
      build = (s, dir) =>
        Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
            shingleN = 3, threshold = 0.5, maxDocFreq = Long.MaxValue)
          .orderBy("id_a", "id_b"),
      oracleSql = ngramJaccardOracle(0.5)),
    /** Same exact-Jaccard contract as `dedup_ngram`, through the AllPairs
      * prefix filter — the gate proves the filter loses nothing (the oracle
      * is the same brute-force all-pairs SQL, only the threshold differs). */
    GateQuery("dedup_ngram_prefix", family,
      build = (s, dir) =>
        Dedup.ngramJaccardPairsPrefix(t(s, dir, "documents"), "doc_id", "text",
            shingleN = 3, threshold = 0.4)
          .orderBy("id_a", "id_b"),
      // the prefix-filtered operator promises output IDENTICAL to the plain
      // inverted-index join, so its oracle is the same brute-force all-pairs
      // SQL — any pair the filter drops is a hash mismatch here
      oracleSql = ngramJaccardOracle(0.4)),
    /** Gate config exercises the LSH-BLOCKED path — the 100 TB shape (the
      * brute-force config is O(n²) and exists for oracle/spec verification
      * only, kept as the `dedup_embedding_exact` twin). The oracle replicates
      * the hyperplane bucketing, so blocking is verified, not approximated. */
    GateQuery("dedup_embedding", family,
      build = (s, dir) =>
        Dedup.embeddingCosinePairs(t(s, dir, "embeddings"), "vec_id", "embedding",
            threshold = 0.4, bruteForce = false)
          .orderBy("id_a", "id_b"),
      // LSH-blocked config (the scale path): oracle replicates the
      // hyperplane bucketing, then exact cosine within buckets
      oracleSql = s"""
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      cb AS (SELECT vec_id, v, ${hyperplaneBucketSql(8, 64)} AS bucket FROM e),
      guard AS (SELECT CASE WHEN (SELECT max(c) FROM
                  (SELECT count(*) AS c FROM cb GROUP BY bucket)) > 4096
                THEN error('embedding oracle models the UNCAPPED bucket join; a bucket exceeds the engine skew cap (4096) so outputs would diverge')
                ELSE 1 END AS ok)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_cosine_similarity(a.v, b.v) AS cosine
      FROM cb a CROSS JOIN guard JOIN cb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= 0.4
      ORDER BY id_a, id_b"""),
    GateQuery("dedup_embedding_exact", family,
      build = (s, dir) =>
        Dedup.embeddingCosinePairs(t(s, dir, "embeddings"), "vec_id", "embedding",
            threshold = 0.4, bruteForce = true)
          .orderBy("id_a", "id_b"),
      oracleSql = """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_cosine_similarity(a.v, b.v) AS cosine
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= 0.4
      ORDER BY id_a, id_b"""),
    /** SemDeDup over the embeddings table with the FIXED deterministic
      * coarse quantizer (same one `sim_ivf_verified` uses) so the oracle can
      * replay centroid assignment, the within-cluster cosine prune, and the
      * greedy survivor rule cell-exactly. */
    GateQuery("dedup_semantic", family,
      build = (s, dir) =>
        Dedup.semanticSurvivors(t(s, dir, "embeddings"), "vec_id", "embedding",
            Similarity.fixedCentroids(16, 64), threshold = 0.4)
          .orderBy("vec_id"),
      // SemDeDup replica: fixed-centroid assignment (same float-exact
      // distance arithmetic as the IVF replica), within-cluster cosine
      // prune, greedy min-id survivor rule — with the skew-cap guard
      oracleSql = semanticOracle(
        Similarity.fixedCentroids(16, 64), threshold = 0.4,
        maxClusterSize = 4096L)),
    /** Leakage audit over a 90/10 train/val hash split at the MinHash-LSH
      * dedup threshold — the near-dup pairs straddling the split boundary. */
    GateQuery("dedup_split_leakage", family,
      build = (s, dir) =>
        Dedup.splitLeakage(t(s, dir, "documents"), "doc_id", "text",
            weights = Seq("train" -> 0.9, "val" -> 0.1),
            numHashes = 128, bands = 16, threshold = 0.4)
          .orderBy("id_a", "id_b"),
      // leakage audit = the same banded pair replica + hashSplit's bucket
      // thresholds replayed on both endpoints, cross-split rows only
      oracleSql = {
        val b = OracleXX.xxh64LongPmod("doc_id", 1000000L)
        s"""
      WITH ${OracleXX.minhashAgreeCtes(numHashes = 128, bands = 16)},
      sp AS (SELECT doc_id,
               CASE WHEN ($b) < 900000 THEN 'train' ELSE 'val' END AS split
             FROM documents),
      lk AS (SELECT id_a, id_b, agree::DOUBLE / 128 AS est_jaccard
             FROM ag WHERE agree::DOUBLE / 128 >= 0.4)
      SELECT l.id_a, l.id_b, sa.split AS split_a, sb.split AS split_b,
             l.est_jaccard
      FROM lk l JOIN sp sa ON sa.doc_id = l.id_a
                JOIN sp sb ON sb.doc_id = l.id_b
      WHERE sa.split <> sb.split
      ORDER BY l.id_a, l.id_b"""
      }),
      /** Line-level dedup over synthesized multi-line "pages": the corpus has
        * no newline structure, so 5 consecutive docs concatenate into one page
        * per `doc_id DIV 5`, wrapped in the boilerplate a crawled page carries —
        * a cookie-banner header whose CASE/punctuation varies by page parity
        * (normalization must unify them), a blank separator line (empty-norm —
        * never deduplicated), and a constant footer. The operator keeps each
        * banner's globally-first occurrence and cuts the other 99. */
    /** Intra-document pass over pages that repeat their own banner (in the
      * OTHER case variant, so the normalized compare is what dedups) and
      * carry a distinct final line that must survive. */
    GateQuery("dedup_lines_intra", family,
      build = (s, dir) => {
        val even = pmod(col("page_id"), lit(2L)) === 0L
        val pages = t(s, dir, "documents")
          .groupBy(expr("doc_id DIV 5").as("page_id"))
          .agg(array_join(
            transform(sort_array(collect_list(struct(col("doc_id"), col("text")))),
              e => e.getField("text")), "\n").as("body"))
          .select(col("page_id"), concat_ws("\n",
            when(even, lit("Cookie Notice: ACCEPT!")).otherwise(lit("cookie notice accept")),
            lit(""), col("body"), lit("subscribe to the newsletter"),
            when(even, lit("cookie notice accept")).otherwise(lit("Cookie Notice: ACCEPT!")),
            lit("Subscribe, NOW!")).as("page_text"))
        Dedup.intraDocLineDedup(pages, "page_id", "page_text")
          .orderBy("page_id")
      },
      // line dedup: first-occurrence = min (page_id, pos), encoded as
      // page_id*1e6+pos (positions are tiny here; the engine compares the
      // struct directly); dedup keys are the NORMALIZED line strings —
      // grouping by string is collision-free, the engine's xxhash64 grouping
      // agrees on any corpus without a 64-bit collision
      // intra-doc twin: first occurrence per (page, norm) survives, empties
      // always kept; the repeated banner arrives in the other case variant
      // so the cut proves the normalized compare
      oracleSql = s"""
      WITH body AS (SELECT (doc_id // 5) AS page_id,
                           string_agg(text, chr(10) ORDER BY doc_id) AS body
                    FROM documents GROUP BY 1),
      pages AS (SELECT page_id,
                  (CASE WHEN page_id % 2 = 0 THEN 'Cookie Notice: ACCEPT!'
                        ELSE 'cookie notice accept' END)
                  || chr(10) || '' || chr(10) || body
                  || chr(10) || 'subscribe to the newsletter'
                  || chr(10) ||
                  (CASE WHEN page_id % 2 = 0 THEN 'cookie notice accept'
                        ELSE 'Cookie Notice: ACCEPT!' END)
                  || chr(10) || 'Subscribe, NOW!' AS page_text
                FROM body),
      l AS (SELECT page_id, string_split(page_text, chr(10)) AS ls FROM pages),
      e AS (SELECT page_id, ls, unnest(list_transform(range(1, len(ls) + 1),
              i -> {'pos': i - 1, 'line': ls[i]})) AS u
            FROM l),
      p AS (SELECT page_id, (u.pos)::BIGINT AS pos, u.line AS line,
              trim(regexp_replace(regexp_replace(lower(u.line), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm
            FROM e),
      cuts AS (SELECT page_id, pos FROM (
                 SELECT page_id, pos,
                        row_number() OVER (PARTITION BY page_id, norm
                                           ORDER BY pos) AS rn
                 FROM p WHERE norm <> '') WHERE rn > 1),
      kept AS (SELECT p.page_id, p.pos, p.line FROM p
               WHERE NOT EXISTS (SELECT 1 FROM cuts c
                 WHERE c.page_id = p.page_id AND c.pos = p.pos)),
      agg AS (SELECT page_id,
                     string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                     count(*)::BIGINT AS n_lines_kept
              FROM kept GROUP BY page_id)
      SELECT l.page_id, coalesce(a.clean_text, '') AS clean_text,
             coalesce(a.n_lines_kept, 0)::BIGINT AS n_lines_kept,
             (len(l.ls) - coalesce(a.n_lines_kept, 0))::BIGINT AS n_lines_cut
      FROM l LEFT JOIN agg a USING (page_id)
      ORDER BY page_id"""),
    GateQuery("dedup_lines", family,
      build = (s, dir) => {
        val pages = t(s, dir, "documents")
          .groupBy(expr("doc_id DIV 5").as("page_id"))
          .agg(array_join(
            transform(sort_array(collect_list(struct(col("doc_id"), col("text")))),
              e => e.getField("text")), "\n").as("body"))
          .select(col("page_id"), concat_ws("\n",
            when(pmod(col("page_id"), lit(2L)) === 0L, lit("Cookie Notice: ACCEPT!"))
              .otherwise(lit("cookie notice accept")),
            lit(""), col("body"), lit("subscribe to the newsletter"))
            .as("page_text"))
        Dedup.lineSurvivors(pages, "page_id", "page_text")
          .orderBy("page_id")
      },
      oracleSql = s"""
      WITH body AS (SELECT (doc_id // 5) AS page_id,
                           string_agg(text, chr(10) ORDER BY doc_id) AS body
                    FROM documents GROUP BY 1),
      pages AS (SELECT page_id,
                  (CASE WHEN page_id % 2 = 0 THEN 'Cookie Notice: ACCEPT!'
                        ELSE 'cookie notice accept' END)
                  || chr(10) || '' || chr(10) || body
                  || chr(10) || 'subscribe to the newsletter' AS page_text
                FROM body),
      l AS (SELECT page_id, string_split(page_text, chr(10)) AS ls FROM pages),
      e AS (SELECT page_id, ls, unnest(list_transform(range(1, len(ls) + 1),
              i -> {'pos': i - 1, 'line': ls[i]})) AS u
            FROM l),
      p AS (SELECT page_id, (u.pos)::BIGINT AS pos, u.line AS line,
              trim(regexp_replace(regexp_replace(lower(u.line), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm
            FROM e),
      nz AS (SELECT * FROM p WHERE norm <> ''),
      firsts AS (SELECT norm, count(*)::BIGINT AS cnt,
                        min(page_id * 1000000 + pos) AS firstkey
                 FROM nz GROUP BY norm),
      cuts AS (SELECT page_id, pos FROM nz JOIN firsts USING (norm)
               WHERE cnt >= 2 AND page_id * 1000000 + pos <> firstkey),
      kept AS (SELECT p.page_id, p.pos, p.line FROM p
               WHERE NOT EXISTS (SELECT 1 FROM cuts c
                 WHERE c.page_id = p.page_id AND c.pos = p.pos)),
      agg AS (SELECT page_id,
                     string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                     count(*)::BIGINT AS n_lines_kept
              FROM kept GROUP BY page_id)
      SELECT l.page_id, coalesce(a.clean_text, '') AS clean_text,
             coalesce(a.n_lines_kept, 0)::BIGINT AS n_lines_kept,
             (len(l.ls) - coalesce(a.n_lines_kept, 0))::BIGINT AS n_lines_cut
      FROM l LEFT JOIN agg a USING (page_id)
      ORDER BY page_id"""),
    /** Group-conditional boilerplate strip over a synthesized paged corpus
      * (documents are single-line, so pages are built like `dedup_lines`,
      * but grouped per source with source-templated boilerplate): every page
      * of a source opens with that source's banner (boilerplate — cut
      * everywhere), most close with a shared footer (frequent per source —
      * cut), and every fifth bucket closes with a bucket-unique ref-code
      * line instead (one page per source — below minDocs, kept). Body lines
      * are unique per page and survive. */
    GateQuery("dedup_boilerplate", family,
      build = (s, dir) => {
        val pages = t(s, dir, "documents")
          .groupBy(col("source"), expr("doc_id DIV 5").as("bucket"))
          .agg(min("doc_id").as("page_id"),
               array_join(
                 transform(sort_array(collect_list(struct(col("doc_id"), col("text")))),
                   e => e.getField("text")), "\n").as("body"))
          .select(col("page_id"), col("source"), concat_ws("\n",
              concat(lit("Visit "), col("source"), lit(" for the best content")),
              col("body"),
              when(pmod(col("bucket"), lit(5L)) === 0L,
                   concat(lit("ref code "), col("bucket")))
                .otherwise(lit("subscribe to the newsletter")))
            .as("page_text"))
        Dedup.boilerplateSurvivors(pages, "page_id", "page_text", "source",
            minDocs = 3L)
          .orderBy("page_id")
      },
      oracleSql = s"""
      WITH body AS (SELECT source, (doc_id // 5) AS bucket,
                           min(doc_id) AS page_id,
                           string_agg(text, chr(10) ORDER BY doc_id) AS body
                    FROM documents GROUP BY source, bucket),
      pages AS (SELECT page_id, source,
                  'Visit ' || source || ' for the best content' || chr(10)
                  || body || chr(10)
                  || (CASE WHEN bucket % 5 = 0 THEN 'ref code ' || bucket
                           ELSE 'subscribe to the newsletter' END) AS page_text
                FROM body),
      l AS (SELECT page_id, source, string_split(page_text, chr(10)) AS ls
            FROM pages),
      e AS (SELECT page_id, source, ls,
                   unnest(list_transform(range(1, len(ls) + 1),
                     i -> {'pos': i - 1, 'line': ls[i]})) AS u
            FROM l),
      p AS (SELECT page_id, source, (u.pos)::BIGINT AS pos, u.line AS line,
              trim(regexp_replace(regexp_replace(lower(u.line), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm
            FROM e),
      nz AS (SELECT * FROM p WHERE norm <> ''),
      bp AS (SELECT source, norm FROM (
               SELECT source, norm, count(DISTINCT page_id) AS docs
               FROM nz GROUP BY source, norm) WHERE docs >= 3),
      cuts AS (SELECT page_id, pos FROM nz JOIN bp USING (source, norm)),
      kept AS (SELECT p.page_id, p.pos, p.line FROM p
               WHERE NOT EXISTS (SELECT 1 FROM cuts c
                 WHERE c.page_id = p.page_id AND c.pos = p.pos)),
      agg AS (SELECT page_id,
                     string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                     count(*)::BIGINT AS n_lines_kept
              FROM kept GROUP BY page_id)
      SELECT l.page_id, coalesce(a.clean_text, '') AS clean_text,
             coalesce(a.n_lines_kept, 0)::BIGINT AS n_lines_kept,
             (len(l.ls) - coalesce(a.n_lines_kept, 0))::BIGINT AS n_lines_cut
      FROM l LEFT JOIN agg a USING (page_id)
      ORDER BY page_id"""),
    /** Containment dedup over a corpus with PLANTED near-subsets: every 7th
      * document contributes a 12-token snippet twin (id + 10⁶) — wholesale
      * quotes that symmetric Jaccard misses (J ≈ 12/|doc| but C ≈ 1). The
      * snippet text is built from the same normalized tokenizer both engines
      * share, so the construction replays exactly. */
    GateQuery("dedup_containment", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val snippets = docs.where(pmod(col("doc_id"), lit(7L)) === 0L)
          .select((col("doc_id") + 1000000L).as("doc_id"),
                  array_join(slice(TF.tokens(col("text")), 1, 12), " ").as("text"))
        Dedup.containmentPairs(docs.union(snippets), "doc_id", "text",
            shingleN = 3, threshold = 0.8, maxDocFreq = Long.MaxValue)
          .orderBy("contained_id", "container_id")
      },
      oracleSql = s"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               array_to_string(list_slice($sqlToks, 1, 12), ' ') AS text
        FROM documents WHERE doc_id % 7 = 0),
      toks AS (SELECT doc_id, $sqlToks AS tk FROM corpus),
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
        SELECT CASE WHEN na < nb THEN id_a ELSE id_b END AS contained_id,
               CASE WHEN na < nb THEN id_b ELSE id_a END AS container_id,
               inter::DOUBLE / least(na, nb) AS containment
        FROM pairs WHERE inter::DOUBLE / least(na, nb) >= 0.8)
      SELECT contained_id, container_id, containment FROM ok
      ORDER BY contained_id, container_id"""),
    /** Graph-flavored semantic dedup (the SemDeDup alternative that needs
      * no cluster-size cap): the k-NN graph thresholded at cosine >= 0.35
      * becomes an undirected pair relation, connected components label the
      * semantic-duplicate groups, and the min-id member survives. Composes
      * three already-verified operators into one plan — blocking stays at
      * the IVF-cell level, the CC rounds shuffle only (id, label). */
    GateQuery("dedup_semantic_graph", family,
      build = (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val edges = Similarity.knnGraph(emb, "vec_id", "embedding", k = 5,
            nCentroids = 16, nProbe = 4,
            centroidsOverride = Some(Similarity.fixedCentroids(16, 64)))
          .where(col("cosine") >= 0.35)
          .select(least(col("src"), col("dst")).as("id_a"),
                  greatest(col("src"), col("dst")).as("id_b"))
          .distinct()
        Dedup.connectedComponents(emb.select("vec_id"), edges, "vec_id")
          .select(col("vec_id"), col("cluster_id"),
            (col("vec_id") === col("cluster_id")).cast("long").as("is_survivor"))
          .orderBy("vec_id")
      },
      // the sim_knn_graph replica thresholded into an undirected pair
      // relation, then DuckDB's native recursive reachability + min-id
      // labeling — the same composition the engine runs (IVF blocking →
      // k-NN cut → connected components → min-id survivor)
      oracleSql = s"""
      WITH RECURSIVE ${ivfReplicaCtes(Similarity.fixedCentroids(16, 64),
                                        nProbe = 4, dim = 64, queryPred = "TRUE")},
      ranked AS (
        SELECT qid AS src, id AS dst, cosine,
               row_number() OVER (PARTITION BY qid
                 ORDER BY cosine DESC, id ASC) AS rank
        FROM scored),
      kp AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS id_a, greatest(src, dst) AS id_b
        FROM ranked WHERE rank <= 5 AND cosine >= 0.35::DOUBLE),
      eg AS (SELECT id_a AS src, id_b AS dst FROM kp
             UNION SELECT id_b, id_a FROM kp),
      reach AS (
        SELECT vec_id AS id, vec_id AS r FROM embeddings
        UNION
        SELECT eg.dst AS id, reach.r AS r FROM reach JOIN eg ON eg.src = reach.id)
      SELECT id AS vec_id, min(r) AS cluster_id,
             (CASE WHEN id = min(r) THEN 1 ELSE 0 END)::BIGINT AS is_survivor
      FROM reach GROUP BY id ORDER BY vec_id"""),
    /** Batch-ingest embedding dedup: the incoming batch (vec_id < 350)
      * against the accepted corpus (vec_id >= 350), hyperplane-bucket
      * blocked. The 350 boundary makes the fixture's two same-bucket
      * qualifying pairs exercise BOTH drop rules: (334, 438) drops 334 via a
      * corpus source, (197, 318) drops 318 via a smaller-id batch-mate. The
      * embedding column itself stays out of the gate output — float-array
      * cell rendering is not comparable across engines. */
    GateQuery("dedup_embedding_incremental", family,
      build = (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Dedup.incrementalEmbedSurvivors(
            emb.where(col("vec_id") < 350), emb.where(col("vec_id") >= 350),
            "vec_id", "embedding", threshold = 0.4)
          .select("vec_id", "label")
          .orderBy("vec_id")
      },
      // incremental ingest twin: same hyperplane blocking, victim = incoming
      // (vec_id < 350), source = accepted corpus or smaller-id batch-mate
      oracleSql = s"""
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      cb AS (SELECT vec_id, label, v, ${hyperplaneBucketSql(8, 64)} AS bucket FROM e),
      drp AS (
        SELECT DISTINCT a.vec_id
        FROM cb a JOIN cb b ON a.bucket = b.bucket
         AND a.vec_id < 350 AND (b.vec_id >= 350 OR b.vec_id < a.vec_id)
        WHERE list_cosine_similarity(a.v, b.v) >= 0.4)
      SELECT vec_id, label FROM cb
      WHERE vec_id < 350 AND vec_id NOT IN (SELECT vec_id FROM drp)
      ORDER BY vec_id"""),
    GateQuery("dedup_snm_multipass", family,
      build = (s, dir) =>
        Dedup.sortedNeighborhoodMultiPass(t(s, dir, "documents"), "doc_id",
            "text", passes = 2, stride = 16)
          .orderBy("id_a", "id_b"),
      // two-pass SNM: union of the rank chains keyed at char offsets 1 and
      // 17, deduplicated on the pair
      oracleSql = s"""
      WITH nrm AS (SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS t
             FROM documents),
      tk AS (SELECT doc_id, substr(t, 1, 24) AS k0, substr(t, 17, 24) AS k1,
               string_split(t, ' ') AS tks FROM nrm),
      sh AS (SELECT doc_id, k0, k1,
               CASE WHEN len(tks) < 3 THEN [array_to_string(tks, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tks) - 1),
                         i -> array_to_string(list_slice(tks, i, i + 2), ' '))) END AS hs
             FROM tk),
      r0 AS (SELECT doc_id, hs, len(hs)::BIGINT AS n,
               row_number() OVER (ORDER BY k0, doc_id) - 1 AS rank FROM sh),
      r1 AS (SELECT doc_id, hs, len(hs)::BIGINT AS n,
               row_number() OVER (ORDER BY k1, doc_id) - 1 AS rank FROM sh),
      cand AS (
        SELECT a.doc_id AS da, b.doc_id AS db,
               len(list_intersect(a.hs, b.hs))::BIGINT AS inter,
               a.n AS na, b.n AS nb
        FROM r0 a JOIN r0 b ON b.rank > a.rank AND b.rank - a.rank <= 8
        UNION ALL
        SELECT a.doc_id, b.doc_id,
               len(list_intersect(a.hs, b.hs))::BIGINT,
               a.n, b.n
        FROM r1 a JOIN r1 b ON b.rank > a.rank AND b.rank - a.rank <= 8)
      SELECT DISTINCT least(da, db) AS id_a, greatest(da, db) AS id_b,
             inter::DOUBLE / (na + nb - inter)::DOUBLE AS jaccard
      FROM cand
      WHERE inter::DOUBLE / (na + nb - inter)::DOUBLE >= 0.3::DOUBLE
      ORDER BY id_a, id_b"""),
    GateQuery("dedup_sorted_neighborhood", family,
      build = (s, dir) =>
        Dedup.sortedNeighborhoodPairs(t(s, dir, "documents"), "doc_id", "text")
          .orderBy("id_a", "id_b"),
      // SNM: global (normalized-prefix, id) rank, candidates within the
      // rank window, exact-Jaccard verify on shingle STRINGS (count-multiset
      // invariance vs the engine's 64-bit hashes, as everywhere)
      oracleSql = s"""
      WITH nrm AS (SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS t
             FROM documents),
      tk AS (SELECT doc_id, substr(t, 1, 24) AS k,
               string_split(t, ' ') AS tks FROM nrm),
      sh AS (SELECT doc_id, k,
               CASE WHEN len(tks) < 3 THEN [array_to_string(tks, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tks) - 1),
                         i -> array_to_string(list_slice(tks, i, i + 2), ' '))) END AS hs
             FROM tk),
      rk AS (SELECT doc_id, hs, len(hs)::BIGINT AS n,
               row_number() OVER (ORDER BY k, doc_id) - 1 AS rank FROM sh),
      cand AS (SELECT a.doc_id AS da, b.doc_id AS db,
                 len(list_intersect(a.hs, b.hs))::BIGINT AS inter,
                 a.n AS na, b.n AS nb
               FROM rk a JOIN rk b
                 ON b.rank > a.rank AND b.rank - a.rank <= 8)
      SELECT least(da, db) AS id_a, greatest(da, db) AS id_b,
             inter::DOUBLE / (na + nb - inter)::DOUBLE AS jaccard
      FROM cand
      WHERE inter::DOUBLE / (na + nb - inter)::DOUBLE >= 0.3::DOUBLE
      ORDER BY id_a, id_b"""),
    /** Keep-best-quality representative per near-dup cluster (same edge
      * relation as `dedup_clusters`, `TextFunctions.qualityScore` as the
      * keep policy — the production cut). */
    GateQuery("dedup_best_of_cluster", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          shingleN = 3, threshold = 0.5, maxDocFreq = Long.MaxValue)
        Dedup.bestOfClusterSurvivors(docs, pairs, "doc_id",
            TF.qualityScore(col("text")))
          .orderBy("doc_id")
      },
      oracleSql = s"""
      WITH RECURSIVE ${ngramJaccardCtes(0.5)},
      jp AS MATERIALIZED (SELECT id_a, id_b FROM ok),
      e AS (SELECT id_a AS src, id_b AS dst FROM jp
            UNION SELECT id_b, id_a FROM jp),
      reach AS (
        SELECT doc_id AS id, doc_id AS r FROM documents
        UNION
        SELECT e.dst AS id, reach.r AS r FROM reach JOIN e ON e.src = reach.id),
      cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
      qc AS (
        SELECT doc_id, len($sqlToks)::BIGINT AS n_tokens,
               CASE WHEN length(text) > 0 THEN
                 floor(len(regexp_extract_all(text, '[.,;:!?]')) * 1000.0 / length(text))::BIGINT
               ELSE 0 END AS punct_pm,
               ${langScoreSql("en")} AS stop_hits
        FROM documents),
      q AS (SELECT doc_id,
               (least(n_tokens, 200) * 2 +
                CASE WHEN punct_pm <= 80 THEN 300 ELSE 100 END +
                least(stop_hits * 30, 300))::BIGINT AS score FROM qc),
      sel AS (SELECT cluster_id, doc_id, score,
                row_number() OVER (PARTITION BY cluster_id
                                   ORDER BY score DESC, doc_id ASC) AS rn,
                count(*) OVER (PARTITION BY cluster_id) AS n_members
              FROM cl JOIN q USING (doc_id))
      SELECT doc_id, cluster_id, n_members::BIGINT AS n_members, score
      FROM sel WHERE rn = 1 ORDER BY doc_id"""),
    GateQuery("dedup_lsh_quality", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents")
        val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text",
            numHashes = 128, bands = 16, threshold = 0.4)
          .select("id_a", "id_b")
        val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
            shingleN = 3, threshold = 0.4, maxDocFreq = Long.MaxValue)
          .select("id_a", "id_b")
        val both = lsh.join(exact, Seq("id_a", "id_b"))
          .agg(count(lit(1)).as("n_both"))
        lsh.agg(count(lit(1)).as("n_lsh"))
          .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
          .crossJoin(both)
          // zero-denominator => NULL, not NaN: 0.0/0.0 is engine-dependent
          // (Spark NaN vs DuckDB version-dependent), so an empty pair set
          // after a threshold tune must compare bit-identically, not turn
          // into an oracle mismatch (ADVICE r8)
          .select(col("n_lsh"), col("n_exact"), col("n_both"),
                  when(col("n_lsh") === 0, lit(null).cast("double"))
                    .otherwise(col("n_both").cast("double") /
                               col("n_lsh").cast("double"))
                    .as("lsh_precision"),
                  when(col("n_exact") === 0, lit(null).cast("double"))
                    .otherwise(col("n_both").cast("double") /
                               col("n_exact").cast("double"))
                    .as("lsh_recall"))
      },
      // the LSH estimate-pair chain and the exact-Jaccard chain share the
      // `toks` CTE (identical text in both helpers); the exact side is
      // inlined under x-prefixed names to avoid CTE collisions
      oracleSql = s"""
      WITH ${OracleXX.minhashAgreeCtes(128, 16)},
      l AS MATERIALIZED (
        SELECT id_a, id_b FROM ag WHERE agree::DOUBLE / 128 >= 0.4),
      xsh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
        FROM toks),
      xpost AS (SELECT doc_id, len(hs) AS n, unnest(hs) AS h FROM xsh),
      xpairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter,
               any_value(a.n) AS na, any_value(b.n) AS nb
        FROM xpost a JOIN xpost b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      x AS MATERIALIZED (
        SELECT id_a, id_b FROM xpairs
        WHERE inter::DOUBLE / (na + nb - inter) >= 0.4),
      nb2 AS (SELECT count(*)::BIGINT AS n_both
              FROM l JOIN x USING (id_a, id_b))
      SELECT (SELECT count(*) FROM l)::BIGINT AS n_lsh,
             (SELECT count(*) FROM x)::BIGINT AS n_exact,
             n_both,
             CASE WHEN (SELECT count(*) FROM l) = 0 THEN NULL
                  ELSE n_both::DOUBLE / (SELECT count(*) FROM l)::DOUBLE
             END AS lsh_precision,
             CASE WHEN (SELECT count(*) FROM x) = 0 THEN NULL
                  ELSE n_both::DOUBLE / (SELECT count(*) FROM x)::DOUBLE
             END AS lsh_recall
      FROM nb2"""),
      /** LSH blocking quality as a first-class report: precision/recall of
        * the estimate-thresholded MinHash-LSH pair set against the exact
        * all-pairs Jaccard ground truth at the same threshold — the number a
        * pipeline owner needs before trusting banding parameters at scale.
        * Both relations are slim id pairs; the intersection is one equi-join;
        * the corpus is scanned once per path. */
    /** LSH S-curve calibration: recall of the banded MinHash candidates per
      * exact-Jaccard decile — the tuning report that tells WHERE the 16-band
      * sketch's recall cliff sits (theory: P[caught] = 1-(1-j^8)^16), so a
      * threshold change is informed, not guessed. The exact side runs at a
      * 0.1 floor to expose the below-threshold deciles the quality rollup
      * (`dedup_lsh_quality`) never sees. Decile = least(floor(j·10), 9) —
      * two identical IEEE ops on exact-integer inputs in both engines.
      * Diagnostic operator: the exact pair side is the expensive truth (the
      * same inverted-index join as `dedup_ngram`); run sampled at 100 TB. */
    GateQuery("dedup_lsh_recall_curve", family,
      build = (s, dir) =>
        Dedup.lshRecallCurve(t(s, dir, "documents"), "doc_id", "text",
            numHashes = 128, bands = 16, lshThreshold = 0.4, exactFloor = 0.1)
          .orderBy("decile"),
      // exact chain at the 0.1 floor keeps inter/na/nb so the decile is the
      // same two IEEE ops on exact ints; LSH membership via LEFT JOIN
      oracleSql = s"""
      WITH ${OracleXX.minhashAgreeCtes(128, 16)},
      l AS MATERIALIZED (
        SELECT id_a, id_b FROM ag WHERE agree::DOUBLE / 128 >= 0.4),
      xsh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
        FROM toks),
      xpost AS (SELECT doc_id, len(hs) AS n, unnest(hs) AS h FROM xsh),
      xpairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter,
               any_value(a.n) AS na, any_value(b.n) AS nb
        FROM xpost a JOIN xpost b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      x AS MATERIALIZED (
        SELECT id_a, id_b, inter::DOUBLE / (na + nb - inter) AS jaccard
        FROM xpairs WHERE inter::DOUBLE / (na + nb - inter) >= 0.1::DOUBLE),
      j AS (SELECT x.jaccard,
              CASE WHEN l.id_a IS NULL THEN 0 ELSE 1 END AS hit
            FROM x LEFT JOIN l ON x.id_a = l.id_a AND x.id_b = l.id_b),
      d AS (SELECT least(floor(jaccard * 10)::BIGINT, 9) AS decile,
              count(*)::BIGINT AS n_exact, sum(hit)::BIGINT AS n_caught
            FROM j GROUP BY 1)
      SELECT decile, n_exact, n_caught,
             CASE WHEN n_exact = 0 THEN NULL
                  ELSE n_caught::DOUBLE / n_exact::DOUBLE END AS recall
      FROM d ORDER BY decile"""),
    /** What did dedup actually remove? Kept-vs-dropped quality/size
      * profile per language over the `dedup_clusters` cut — the report
      * that catches a dedup pass systematically deleting the GOOD copies
      * (or all of one language). Slim (id, kept) labels join the per-doc
      * quality projection; two map-side-combinable aggregates. */
    GateQuery("dedup_impact_report", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          shingleN = 3, threshold = 0.5, maxDocFreq = Long.MaxValue)
        val labels = Dedup.connectedComponents(docs, pairs, "doc_id")
          .select(col("doc_id"),
            when(col("doc_id") === col("cluster_id"), "kept")
              .otherwise("dropped").as("fate"))
        docs.select(col("doc_id"), col("lang"),
            TF.qualityScore(col("text")).as("q"),
            size(TF.tokens(col("text"))).cast("long").as("n_toks"))
          .join(labels, "doc_id")
          .groupBy("fate", "lang")
          .agg(count(lit(1)).as("n_docs"),
               sum(col("q")).as("sum_quality"),
               expr("sum(q) DIV count(1)").as("mean_quality"),
               sum(col("n_toks")).as("n_tokens"))
          .orderBy("fate", "lang")
      },
      // clusters chain + quality replica + a deterministic (score DESC, id
      // ASC) argmax window — the keep-best representative cut
      // the clusters chain relabeled kept/dropped + the quality replica,
      // rolled up per (fate, lang)
      oracleSql = s"""
      WITH RECURSIVE ${ngramJaccardCtes(0.5)},
      jp AS MATERIALIZED (SELECT id_a, id_b FROM ok),
      e AS (SELECT id_a AS src, id_b AS dst FROM jp
            UNION SELECT id_b, id_a FROM jp),
      reach AS (
        SELECT doc_id AS id, doc_id AS r FROM documents
        UNION
        SELECT e.dst AS id, reach.r AS r FROM reach JOIN e ON e.src = reach.id),
      cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
      qc AS (
        SELECT doc_id, len($sqlToks)::BIGINT AS n_tokens,
               CASE WHEN length(text) > 0 THEN
                 floor(len(regexp_extract_all(text, '[.,;:!?]')) * 1000.0 / length(text))::BIGINT
               ELSE 0 END AS punct_pm,
               ${langScoreSql("en")} AS stop_hits
        FROM documents),
      q AS (SELECT doc_id, n_tokens,
               (least(n_tokens, 200) * 2 +
                CASE WHEN punct_pm <= 80 THEN 300 ELSE 100 END +
                least(stop_hits * 30, 300))::BIGINT AS score FROM qc)
      SELECT CASE WHEN c.doc_id = c.cluster_id THEN 'kept'
                  ELSE 'dropped' END AS fate,
             d.lang, count(*)::BIGINT AS n_docs,
             sum(q.score)::BIGINT AS sum_quality,
             (sum(q.score) // count(*))::BIGINT AS mean_quality,
             sum(q.n_tokens)::BIGINT AS n_tokens
      FROM cl c JOIN documents d USING (doc_id) JOIN q USING (doc_id)
      GROUP BY 1, 2 ORDER BY fate, lang"""),
    /** Memorization-risk coverage report: per source, the fraction of
      * corpus tokens sitting inside corpus-duplicated ≥10-token spans (the
      * `dedup_spans` relation) — the number that decides whether span
      * cutting is worth a pipeline stage. Integer ppm floor; spans are
      * already maximal/disjoint per doc so the sum is exact coverage. */
    GateQuery("dedup_span_coverage", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents")
        val dup = Dedup.duplicateSpans(docs, "doc_id", "text", n = 10)
          .groupBy("doc_id")
          .agg(sum(col("end_tok") - col("start_tok")).as("dup_toks"))
        docs.select(col("doc_id"), col("source"),
            size(TF.tokens(col("text"))).cast("long").as("n_toks"))
          .join(dup, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(sum(col("n_toks")).as("total_tokens"),
               sum(coalesce(col("dup_toks"), lit(0L))).as("dup_tokens"))
          .withColumn("coverage_ppm",
            expr("dup_tokens * 1000000L DIV total_tokens"))
          .orderBy("source")
      },
      // spans rolled up to per-source covered-token ppm — the
      // memorization-risk report over the same spans CTE
      oracleSql = s"""
      WITH $sqlSpanCtes,
      sl AS (SELECT doc_id, sum(end_tok - start_tok)::BIGINT AS dup_toks
             FROM spans GROUP BY 1),
      dl AS (SELECT doc_id, len(tk)::BIGINT AS n_toks FROM toks),
      j AS (SELECT d.source, dl.n_toks,
                   coalesce(sl.dup_toks, 0)::BIGINT AS dup_toks
            FROM dl JOIN documents d USING (doc_id)
                 LEFT JOIN sl USING (doc_id))
      SELECT source, sum(n_toks)::BIGINT AS total_tokens,
             sum(dup_toks)::BIGINT AS dup_tokens,
             (sum(dup_toks) * 1000000 // sum(n_toks))::BIGINT AS coverage_ppm
      FROM j GROUP BY source ORDER BY source"""),
    GateQuery("dedup_minhash_bbit", family,
      build = (s, dir) =>
        Dedup.minhashBBitPairs(t(s, dir, "documents"), "doc_id", "text")
          .orderBy("id_a", "id_b"),
      // 1-bit estimator on the same banded candidates: parity agreement
      // replayed per permutation, Ĵ = 2·agree/k − 1 (engine packs the
      // parities into two words and XOR+popcounts — same observable)
      oracleSql = s"""
      WITH ${OracleXX.minhashBandCtes(128, 16)},
      prs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                     a.sig AS siga, b.sig AS sigb
              FROM bk a CROSS JOIN guard
                   JOIN bk b ON a.band = b.band AND a.doc_id < b.doc_id),
      agp AS (SELECT id_a, id_b,
                list_aggregate(list_transform(range(0, 128), j ->
                  CASE WHEN siga[j+1] % 2 = sigb[j+1] % 2 THEN 1 ELSE 0 END),
                  'sum') AS agree
              FROM prs)
      SELECT id_a, id_b,
             (agree * 2 - 128)::DOUBLE / 128 AS est_jaccard_b1
      FROM agp WHERE (agree * 2 - 128)::DOUBLE / 128 >= 0.4
      ORDER BY id_a, id_b"""),
    GateQuery("dedup_weighted_minhash_verified", family,
      build = (s, dir) =>
        Dedup.weightedMinhashVerifiedPairs(t(s, dir, "documents"), "doc_id",
            "text", numHashes = 128, bands = 16,
            candidateThreshold = 0.3, threshold = 0.4, capWeight = 8)
          .orderBy("id_a", "id_b"),
      // sketch candidates + exact capped-weight verification
      oracleSql = s"""
      WITH ${OracleXX.weightedMinhashAgreeCtes(128, 16, capW = 8)},
      cnd AS (SELECT id_a, id_b FROM ag WHERE agree::DOUBLE / 128 >= 0.3),
      wp2 AS MATERIALIZED (
        SELECT doc_id, s, least((SELECT n FROM ndw) // dfh, 8)::BIGINT AS w
        FROM shr JOIN dfq USING (s)),
      dw AS (SELECT doc_id, sum(w)::BIGINT AS wt FROM wp2 GROUP BY 1),
      shw AS (SELECT c.id_a, c.id_b, sum(a.w)::BIGINT AS shared_w
              FROM cnd c
              JOIN wp2 a ON a.doc_id = c.id_a
              JOIN wp2 b ON b.doc_id = c.id_b AND b.s = a.s
              GROUP BY 1, 2)
      SELECT s1.id_a, s1.id_b, s1.shared_w,
             s1.shared_w::DOUBLE / (wa.wt + wb.wt - s1.shared_w)::DOUBLE
               AS wjaccard
      FROM shw s1 JOIN dw wa ON s1.id_a = wa.doc_id
                  JOIN dw wb ON s1.id_b = wb.doc_id
      WHERE s1.shared_w::DOUBLE / (wa.wt + wb.wt - s1.shared_w)::DOUBLE >= 0.4
      ORDER BY id_a, id_b"""),
    GateQuery("dedup_weighted_minhash", family,
      build = (s, dir) =>
        Dedup.weightedMinhashPairs(t(s, dir, "documents"), "doc_id", "text",
            numHashes = 128, bands = 16, threshold = 0.4, capWeight = 8)
          .orderBy("id_a", "id_b"),
      // weighted-minhash sketch: multiset expansion + the banded chain
      oracleSql = s"""
      WITH ${OracleXX.weightedMinhashAgreeCtes(128, 16, capW = 8)}
      SELECT id_a, id_b, agree::DOUBLE / 128 AS est_wjaccard
      FROM ag WHERE agree::DOUBLE / 128 >= 0.4
      ORDER BY id_a, id_b"""),
    GateQuery("dedup_weighted_jaccard", family,
      build = (s, dir) =>
        Dedup.weightedJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
            shingleN = 3, threshold = 0.5)
          .orderBy("id_a", "id_b"),
      // integer-IDF weights (N DIV df) keep every sum BIGINT/order-free;
      // the engine joins on xxhash64 of the shingle, the oracle on its
      // string — identical pairing absent a 64-bit collision
      oracleSql = s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
        FROM toks),
      posting AS (SELECT doc_id, unnest(hs) AS h FROM sh),
      nd AS (SELECT count(*)::BIGINT AS n FROM documents),
      dfreq AS (SELECT h, count(*)::BIGINT AS dfh FROM posting GROUP BY 1),
      wp AS MATERIALIZED (
        SELECT doc_id, p.h, ((SELECT n FROM nd) // dfh)::BIGINT AS w
        FROM posting p JOIN dfreq USING (h) WHERE dfh <= 1000),
      docw AS (SELECT doc_id, sum(w)::BIGINT AS wt FROM wp GROUP BY 1),
      pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    sum(a.w)::BIGINT AS shared_w
             FROM wp a JOIN wp b ON a.h = b.h AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
      SELECT pr.id_a, pr.id_b, pr.shared_w,
             pr.shared_w::DOUBLE / (wa.wt + wb.wt - pr.shared_w)::DOUBLE
               AS wjaccard
      FROM pr JOIN docw wa ON pr.id_a = wa.doc_id
              JOIN docw wb ON pr.id_b = wb.doc_id
      WHERE pr.shared_w::DOUBLE / (wa.wt + wb.wt - pr.shared_w)::DOUBLE >= 0.5
      ORDER BY id_a, id_b"""),
    /** Winnow-overlap near-dup candidates (the MOSS report) on the same
      * fingerprint chain. */
    GateQuery("dedup_winnow", family,
      build = (s, dir) =>
        Dedup.winnowOverlapPairs(t(s, dir, "documents"), "doc_id", "text",
            shingleN = 4, window = 8, minShared = 2L,
            // the oracle models the UNPRUNED join (like every dedup gate row)
            maxDocFreq = Long.MaxValue)
          .orderBy("id_a", "id_b"),
      // MOSS overlap report: distinct fingerprint sets self-joined on the
      // hash; containment = shared / min-set-size, one exact IEEE division
      oracleSql = s"""${winnowCtes()},
      st AS (SELECT DISTINCT doc_id, hash FROM sel),
      nf AS (SELECT doc_id, count(*)::BIGINT AS nf FROM st GROUP BY doc_id),
      pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS shared
             FROM st a JOIN st b ON a.hash = b.hash AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
      SELECT pr.id_a, pr.id_b, pr.shared, na.nf AS na, nb.nf AS nb,
             pr.shared::DOUBLE / least(na.nf, nb.nf)::DOUBLE AS "overlap"
      FROM pr JOIN nf na ON pr.id_a = na.doc_id
              JOIN nf nb ON pr.id_b = nb.doc_id
      WHERE pr.shared >= 2 ORDER BY pr.id_a, pr.id_b"""),
    GateQuery("dedup_ngram_survivors", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          shingleN = 3, threshold = 0.5, maxDocFreq = Long.MaxValue)
        Dedup.survivors(docs, pairs, "doc_id")
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      oracleSql = s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
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
      dups AS (
        SELECT DISTINCT id_b FROM pairs
        WHERE inter::DOUBLE / (na + nb - inter) >= 0.5)
      SELECT doc_id, lang FROM documents
      WHERE doc_id NOT IN (SELECT id_b FROM dups)
      ORDER BY doc_id"""),
    GateQuery("dedup_edit_distance", family,
      build = (s, dir) =>
        Dedup.editDistancePairs(t(s, dir, "documents"), "doc_id", "text")
          .orderBy("id_a", "id_b"),
      // oracle-budget shape (the 10 s per-oracle tripwire): candidates form
      // BEFORE any levenshtein (length band + the LOSSLESS char-histogram
      // bound — an edit moves at most two counts by one, so dist >= sum of
      // per-char count deltas / 2; pairs with delta-sum > 2*16 can never
      // reach dist <= 16), and the distance is computed ONCE per survivor.
      // First cut: 9.0 s (levenshtein in WHERE and SELECT over the full
      // length-band product); this shape: ~1 s.
      oracleSql = {
        val alphabet = ('a' to 'z') ++ ('0' to '9') :+ ' '
        val hist = alphabet
          .map(c => s"length(t) - length(replace(t, '$c', ''))")
          .mkString("[", ", ", "]")
        s"""
      WITH n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
                   lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS t
                 FROM documents),
           s AS MATERIALIZED (SELECT doc_id, t, length(t) AS l, $hist AS hg
                 FROM n WHERE length(t) <= 512),
           -- MATERIALIZED is load-bearing twice here: s so the regex
           -- normalization runs once (not per pair on both join sides),
           -- and cand so the optimizer cannot inline d and reorder the
           -- levenshtein ahead of the cheap histogram prune (measured:
           -- inlined plan 7.8 s, staged plan ~1 s for the same 181
           -- surviving candidates)
           cand AS MATERIALIZED (SELECT a.doc_id AS id_a, a.t AS ta,
                           b.doc_id AS id_b, b.t AS tb
                    FROM s a JOIN s b
                      ON a.doc_id < b.doc_id AND abs(a.l - b.l) <= 16
                    WHERE list_sum(list_transform(range(1, ${alphabet.size + 1}),
                            i -> abs(list_extract(a.hg, i) - list_extract(b.hg, i))))
                          <= 32),
           d AS (SELECT id_a, id_b, levenshtein(ta, tb)::INTEGER AS dist
                 FROM cand)
      SELECT id_a, id_b, dist FROM d WHERE dist <= 16
      ORDER BY id_a, id_b"""
      }),
    /** Transitive dup-cluster labels over the exact n-gram pair graph —
      * chains (a~b, b~c) collapse into one cluster even when a,c never
      * paired directly; the oracle computes the same closure with a DuckDB
      * recursive CTE. */
    GateQuery("dedup_clusters", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          shingleN = 3, threshold = 0.5, maxDocFreq = Long.MaxValue)
        Dedup.connectedComponents(docs, pairs, "doc_id")
          .orderBy("doc_id")
      },
      // transitive closure of the same pair graph via a recursive CTE —
      // every doc labeled with the MIN doc_id reachable through dup pairs
      oracleSql = s"""
      WITH RECURSIVE toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
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
      jp AS MATERIALIZED (
        SELECT id_a, id_b FROM pairs
        WHERE inter::DOUBLE / (na + nb - inter) >= 0.5),
      e AS (SELECT id_a AS src, id_b AS dst FROM jp
            UNION SELECT id_b, id_a FROM jp),
      reach AS (
        SELECT doc_id AS id, doc_id AS r FROM documents
        UNION
        SELECT e.dst AS id, reach.r AS r FROM reach JOIN e ON e.src = reach.id)
      SELECT id AS doc_id, min(r) AS cluster_id FROM reach
      GROUP BY id ORDER BY doc_id"""),
    /** The fuzzy-dedup pipeline production corpora actually run, end to end
      * as ONE composed query: MinHash+LSH candidate pairs → transitive
      * cluster labels (pointer-jumping connected components) → one min-id
      * survivor per cluster with its absorbed count. The oracle stacks the
      * XXH64-replica banding chain, the recursive-CTE closure, and the
      * representative cut. */
    GateQuery("dedup_fuzzy_pipeline", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
          numHashes = fuzzyHashes, bands = fuzzyBands, threshold = fuzzyThreshold)
        Dedup.clusterSurvivors(docs, pairs, "doc_id")
          .join(docs.select("doc_id", "lang", "source"), Seq("doc_id"))
          .select("doc_id", "lang", "source", "n_members")
          .orderBy("doc_id")
      },
      // fuzzy-dedup pipeline: the minhash banding/agreement chain (XXH64
      // replica, same skew guard) feeding the recursive transitive closure
      // and the min-id representative cut — the full production composition
      oracleSql = s"""
      WITH RECURSIVE ${OracleXX.minhashAgreeCtes(fuzzyHashes, fuzzyBands)},
      jp AS MATERIALIZED (
        SELECT id_a, id_b FROM ag
        WHERE agree::DOUBLE / $fuzzyHashes >= $fuzzyThreshold),
      e AS (SELECT id_a AS src, id_b AS dst FROM jp
            UNION SELECT id_b, id_a FROM jp),
      reach AS (
        SELECT doc_id AS id, doc_id AS r FROM documents
        UNION
        SELECT e.dst AS id, reach.r AS r FROM reach JOIN e ON e.src = reach.id),
      cl AS MATERIALIZED (
        SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
      m AS (SELECT cluster_id, count(*)::BIGINT AS n_members FROM cl GROUP BY 1)
      SELECT c.doc_id, d.lang, d.source, m.n_members
      FROM cl c JOIN m USING (cluster_id) JOIN documents d USING (doc_id)
      WHERE c.doc_id = c.cluster_id
      ORDER BY c.doc_id"""),
    GateQuery("dedup_spans", family,
      build = (s, dir) =>
        Dedup.duplicateSpans(t(s, dir, "documents"), "doc_id", "text", n = 10)
          .orderBy("doc_id", "start_tok"),
      // dedup_spans: the oracle groups positional 10-gram windows by their
      // STRING (the engine groups by xxhash64 of it — identical partitioning
      // of positions absent a 64-bit collision), drops each window group's
      // globally-first occurrence, and merges overlapping windows per doc
      oracleSql = s"""
      WITH $sqlSpanCtes
      SELECT doc_id, start_tok, end_tok, n_windows
      FROM spans ORDER BY doc_id, start_tok"""),
    /** Incremental (crawl-over-crawl) dedup: docs ≥ 250 are the "new batch",
      * docs < 250 the existing corpus; an incoming doc survives unless it
      * near-duplicates an existing doc or a smaller-id incoming doc. */
    GateQuery("dedup_incremental", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.incrementalSurvivors(
            incoming = docs.where(col("doc_id") >= 250),
            existing = docs.where(col("doc_id") < 250),
            "doc_id", "text",
            shingleN = 3, threshold = 0.5, maxDocFreq = Long.MaxValue)
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      // incremental dedup: same shingle/posting machinery, victims restricted
      // to the incoming half (doc_id >= 250); existing docs all have smaller
      // ids here, so "existing OR smaller incoming" collapses to b < a
      oracleSql = incrementalOracle),
    /** Incremental dedup against the PERSISTED bucketed posting index — the
      * steady-state corpus-refresh shape: the index is built once per refresh
      * (`buildPostingIndex` → `bucketMaterialize` on the shingle hash) and
      * every batch joins it with no exchange on the corpus side (PlanSpec
      * pins the shape). Same semantics and oracle as `dedup_incremental`. */
    GateQuery("dedup_incremental_indexed", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents")
        val tag = layoutTag(dir)
        val idx = graft.operators.Relational.bucketMaterialize(
          graft.operators.Dedup.buildPostingIndex(
            docs.where(col("doc_id") < 250), "doc_id", "text", shingleN = 3),
          s"graft_b_postings_$tag", "h", 8,
          s"${graft.util.Scratch.base}/graft_bucketed_$tag/postings")
        graft.operators.Dedup.incrementalSurvivorsIndexed(
            incoming = docs.where(col("doc_id") >= 250), index = idx,
            idCol = "doc_id", textCol = "text",
            shingleN = 3, threshold = 0.5, maxDocFreq = Long.MaxValue)
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      oracleSql = incrementalOracle),
    /** Crawl-ingestion dedup loop (batch twin of the streaming text loop,
      * `EpochIngest` over `IndexKind.textPostings`):
      * ordered batches, each dedup'd against the corpus ACCEPTED so far via
      * the bucketed posting index, survivors extending the index before the
      * next batch probes it. The oracle chains the same steps over string
      * shingles. */
    GateQuery("dedup_ingest", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents")
        val tag = layoutTag(dir)
        val batches = ingestBounds.map { case (lo, hi) =>
          docs.where(col("doc_id") >= lo && col("doc_id") < hi) }
        Dedup.dedupIngest(batches, "doc_id", "text",
            s"graft_b_ingest_$tag", s"${graft.util.Scratch.base}/graft_bucketed_$tag/ingest",
            buckets = 8, shingleN = 3, threshold = 0.5)
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      oracleSql = ingestOracle(ingestBounds)),
    /** Span-cut application (the Lee-2021 output): report duplicate 10-token
      * spans, then CUT them — the cleaned corpus as normalized tokens with
      * duplicate spans removed. Re-running the reporter on the cleaned text
      * finds nothing (spec-asserted in DedupSimilaritySpec). */
    GateQuery("dedup_spans_applied", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents")
        val spans = graft.operators.Dedup.duplicateSpans(
          docs, "doc_id", "text", n = 10)
        graft.operators.Dedup.applySpanCuts(docs, spans, "doc_id", "text")
          .orderBy("doc_id")
      },
      // span-cut application: the token-position complement of the spans CTE,
      // re-joined in position order — docs whose every token was cut (or that
      // had no spans) come back via the LEFT JOIN from toks
      oracleSql = s"""
      WITH $sqlSpanCtes,
      pos AS (SELECT doc_id,
                unnest(list_transform(range(1, len(tk) + 1),
                  i -> {'pos': i - 1, 't': tk[i]})) AS u
              FROM toks),
      p AS (SELECT doc_id, (u.pos)::BIGINT AS pos, u.t AS tok FROM pos),
      kept AS (SELECT p.doc_id, p.pos, p.tok FROM p
               WHERE NOT EXISTS (SELECT 1 FROM spans s
                 WHERE s.doc_id = p.doc_id
                   AND p.pos >= s.start_tok AND p.pos < s.end_tok)),
      agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                     count(*)::BIGINT AS n_tokens_kept
              FROM kept GROUP BY doc_id)
      SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
             coalesce(a.n_tokens_kept, 0)::BIGINT AS n_tokens_kept,
             (len(t.tk) - coalesce(a.n_tokens_kept, 0))::BIGINT AS n_tokens_cut
      FROM toks t LEFT JOIN agg a USING (doc_id)
      ORDER BY doc_id"""),
    /** Embedding ingest loop over the persisted bucketed LSH index
      * ([[Dedup.embedIngest]]) — ordered batches of vectors, each probed
      * against the vectors ACCEPTED so far (bucket equi-join, zero
      * index-side exchange), survivors extending the index before the next
      * batch probes it. Completes the persisted-index ingest triad:
      * text postings / modality fingerprints / embeddings. */
    GateQuery("dedup_embed_ingest", family,
      build = (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val tag = layoutTag(dir)
        val batches = embedIngestBounds.map { case (lo, hi) =>
          emb.where(col("vec_id") >= lo && col("vec_id") < hi)
            .select(col("vec_id").as("id"), col("embedding").as("vec")) }
        Dedup.embedIngest(batches, s"graft_b_embingest_$tag",
            s"${graft.util.Scratch.base}/graft_bucketed_$tag/embingest",
            buckets = 8, threshold = 0.25)
          .select(col("id").as("vec_id"))
          .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
          .orderBy("vec_id")
      },
      oracleSql = embedIngestOracle(embedIngestBounds, threshold = 0.25)),
    /** The production ingest configuration: df pruning on (maxDocFreq = 3
      * bites at this corpus's boilerplate shingles) with a compaction after
      * every append so each batch prunes against GLOBAL document
      * frequencies, never stale batch-local ones. */
    GateQuery("dedup_ingest_compacted", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents")
        val tag = layoutTag(dir)
        val batches = ingestBounds.map { case (lo, hi) =>
          docs.where(col("doc_id") >= lo && col("doc_id") < hi) }
        Dedup.dedupIngestCompacted(batches, "doc_id", "text",
            s"graft_b_ingestc_$tag", s"${graft.util.Scratch.base}/graft_bucketed_$tag/ingestc",
            buckets = 8, shingleN = 3, threshold = 0.5, maxDocFreq = 3L)
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      oracleSql = ingestPrunedOracle(ingestBounds, maxDF = 3L))
  )

  private def ngramJaccardOracle(threshold: Double): String = s"""
      WITH ${ngramJaccardCtes(threshold)}
      SELECT id_a, id_b, jaccard FROM ok ORDER BY id_a, id_b"""

  /** Shared CTE chain producing `spans(doc_id, start_tok, end_tok,
    * n_windows)` — the DuckDB replica of `Dedup.duplicateSpans` (positional
    * 10-gram windows grouped by their STRING where the engine groups by
    * xxhash64 of it — identical partitioning of positions absent a 64-bit
    * collision; each group's globally-first occurrence kept, the rest
    * merged into maximal spans). Used by the `dedup_spans` report oracle
    * and the `dedup_spans_applied` cut oracle. */
  private lazy val sqlSpanCtes = s"""toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      ge AS (SELECT doc_id,
               unnest(list_transform(range(1, len(tk) - 8),
                 i -> {'pos': i - 1,
                       'g': array_to_string(list_slice(tk, i, i + 9), ' ')})) AS u
             FROM toks WHERE len(tk) >= 10),
      grams AS (SELECT doc_id, (u.pos)::BIGINT AS pos, u.g AS g FROM ge),
      rk AS (SELECT doc_id, pos,
               row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
               count(*) OVER (PARTITION BY g) AS cnt
             FROM grams),
      dup AS (SELECT doc_id, pos FROM rk WHERE cnt > 1 AND rn > 1),
      fl AS (SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 10
                    THEN 1 ELSE 0 END AS brk
             FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      gr AS (SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
             FROM fl),
      spans AS (SELECT doc_id, min(pos)::BIGINT AS start_tok,
                       (max(pos) + 10)::BIGINT AS end_tok,
                       count(*)::BIGINT AS n_windows
                FROM gr GROUP BY doc_id, gid)"""

  /** DuckDB replica of `Dedup.semanticSurvivors` with literal centroids:
    * nearest-centroid assignment uses the same FLOAT-subtract/multiply +
    * DOUBLE-accumulate arithmetic as the engine kernel (validated by
    * `sim_ivf_verified`), then the within-cluster cosine prune and the
    * greedy drop-larger-id rule. The guard errors if any cluster exceeds
    * the engine's skew cap — beyond it the engine's star-pairing keeps
    * survivor semantics but the oracle's all-pairs join would diverge. */
  private def semanticOracle(cents: Array[Array[Float]], threshold: Double,
                             maxClusterSize: Long, dim: Int = 64): String = {
    val cLit = cents.map(_.map(f => s"$f::FLOAT").mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")
    val nc = cents.length
    // the centroid literal is hoisted into a one-row MATERIALIZED CTE and
    // referenced as a column — inlining it at every [i+1][j] access makes
    // DuckDB rebuild the 16×64 nested list per element (measured: 236s vs
    // 0.4s for the identical result at sf0.01)
    val assign =
      s"""list_extract(list_transform(list_slice(list_sort(list_transform(range(0, $nc), i ->
            {'d': list_aggregate(list_transform(range(1, ${dim + 1}),
                    j -> ((f[j] - cc[i + 1][j]) * (f[j] - cc[i + 1][j]))::DOUBLE),
                  'sum'),
             'i': i})), 1, 1), s -> s.i), 1)"""
    s"""
      WITH cents AS MATERIALIZED (SELECT $cLit AS cc),
      e AS (SELECT vec_id, embedding AS f, embedding::DOUBLE[] AS v FROM embeddings),
      cb AS MATERIALIZED (SELECT vec_id, v, ($assign)::BIGINT AS cluster
                          FROM e CROSS JOIN cents),
      guard AS (SELECT CASE WHEN (SELECT max(c) FROM
                  (SELECT count(*) AS c FROM cb GROUP BY cluster)) > $maxClusterSize
                THEN error('semantic oracle models the UNCAPPED cluster join; a cluster exceeds the engine skew cap ($maxClusterSize) so outputs would diverge')
                ELSE 1 END AS ok),
      dups AS (SELECT DISTINCT b.vec_id
               FROM cb a JOIN cb b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
               WHERE list_cosine_similarity(a.v, b.v) >= $threshold)
      SELECT cb.vec_id, cb.cluster FROM cb CROSS JOIN guard
      WHERE cb.vec_id NOT IN (SELECT vec_id FROM dups)
      ORDER BY vec_id"""
  }

  /** [[ingestOracle]] with df pruning replayed: at step i a shingle
    * participates in candidate generation only when its batch-side df plus
    * its GLOBAL accepted-corpus df (what compaction guarantees the index
    * carries) is ≤ maxDocFreq; intersections count only surviving
    * shingles, jaccard denominators keep the FULL set sizes — exactly
    * `incrementalSurvivorsIndexed`'s semantics. */
  private def ingestPrunedOracle(bounds: Seq[(Long, Long)], maxDF: Long): String = {
    val steps = bounds.zipWithIndex.map { case ((lo, hi), i0) =>
      val i = i0 + 1
      s"""dfc$i AS MATERIALIZED (
        SELECT h, count(*)::BIGINT AS dfc FROM posting
        WHERE doc_id IN (SELECT doc_id FROM acc${i - 1}) GROUP BY h),
      dfb$i AS MATERIALIZED (
        SELECT h, count(*)::BIGINT AS dfb FROM posting
        WHERE doc_id >= $lo AND doc_id < $hi GROUP BY h),
      cpairs$i AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter,
               any_value(a.n) AS na, any_value(b.n) AS nb
        FROM posting a JOIN posting b ON a.h = b.h
        JOIN dfb$i fb ON fb.h = a.h
        JOIN dfc$i fc ON fc.h = a.h
        WHERE a.doc_id >= $lo AND a.doc_id < $hi
          AND b.doc_id IN (SELECT doc_id FROM acc${i - 1})
          AND fb.dfb + fc.dfc <= $maxDF
        GROUP BY 1, 2),
      ipairs$i AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter,
               any_value(a.n) AS na, any_value(b.n) AS nb
        FROM posting a JOIN posting b ON a.h = b.h
        JOIN dfb$i fb ON fb.h = a.h
        LEFT JOIN dfc$i fc ON fc.h = a.h
        WHERE a.doc_id >= $lo AND a.doc_id < $hi
          AND b.doc_id >= $lo AND b.doc_id < $hi AND b.doc_id < a.doc_id
          AND fb.dfb + coalesce(fc.dfc, 0) <= $maxDF
        GROUP BY 1, 2),
      drop$i AS (
        SELECT DISTINCT id_a AS doc_id FROM (
          SELECT * FROM cpairs$i UNION ALL SELECT * FROM ipairs$i)
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

  /** Survivors of the incremental dedup: `dedup_incremental`, and its
    * indexed twin `dedup_incremental_indexed`, which computes the same
    * answer through a persisted bucketed posting index (the production
    * steady-state path) — one oracle text, two engine paths. */
  private lazy val incrementalOracle = s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
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
        FROM posting a JOIN posting b
          ON a.h = b.h AND a.doc_id >= 250 AND b.doc_id < a.doc_id
        GROUP BY 1, 2),
      dropped AS (
        SELECT DISTINCT id_a FROM pairs
        WHERE inter::DOUBLE / (na + nb - inter) >= 0.5)
      SELECT doc_id, lang FROM documents
      WHERE doc_id >= 250 AND doc_id NOT IN (SELECT id_a FROM dropped)
      ORDER BY doc_id"""
}
