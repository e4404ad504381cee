package graft.operators

import graft.util.Materialize
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`ARRAY<FLOAT>`). Two paths:
  *
  *  - `bruteForceTopK` — exact cosine top-k. The query side is
  *    `broadcast()`: the corpus (the 100 TB side) streams through one
  *    narrow stage, never shuffles; ranking shuffles only
  *    (n_queries × k-bounded) candidate rows per scan partition, because
  *    Catalyst plans the `row_number <= k` filter as a PARTIAL
  *    `WindowGroupLimit` BELOW the exchange (map-side top-k prune —
  *    pinned in PlanSpec, not assumed). This is the correctness baseline
  *    the approximate paths are judged against.
  *  - `lshTopK` — random-hyperplane (SimHash-for-vectors) bucketing; only
  *    bucket-mates are scored. At scale this is the path: candidate
  *    generation is an equi-join on bucket id; recall is tuned with
  *    `bits` (bucket granularity) and `probes` (multi-probe: flip 1 bit).
  *
  * Hyperplanes are generated from a fixed splitmix64 seed so bucket ids are
  * deterministic across runs and executors (no `Math.random` anywhere).
  */
object Similarity {

  /** Deterministic pseudo-random hyperplane matrix: `bits` rows × `dim`. */
  def hyperplanes(bits: Int, dim: Int, seed: Long = 7L): Array[Array[Double]] = {
    val next = graft.util.SplitMix64.generator(seed)
    Array.fill(bits, dim)((next().toDouble / Long.MaxValue)) // uniform [-1,1]
  }

  /** Bucket id = sign bits of the `bits` hyperplane dot products:
    * Σ 2^i · [h_i·v > 0]. Expressed with higher-order functions over a
    * literal hyperplane matrix — the plan is O(1) nodes regardless of
    * bits×dim (an earlier unrolled form produced 512-node trees and
    * megabyte task binaries). */
  def hyperplaneBucket(vec: Column, bits: Int = 8, dim: Int = 64,
                       seed: Long = 7L): Column = {
    val hp = hyperplanes(bits, dim, seed)
    val hpCol = array(hp.map(row => array(row.map(lit(_)): _*)): _*) // bits × dim
    val bucket = aggregate(
      zip_with(hpCol, sequence(lit(0), lit(bits - 1)), (row, i) =>
        when(aggregate(zip_with(vec, row, (x, h) => x * h), lit(0.0d), _ + _) > 0,
             call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), _ + _)
    // zip_with null-pads a length mismatch, the null dot product falls
    // into otherwise(0), and EVERY row lands in bucket 0 — the "LSH" join
    // silently degenerates to a cross product. Fail loudly instead.
    when(size(vec) === dim, bucket).otherwise(raise_error(concat(
      lit(s"hyperplaneBucket: vector length "), size(vec).cast("string"),
      lit(s" != dim $dim"))))
  }

  /** Exact top-k cosine neighbors for each query vector.
    * `queries`: (qid, vec); `corpus`: (id, vec). Output: qid, id, cosine,
    * rank. Broadcast-joins the (small) query side against the corpus. */
  def bruteForceTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                     queries: DataFrame, queryId: String, queryVec: String,
                     k: Int = 10): DataFrame = {
    val scored = corpus.select(col(corpusId).as("id"), col(corpusVec).as("cvec"))
      .join(broadcast(queries.select(col(queryId).as("qid"), col(queryVec).as("qvec"))))
      .select(col("qid"), col("id"), VF.cosineSim(col("cvec"), col("qvec")).as("cosine"))
      .where(col("qid") =!= col("id"))
    // rank: deterministic tie-break on id
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** LSH-bucketed approximate top-k: score only bucket-mates (with 1-bit
    * multi-probe when `probes > 0` to recover near-boundary neighbors). */
  def lshTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int = 10, bits: Int = 8, dim: Int = 64,
              probes: Int = 1): DataFrame = {
    val c = corpus.select(col(corpusId).as("id"), col(corpusVec).as("cvec"))
      .withColumn("bucket", hyperplaneBucket(col("cvec"), bits, dim))
    val qBase = queries.select(col(queryId).as("qid"), col(queryVec).as("qvec"))
      .withColumn("bucket0", hyperplaneBucket(col("qvec"), bits, dim))
    // multi-probe: original bucket + the `probes` single-bit flips
    val probeBuckets = array((0 to math.min(probes, bits)).map {
      case 0 => col("bucket0")
      case i => col("bucket0").bitwiseXOR(lit(1L << (i - 1)))
    }: _*)
    val q = qBase.withColumn("bucket", explode(probeBuckets)).drop("bucket0")
    val scored = c.join(broadcast(q), Seq("bucket"))
      .select(col("qid"), col("id"), VF.cosineSim(col("cvec"), col("qvec")).as("cosine"))
      .where(col("qid") =!= col("id"))
      .dropDuplicates("qid", "id")
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Matryoshka (MRL-style) two-stage retrieval: candidates are ranked by
    * cosine over only the FIRST `prefixDims` dimensions — MRL-trained
    * embeddings front-load information, so the truncated comparison costs
    * `prefixDims/dim` of the memory bandwidth and arithmetic of a full
    * scan — then the `candK` best per query are reranked with full-dim
    * exact cosine to the final `k`. No renormalization is needed anywhere:
    * cosine divides by the norms of exactly the slices being compared.
    *
    * Output: qid, id, cosine (full-dim), prefix_cosine, rank.
    *
    * Scale: the corpus streams through one narrow stage (queries are
    * broadcast); the prefix ranking shuffles candK-bounded rows per scan
    * partition because the `row_number <= candK` filter plans as a partial
    * map-side WindowGroupLimit (pinned in PlanSpec). Full vectors are NOT
    * carried through that shuffle — the rerank re-joins the corpus on the
    * candidate ids, a (queries × candK)-sized equi-join. */
  def matryoshkaTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                     queries: DataFrame, queryId: String, queryVec: String,
                     prefixDims: Int, k: Int = 10, candK: Int = 30): DataFrame = {
    require(prefixDims > 0, s"prefixDims must be > 0, got $prefixDims")
    require(candK >= k, s"candK=$candK must be >= k=$k")
    val c = corpus.select(col(corpusId).as("id"), col(corpusVec).as("cvec"))
    val q = queries.select(col(queryId).as("qid"), col(queryVec).as("qvec"))
    val pre = c
      .join(broadcast(q))
      .where(col("qid") =!= col("id"))
      .select(col("qid"), col("id"),
        VF.cosineSim(slice(col("cvec"), 1, prefixDims),
                     slice(col("qvec"), 1, prefixDims)).as("prefix_cosine"))
    val wPre = Window.partitionBy(col("qid"))
      .orderBy(col("prefix_cosine").desc, col("id").asc)
    val cands = pre.withColumn("prank", row_number().over(wPre))
      .where(col("prank") <= candK)
      .drop("prank")
    // 100×-scale shape of the rerank: the candidate set is bounded by
    // construction (|queries| × candK rows of slim (qid, id, score)), so it
    // is ALWAYS the broadcast side — the full-vector corpus must be probed
    // in place, never hash-repartitioned by id for a sort-merge join
    // (pinned in PlanSpec: no `Exchange hashpartitioning(id` in the plan).
    val reranked = broadcast(cands)
      .join(c, Seq("id"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("id"),
              VF.cosineSim(col("cvec"), col("qvec")).as("cosine"),
              col("prefix_cosine"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("id").asc)
    reranked.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** 1-bit (sign) binary quantization: the vector's sign pattern packed
    * into `dim/32` BIGINT words (bit i of word w set iff component
    * `32w + i` is > 0). 32 bits per word — not 63 — keeps every word
    * positive and well inside BIGINT in BOTH engines (a 1L << 63 sign
    * bit is engine-dependent territory). Length-mismatched vectors fail
    * loudly (same contract as [[hyperplaneBucket]]). */
  def binarySignCode(vec: Column, dim: Int): Column = {
    require(dim > 0 && dim % 32 == 0, s"dim must be a multiple of 32, got $dim")
    val packed = transform(sequence(lit(0), lit(dim / 32 - 1)), w =>
      aggregate(sequence(lit(0), lit(31)), lit(0L), (acc, i) =>
        acc + when(element_at(vec, (w * 32 + i + 1).cast("int")) > 0f,
                   call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))))
    when(size(vec) === dim, packed).otherwise(raise_error(concat(
      lit(s"binarySignCode: vector length "), size(vec).cast("string"),
      lit(s" != dim $dim"))))
  }

  /** Hamming-space retrieval over 1-bit sign codes with exact-cosine
    * rerank — the 32×-compression ANN path (a 64-dim float vector becomes
    * 8 bytes): candidates are the `candK` nearest corpus codes by Hamming
    * distance (XOR + popcount per word, ties to the smaller id), then
    * reranked with full-precision cosine to the final `k`. Sign codes
    * approximate angular distance (the SimHash bound: P[bit differs] =
    * θ/π per *random* hyperplane; raw sign bits are the standard cheap
    * variant), so Hamming ranking is a cosine-ranking sketch.
    *
    * Output: qid, id, cosine (exact), hamming, rank.
    *
    * Scale shape — the point of the operator: the Hamming scan reads ONLY
    * the packed (id, code) projection (dim/32 longs per row, no float
    * vectors), queries are broadcast, and the `row_number <= candK` cut
    * plans as a map-side partial WindowGroupLimit so the rank shuffle
    * carries candK-bounded slim rows per partition. Full vectors enter
    * only in the rerank, via a broadcast of the (queries × candK)
    * candidate-id set probing the corpus in place — the matryoshka rerank
    * contract (no corpus-side Exchange; pinned in PlanSpec). */
  def hammingTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                  queries: DataFrame, queryId: String, queryVec: String,
                  dim: Int, k: Int = 10, candK: Int = 30): DataFrame = {
    require(candK >= k, s"candK=$candK must be >= k=$k")
    val c = corpus.select(col(corpusId).as("id"), col(corpusVec).as("cvec"))
    val codes = c.select(col("id"), binarySignCode(col("cvec"), dim).as("code"))
    val q = queries.select(col(queryId).as("qid"), col(queryVec).as("qvec"))
    val qCodes = q.select(col("qid"),
      binarySignCode(col("qvec"), dim).as("qcode"))
    val ham = codes
      .join(broadcast(qCodes))
      .where(col("qid") =!= col("id"))
      .select(col("qid"), col("id"),
        aggregate(zip_with(col("code"), col("qcode"),
            (a, b) => bit_count(a.bitwiseXOR(b)).cast("long")),
          lit(0L), _ + _).as("hamming"))
    val wH = Window.partitionBy(col("qid"))
      .orderBy(col("hamming").asc, col("id").asc)
    val cands = ham.withColumn("hrank", row_number().over(wH))
      .where(col("hrank") <= candK)
      .drop("hrank")
    val reranked = broadcast(cands)
      .join(c, Seq("id"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("id"),
        VF.cosineSim(col("cvec"), col("qvec")).as("cosine"), col("hamming"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("id").asc)
    reranked.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Metadata-filtered top-k — the "filtered vector search" every serving
    * stack needs (search only docs matching the query's tenant/language/
    * label): exact cosine top-k restricted to corpus rows whose filter
    * column equals the query's. Pre-filtering (filter, then rank) is the
    * correct semantics — post-filtering a global top-k silently returns
    * FEWER than k when the filter is selective, the classic vector-DB
    * footgun this operator exists to avoid.
    *
    * Scale shape: same contract as [[bruteForceTopK]] — queries broadcast,
    * the corpus streams through one narrow scoring stage with the filter
    * applied BEFORE any ranking (the equality lands in the scan filter),
    * and the per-query rank shuffles only k-bounded rows per partition
    * via the map-side partial WindowGroupLimit. An IVF variant would
    * bucket within filter groups; the exact path is the correctness
    * baseline and the right choice when filters are selective. */
  def filteredTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                   filterCol: String,
                   queries: DataFrame, queryId: String, queryVec: String,
                   queryFilter: String, k: Int = 10): DataFrame = {
    val scored = corpus.select(col(corpusId).as("id"), col(corpusVec).as("cvec"),
        col(filterCol).as("fv"))
      .join(broadcast(queries.select(col(queryId).as("qid"),
        col(queryVec).as("qvec"), col(queryFilter).as("qf"))),
        col("fv") === col("qf"))
      .where(col("qid") =!= col("id"))
      .select(col("qid"), col("fv").as("filter_value"), col("id"),
        VF.cosineSim(col("cvec"), col("qvec")).as("cosine"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive training: per query, the top-k
    * highest-cosine corpus items that are NOT labeled positives (and not
    * the query itself) — the negatives that actually move an InfoNCE/
    * triplet loss. `positives` carries (`qid`, `id`) label pairs.
    *
    * Scale shape: the corpus streams through one scoring stage (queries
    * broadcast); the positive-label set is broadcast for the anti-join
    * (training labels are queries × few rows); the rank shuffles only
    * k-bounded rows per scan partition via the partial WindowGroupLimit —
    * the whole mine is one corpus pass. */
  def hardNegatives(corpus: DataFrame, corpusId: String, corpusVec: String,
                    queries: DataFrame, queryId: String, queryVec: String,
                    positives: DataFrame, k: Int = 10): DataFrame = {
    require(positives.columns.contains("qid") && positives.columns.contains("id"),
      s"positives must carry (qid, id), got ${positives.columns.mkString(",")}")
    val scored = corpus.select(col(corpusId).as("id"), col(corpusVec).as("cvec"))
      .join(broadcast(queries.select(col(queryId).as("qid"), col(queryVec).as("qvec"))))
      .where(col("qid") =!= col("id"))
      .join(broadcast(positives.select(col("qid"), col("id")).distinct()),
            Seq("qid", "id"), "left_anti")
      .select(col("qid"), col("id"), VF.cosineSim(col("cvec"), col("qvec")).as("cosine"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Deterministic mini k-means (Lloyd) on a driver-side sample — the IVF
    * coarse quantizer trainer. Sample = first `sampleN` rows by id
    * (deterministic), init = evenly-strided sample points, `iters`
    * iterations. k is small (≤ a few hundred), so driver training is the
    * right altitude: the expensive part — assigning the 100 TB corpus —
    * stays distributed and codegen'd (see `NearestCentroids`). */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                     k: Int, iters: Int = 5, sampleN: Int = 2048)
      : Array[Array[Float]] = {
    val sample = corpus.orderBy(col(idCol)).limit(sampleN)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "empty corpus")
    val dim = sample.head.length
    var cents = Array.tabulate(math.min(k, sample.length))(i =>
      sample((i.toLong * sample.length / math.min(k, sample.length)).toInt).clone())
    (0 until iters).foreach { _ =>
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        cents.indices.foreach { c =>
          var d = 0.0; var i = 0
          while (i < dim) { val t = v(i) - cents(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(dim)(i => (sums(c)(i) / counts(c)).toFloat)
      }.toArray
    }
    cents
  }

  /** Deterministic pseudo-random centroids (splitmix64, values in [-1,1]) —
    * an untrained coarse quantizer. Worse cell balance than k-means but
    * fully determined by (k, dim, seed), which makes the whole IVF pipeline
    * expressible in an external oracle (the gate replicates assignment +
    * probing in DuckDB SQL with these exact constants). */
  def fixedCentroids(k: Int, dim: Int, seed: Long = 11L): Array[Array[Float]] = {
    val d = hyperplanes(k, dim, seed) // same deterministic generator
    d.map(_.map(_.toFloat))
  }

  /** IVF approximate top-k: corpus rows are bucketed by nearest centroid
    * (one narrow codegen'd pass); each query probes its `nProbe` nearest
    * cells. Candidate generation is an equi-join on cluster id — at scale
    * the corpus side can additionally be partitioned/bucketed by cluster
    * so repeated query batches co-locate. `centroidsOverride` substitutes a
    * fixed centroid set for the trained one (see [[fixedCentroids]]). */
  /** The IVF probe skeleton both retrieval modes share: assignment pass
    * over the corpus, broadcast queries exploded to their `nProbe` nearest
    * cells, equi-join on cell id, exact cosine, self-hit filter, candidate
    * dedup. Top-k adds a rank window on top; range search a threshold
    * filter — the ONLY divergence (mirrored by the oracle's shared
    * `ivfReplicaCtes`). */
  private def ivfScoredCandidates(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      nCentroids: Int, nProbe: Int, iters: Int,
      centroidsOverride: Option[Array[Array[Float]]]): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val cents = centroidsOverride.getOrElse(
      trainCentroids(corpus, corpusId, corpusVec, nCentroids, iters))
    def nearest(c: Column, probes: Int): Column =
      column(graft.functions.NearestCentroids(expression(c), cents, probes))
    val bucketed = corpus.select(col(corpusId).as("id"), col(corpusVec).as("cvec"))
      .withColumn("cluster", element_at(nearest(col("cvec"), 1), 1))
    val q = queries.select(col(queryId).as("qid"), col(queryVec).as("qvec"))
      .withColumn("cluster", explode(nearest(col("qvec"), nProbe)))
    bucketed.join(broadcast(q), Seq("cluster"))
      .select(col("qid"), col("id"), VF.cosineSim(col("cvec"), col("qvec")).as("cosine"))
      .where(col("qid") =!= col("id"))
      .dropDuplicates("qid", "id")
  }

  def ivfTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int = 10, nCentroids: Int = 16, nProbe: Int = 4,
              iters: Int = 5,
              centroidsOverride: Option[Array[Array[Float]]] = None): DataFrame = {
    val scored = ivfScoredCandidates(corpus, corpusId, corpusVec,
      queries, queryId, queryVec, nCentroids, nProbe, iters, centroidsOverride)
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** The PERSISTED IVF corpus index consumed by [[ivfTopKIndexed]] — the
    * similarity analog of `Dedup.buildPostingIndex`: one row per corpus
    * vector `(id, cvec, cluster)` with its nearest-centroid cell id baked
    * in. Built ONCE per corpus refresh and persisted bucketed on `cluster`
    * (`Relational.bucketMaterialize(idx, table, "cluster", buckets,
    * path)`), so every subsequent query batch probes it WITHOUT re-running
    * the O(n·k·dim) assignment pass over the corpus — at 100 TB the
    * assignment is by far the dominant per-batch cost of the non-indexed
    * path, and it is pure recomputation of a corpus-refresh-constant. */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    cents: Array[Array[Float]]): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    corpus.select(col(idCol).as("id"), col(vecCol).as("cvec"))
      .withColumn("cluster", element_at(
        column(graft.functions.NearestCentroids(expression(col("cvec")), cents, 1)), 1))
  }

  /** [[ivfTopK]] against the persisted index — the steady-state
    * query-serving shape: the per-batch plan reads cluster ids from the
    * bucketed table (NO NearestCentroids over the corpus, no exchange on
    * the index side — the queries broadcast), computes exact cosine on the
    * probed cells, and ranks per query. Only slim `(qid, id, cosine)`
    * candidate rows cross the rank shuffle; corpus vectors never leave
    * their scan. No candidate-dedup shuffle is needed: each corpus id
    * lives in exactly one cell and a query's probe list is distinct cells,
    * so a `(qid, id)` pair meets at most once. `cents` must be the SAME
    * centroid set the index was built with (the probe side's cell ids must
    * mean the same thing — pass the corpus-refresh artifact, not a
    * retrained set). */
  def ivfTopKIndexed(index: DataFrame, queries: DataFrame,
                     queryId: String, queryVec: String,
                     cents: Array[Array[Float]],
                     k: Int = 10, nProbe: Int = 4): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val q = queries.select(col(queryId).as("qid"), col(queryVec).as("qvec"))
      .withColumn("cluster", explode(
        column(graft.functions.NearestCentroids(expression(col("qvec")), cents, nProbe))))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("id").asc)
    index.join(broadcast(q), Seq("cluster"))
      .select(col("qid"), col("id"),
        VF.cosineSim(col("cvec"), col("qvec")).as("cosine"))
      .where(col("qid") =!= col("id"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** All-nodes approximate k-NN GRAPH over the corpus itself — the input
    * to SemDeDup-style clustering, graph-based dedup, kNN-LM retrieval and
    * embedding-space QA. Unlike the query-based retrieval paths, BOTH
    * sides of the candidate join are the full corpus, so nothing may be
    * broadcast: every vector is assigned to its nearest cell in one
    * codegen'd pass (build side), probe-replicated to its `nProbe` nearest
    * cells (probe side), and candidates meet in a cell-id equi-join pinned
    * to sort-merge — at 100 TB the cell id IS the natural partitioning,
    * each side shuffles once on it, and AQE splits any skewed cell. A
    * (src, dst) pair meets at most once (the build side assigns each dst
    * to exactly ONE cell, and a probe list holds distinct cells), so no
    * dedup shuffle is needed; exact cosine + per-src top-k (partial
    * WindowGroupLimit bounds the rank shuffle to k rows per partition).
    * Self-edges are excluded. Output: src, dst, cosine, rank. */
  /** Skew guard: within-cell candidate cost is QUADRATIC in cell size, so
    * one hot cell dominates the whole graph build — measured: 10× corpus
    * under 160 UNTRAINED random centroids ran 147× slower (394 s), because
    * random centroids in 64-dim leave most vectors in a few cells, while
    * the same corpus under a trained quantizer scales linearly. The
    * defense is twofold: (a) size `nCentroids` ∝ corpus and TRAIN the
    * quantizer (balanced cells are the IVF contract — don't ship
    * `fixedCentroids` beyond oracle scale); (b) `maxCellSize` hard-caps
    * the build side of any cell that's hot anyway, keeping a
    * deterministic hash-ordered subset (bounded recall loss on polluted
    * cells only — the same trade as the dedup family's bucket caps). The
    * cap never fires at gate scale, so the oracle stays exact. */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String,
               k: Int = 5, nCentroids: Int = 16, nProbe: Int = 4,
               iters: Int = 5,
               centroidsOverride: Option[Array[Array[Float]]] = None,
               maxCellSize: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val cents = centroidsOverride.getOrElse(
      trainCentroids(corpus, idCol, vecCol, nCentroids, iters))
    def nearest(c: Column, probes: Int): Column =
      column(graft.functions.NearestCentroids(expression(c), cents, probes))
    val wCell = Window.partitionBy(col("cluster")).orderBy(xxhash64(col("dst")))
    val bucketed = corpus.select(col(idCol).as("dst"), col(vecCol).as("cvec"))
      .withColumn("cluster", element_at(nearest(col("cvec"), 1), 1))
      .withColumn("__crn", row_number().over(wCell))
      .where(col("__crn") <= maxCellSize).drop("__crn")
    val probes = corpus.select(col(idCol).as("src"), col(vecCol).as("qvec"))
      .withColumn("cluster", explode(nearest(col("qvec"), nProbe)))
    val scored = probes.join(bucketed.hint("merge"), Seq("cluster"))
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        VF.cosineSim(col("cvec"), col("qvec")).as("cosine"))
    val w = Window.partitionBy(col("src")).orderBy(col("cosine").desc, col("dst").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Epsilon-ball (RANGE) similarity search over the IVF index: every
    * corpus vector with `cosine ≥ minCosine` of each query — the other
    * retrieval primitive beside top-k ("find EVERYTHING similar", the
    * shape behind near-dup candidate pulls and contamination sweeps, where
    * the hit count is data-dependent and a k cutoff would truncate it).
    * Same scale skeleton as [[ivfTopK]]: one narrow assignment pass over
    * the corpus, queries broadcast with their `nProbe` nearest cells, an
    * equi-join on cell id — but NO window: the threshold is a plain filter
    * pushed below any exchange, so the operator never sorts per query and
    * the output needs no WindowGroupLimit. Recall is the IVF contract
    * (bounded by the probed cells); raise `nProbe` toward `nCentroids`
    * for exhaustive range search. */
  def ivfRangeSearch(corpus: DataFrame, corpusId: String, corpusVec: String,
                     queries: DataFrame, queryId: String, queryVec: String,
                     minCosine: Double, nCentroids: Int = 16, nProbe: Int = 4,
                     iters: Int = 5,
                     centroidsOverride: Option[Array[Array[Float]]] = None): DataFrame =
    ivfScoredCandidates(corpus, corpusId, corpusVec,
      queries, queryId, queryVec, nCentroids, nProbe, iters, centroidsOverride)
      .where(col("cosine") >= minCosine)

  /** DISTRIBUTED Lloyd k-means over integer-quantized embeddings — the
    * corpus-scale clustering pass (SemDeDup's prerequisite, IVF training at
    * full data): unlike [[trainCentroids]] (a bounded driver sample), every
    * iteration's assignment AND centroid update run over the whole corpus.
    *
    * Why integer quantization: a float centroid mean is an order-dependent
    * reduction — no cross-engine (or even re-run, under AQE re-partitioning)
    * bit-stability. Quantizing each coordinate to `floor(x · 2^10)` (the
    * multiplier is a power of two, so the product is EXACT in double; float
    * → double widening is exact; floor is exact) makes every distance a
    * BIGINT and every centroid update a `floorDiv(sum, count)` of BIGINTs —
    * order-free, engine-exact, so the full iterative pipeline (init →
    * iters × (assign, update) → final assignment) is replayed bit-equally
    * by the DuckDB oracle. Production k-means quantizes anyway (PQ/IVF);
    * here the quantization is also the determinism contract.
    *
    * Scale shape: per iteration one narrow codegen'd assignment pass
    * (centroid matrix rides as a plan literal, O(k·dim) per row) and one
    * `(cluster, pos)` aggregation whose map-side partial sums bound the
    * shuffle to `k·dim` rows per task; the driver holds only the k×dim
    * centroid table (the bounded-collect contract). Init = the k smallest
    * ids' vectors (deterministic, no RNG). Empty clusters keep their
    * previous centroid. Ties (equal distance) assign the lowest cluster
    * index on both engines. */
  def kmeansAssign(corpus: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int = 3, dim: Int = 64): DataFrame = Materialize.scope {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val QuantScale = 1024L // 2^10: exact in double for |x| < 2^42
    // both guards fail LOUDLY: a null/NaN element would quantize to a null
    // coordinate, null out every distance, and the null cluster would
    // unbox to 0 in the update collect — silently poisoning cluster 0's
    // centroid (and diverging from the oracle)
    val quant = when(size(col(vecCol)) =!= dim, raise_error(concat(
        lit("kmeansAssign: vector length "), size(col(vecCol)).cast("string"),
        lit(s" != dim $dim"))))
      .when(exists(col(vecCol), x => x.isNull || isnan(x)),
        raise_error(lit("kmeansAssign: embedding contains null or NaN")))
      .otherwise(transform(col(vecCol), x =>
        floor(x.cast("double") * QuantScale).cast("long")))
    val qBase = corpus.select(col(idCol), quant.as("qv"))
    val q = Materialize.persist(qBase)
    def distsCol(cents: Array[Array[Long]]): Column = {
      val cLit = array(cents.map(cv => array(cv.map(lit): _*)): _*)
      transform(cLit, cv => aggregate(
        zip_with(col("qv"), cv, (x, y) => (x - y) * (x - y)), lit(0L), _ + _))
    }
    // init: the k smallest ids' quantized vectors, cluster = rank order
    var cents: Array[Array[Long]] = q.orderBy(col(idCol)).limit(k)
      .select(col("qv")).collect().map(_.getSeq[Long](0).toArray)
    require(cents.nonEmpty, "empty corpus")
    (0 until iters).foreach { _ =>
      // the O(k·dim) distance array is projected ONCE behind an alias —
      // lambda-bearing expressions are excluded from codegen subexpression
      // elimination, so inlining it into argmin + min would evaluate the
      // dominant per-row cost twice (CollapseProject leaves non-cheap
      // multi-referenced aliases staged; pinned by the plan assertion in
      // the spec)
      val assigned = q.select(col("qv"), distsCol(cents).as("__d"))
        .select(
          (array_position(col("__d"), array_min(col("__d"))) - 1)
            .as("cluster"),
          col("qv"))
      // k·dim tiny rows after map-side partial aggregation — the only
      // shuffle per iteration; collect is bounded by the centroid table
      val upd = assigned
        .select(col("cluster"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getInt(1), r.getLong(2), r.getLong(3)))
        .groupBy(_._1)
      cents = cents.indices.map { ci =>
        upd.get(ci) match {
          case Some(rows) =>
            val arr = new Array[Long](dim)
            rows.foreach { case (_, pos, s, n) => arr(pos) = Math.floorDiv(s, n) }
            arr
          case None => cents(ci) // empty cluster keeps its centroid
        }
      }.toArray
    }
    val out = q.select(col(idCol), distsCol(cents).as("__d"))
      .select(col(idCol),
        (array_position(col("__d"), array_min(col("__d"))) - 1).as("cluster"),
        array_min(col("__d")).as("dist"))
    Materialize.result(out)
  }

  /** Deterministic per-subspace PQ codebooks: `m` subspaces × `k` codewords
    * × `subDim` floats (splitmix64, like [[fixedCentroids]]) — untrained,
    * but fully determined by the parameters so the whole PQ pipeline is
    * replicable in the DuckDB oracle. Production would train each subspace
    * codebook with k-means over subvectors (same [[trainCentroids]] loop). */
  def fixedCodebooks(m: Int, k: Int, subDim: Int,
                     seed: Long = 13L): Array[Array[Array[Float]]] =
    Array.tabulate(m)(mi => fixedCentroids(k, subDim, seed + mi))

  /** Product-quantization approximate top-k (Jégou et al. 2011): each
    * corpus vector is encoded once into `m` codebook indices (64 floats →
    * 8 bytes at the default geometry — the memory-compression path that
    * lets a 100 TB embedding corpus fit a fraction of the footprint);
    * queries score candidates with an ADC lookup table (one add per
    * subspace, no float dot product), and the top `refine` candidates per
    * query are re-ranked by exact cosine to produce the final top-k.
    *
    * Scale shape: encoding is a narrow codegen'd pass (the codebooks ride
    * as reference objects); scoring joins the slim `(id, codes)` projection
    * against the broadcast query LUTs — the full vectors re-join onto the
    * `refine`-bounded candidate set only, so the wide payload never fans
    * out through the scoring join. */
  def pqTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
             queries: DataFrame, queryId: String, queryVec: String,
             k: Int = 10, m: Int = 8, codesPerSub: Int = 16, dim: Int = 64,
             refine: Int = 50,
             codebooksOverride: Option[Array[Array[Array[Float]]]] = None): DataFrame = Materialize.scope {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    require(refine >= k,
      s"refine=$refine < k=$k: the ADC cut would silently return fewer " +
      "than k results per query")
    val sub = dim / m
    val cbs = codebooksOverride.getOrElse(fixedCodebooks(m, codesPerSub, sub))
    // corpus → m-byte codes: nearest codeword per subspace slice (the same
    // float-exact kernel the IVF quantizer uses, so the oracle replays it)
    def code(vec: Column, mi: Int): Column = element_at(
      column(graft.functions.NearestCentroids(
        expression(slice(vec, mi * sub + 1, sub)), cbs(mi), 1)), 1)
    val coded = Materialize.persist(corpus.select(col(corpusId).as("id"), col(corpusVec).as("cvec"))
      .withColumn("codes", array((0 until m).map(mi => code(col("cvec"), mi)): _*)))
    // query → ADC lookup table: lut[mi][ki] = <q_sub, codeword> in DOUBLE
    val cbLit = array(cbs.map(cb => array(cb.map(cw =>
      array(cw.map(x => lit(x.toDouble)): _*)): _*)): _*)
    val luts = zip_with(cbLit, sequence(lit(0), lit(m - 1)), (cbm, mi) =>
      transform(cbm, cw => aggregate(
        zip_with(slice(col("qvec"), mi * sub + lit(1), lit(sub)), cw, (x, c) => x * c),
        lit(0.0d), _ + _)))
    val q = queries.select(col(queryId).as("qid"), col(queryVec).as("qvec"))
      .withColumn("luts", luts)
    // ADC scoring over the slim (id, codes) projection; vectors stay out
    val approx = coded.select(col("id"), col("codes"))
      .join(broadcast(q.select(col("qid"), col("luts"))))
      .where(col("qid") =!= col("id"))
      .withColumn("approx", aggregate(
        zip_with(col("codes"), col("luts"), (c, l) => element_at(l, c + 1)),
        lit(0.0d), _ + _))
    val wA = Window.partitionBy(col("qid")).orderBy(col("approx").desc, col("id").asc)
    val cand = approx.withColumn("arank", row_number().over(wA))
      .where(col("arank") <= refine)
      .select(col("qid"), col("id"))
    // exact re-rank on the refine-bounded candidate set only; candidates
    // are the broadcast side so the full-vector corpus is probed in place,
    // never repartitioned by id (same 100× shape as the Matryoshka rerank)
    val wK = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("id").asc)
    val out = broadcast(cand)
      .join(coded.select(col("id"), col("cvec")), "id")
      .join(broadcast(q.select(col("qid"), col("qvec"))), "qid")
      .select(col("qid"), col("id"), VF.cosineSim(col("cvec"), col("qvec")).as("cosine"))
      .withColumn("rank", row_number().over(wK))
      .where(col("rank") <= k)
    Materialize.result(out)
  }

  /** Deterministic ±1 sign-projection matrix (`outDim` rows × `dim`,
    * splitmix64 — the [[fixedCentroids]] contract: fully determined by the
    * parameters, so the DuckDB oracle embeds the identical literals). */
  def fixedProjection(outDim: Int, dim: Int, seed: Long = 29L): Array[Array[Long]] = {
    require(outDim >= 1 && dim >= 1, s"bad projection geometry $outDim×$dim")
    val next = graft.util.SplitMix64.generator(seed)
    Array.fill(outDim, dim)(if ((next() & 1L) == 0L) 1L else -1L)
  }

  /** Random-projection approximate top-k (Johnson–Lindenstrauss via the
    * Achlioptas 2003 ±1 sign matrix): corpus vectors quantize to integers
    * (`floor(x·2^10)` — the [[kmeansAssign]] trick that makes every sum an
    * order-free BIGINT, so the approximate stage itself is bit-exact and
    * oracle-replicable), project `dim → outDim` against the fixed sign
    * matrix, and each query's candidates are the `refine` corpus rows with
    * the smallest PROJECTED L2 distance; exact cosine re-ranks the bounded
    * set. JL keeps pairwise distances within (1±ε) whp at
    * `outDim = O(ln n / ε²)`, so the cut loses little recall at 4× fewer
    * dimensions — the dimensionality-REDUCTION path beside LSH's buckets,
    * IVF's cells, and PQ's code compression.
    *
    * Scale shape (the family contract): projection is one narrow codegen'd
    * pass; candidate scoring joins the slim `(id, pvec)` projection
    * (outDim BIGINTs) against broadcast query projections; per-partition
    * WindowGroupLimit bounds the refine cut; full vectors re-join on the
    * refine-bounded candidate set only. */
  def rpTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
             queries: DataFrame, queryId: String, queryVec: String,
             k: Int = 10, outDim: Int = 16, dim: Int = 64, refine: Int = 50,
             seed: Long = 29L): DataFrame = Materialize.scope {
    require(refine >= k,
      s"refine=$refine < k=$k: the projected cut would return fewer than k")
    val QuantScale = 1024L
    val signs = fixedProjection(outDim, dim, seed)
    val signsLit = array(signs.map(row => array(row.map(lit): _*)): _*)
    // the kmeansAssign fail-loud contract: a short vector would null-pad
    // through zip_with into a NULL pdist that sorts FIRST (silently topping
    // every refine cut), and a NaN would quantize to 0 here while erroring
    // in the oracle's ::BIGINT cast — both must die at the source
    def quant(vec: Column): Column =
      when(size(vec) =!= dim, raise_error(concat(
          lit("rpTopK: vector length "), size(vec).cast("string"),
          lit(s" != dim $dim"))))
        .when(exists(vec, x => x.isNull || isnan(x)),
          raise_error(lit("rpTopK: embedding contains null or NaN")))
        .otherwise(transform(vec, x =>
          floor(x.cast("double") * QuantScale).cast("long")))
    // p[d] = Σ_j sign[d][j] · qv[j] — BIGINT, order-free, exact. The
    // quantization is deliberately inlined: a single-referenced alias would
    // be collapsed back into the outDim-wide lambda anyway (CollapseProject
    // keeps only non-cheap MULTI-referenced aliases staged), and at 16×64
    // guard/floor/multiply ops per row the one-time persist build stays
    // scan-bound — unlike the regex-heavy text kernels, no barrier is
    // needed
    def project(vec: Column): Column =
      transform(signsLit, row => aggregate(
        zip_with(row, quant(vec), (s, v) => s * v), lit(0L), _ + _))
    val c = Materialize.persist(corpus.select(col(corpusId).as("id"), col(corpusVec).as("cvec"))
      .select(col("id"), col("cvec"), project(col("cvec")).as("pvec")))
    val q = queries.select(col(queryId).as("qid"), col(queryVec).as("qvec"))
      .select(col("qid"), col("qvec"), project(col("qvec")).as("pq"))
    val approx = c.select(col("id"), col("pvec"))
      .join(broadcast(q.select(col("qid"), col("pq"))))
      .where(col("qid") =!= col("id"))
      .withColumn("pdist", aggregate(
        zip_with(col("pvec"), col("pq"), (a, b) => (a - b) * (a - b)),
        lit(0L), _ + _))
    val wA = Window.partitionBy(col("qid")).orderBy(col("pdist").asc, col("id").asc)
    val cand = approx.withColumn("arank", row_number().over(wA))
      .where(col("arank") <= refine)
      .select(col("qid"), col("id"))
    // candidate side broadcast: the corpus must never shuffle by id for
    // this refine-bounded rerank (see matryoshkaTopK / pqTopK)
    val wK = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("id").asc)
    val out = broadcast(cand)
      .join(c.select(col("id"), col("cvec")), "id")
      .join(broadcast(q.select(col("qid"), col("qvec"))), "qid")
      .select(col("qid"), col("id"), VF.cosineSim(col("cvec"), col("qvec")).as("cosine"))
      .withColumn("rank", row_number().over(wK))
      .where(col("rank") <= k)
    Materialize.result(out)
  }

  /** MMR (maximal marginal relevance) diversified top-k: greedily pick
    * `k` results that are relevant to the query but NOT redundant with
    * each other — `score = lam·rel − lamCompl·max_sim_to_selected`. The
    * training-data shape: "give me the 5 most relevant NON-duplicate
    * documents" (a plain top-k returns five near-copies of the same page).
    *
    * Determinism: the candidate pool is the exact brute-force top-`poolK`
    * (itself a verified operator); every greedy step is an argmax over
    * IEEE doubles computed by the same exact-rounded op sequence in both
    * engines (`lam`/`lamCompl` are passed SEPARATELY — deriving 1−lam in
    * the driver would yield 0.30000000000000004 while an engine literal
    * parses to 0.3), ties broken on id. The k-step greedy loop is
    * inherent to MMR; each step is a bounded DataFrame op over
    * queries×poolK rows, never the corpus.
    *
    * Scale shape: the ONLY corpus-scale stage is the pool build
    * (brute-force scoring — swap in [[ivfTopK]] for an ANN pool at real
    * scale; the greedy stage is identical). The pool and its pairwise
    * similarity matrix (queries × poolK² slim rows) are cut once; the
    * corpus is probed for pool vectors with the pool BROADCAST — the
    * corpus never shuffles by id. */
  def mmrTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              poolK: Int = 20, k: Int = 5,
              lam: Double = 0.7, lamCompl: Double = 0.3): DataFrame = {
    require(k >= 1 && poolK >= k, s"need poolK >= k >= 1, got k=$k poolK=$poolK")
    val pool = Materialize.cut(
      bruteForceTopK(corpus, corpusId, corpusVec,
          queries, queryId, queryVec, poolK)
        .select(col("qid"), col("id"), col("cosine").as("rel")))
    val poolV = broadcast(pool)
      .join(corpus.select(col(corpusId).as("id"), col(corpusVec).as("__v")), "id")
      .select(col("qid"), col("id"), col("__v"))
    // unique column names throughout the greedy stage — every frame below
    // descends from the same pool cut, and name-unique conditions keep the
    // self-joins unambiguous
    val pairs = Materialize.cut(
      poolV.as("a").join(poolV.as("b"),
          col("a.qid") === col("b.qid") && col("a.id") =!= col("b.id"))
        .select(col("a.qid").as("pqid"), col("a.id").as("id_a"),
                col("b.id").as("id_b"),
                VF.cosineSim(col("a.__v"), col("b.__v")).as("sim")))
    val wSel = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("id").asc)
    // every greedy round references the selected-so-far relation THREE
    // times (anti-join, selected-ids join, union), so a lazy `all` grows
    // ~3^k plan nodes and round i recomputes every earlier round's window
    // — cut the (≤ queries × k)-row selection per round to keep lineage
    // O(1) and each round's work O(pool) (guide §3.3: very wide plans;
    // measured at sf0.1, k = 5: 6.2 s → 1.9 s in the full bench,
    // 7.3 s → 4.3 s solo cold-JVM)
    var all = Materialize.cut(
      pool.select(col("qid"), col("id"), col("rel").as("score"))
        .withColumn("__rn", row_number().over(wSel)).where(col("__rn") === 1)
        .select(col("qid"), col("id"), lit(1).as("rank"),
                col("score").as("mmr_score")))
    for (i <- 2 to k) {
      val selIds = all.select(col("qid").as("sqid"), col("id").as("sid"))
      val cand = pool.join(all.select(col("qid"), col("id")),
        Seq("qid", "id"), "left_anti")
      val ms = cand
        .join(pairs, col("qid") === col("pqid") && col("id") === col("id_a"))
        .join(selIds, col("pqid") === col("sqid") && col("id_b") === col("sid"))
        .groupBy(col("qid"), col("id"), col("rel"))
        .agg(max(col("sim")).as("maxsim"))
      val next = ms
        .select(col("qid"), col("id"),
          (lit(lam) * col("rel") - lit(lamCompl) * col("maxsim")).as("score"))
        .withColumn("__rn", row_number().over(wSel)).where(col("__rn") === 1)
        .select(col("qid"), col("id"), lit(i).as("rank"),
                col("score").as("mmr_score"))
      val grown = Materialize.cut(all.unionByName(next))
      Materialize.release(all)
      all = grown
    }
    Materialize.release(pool)
    Materialize.release(pairs)
    all
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of retriever rankings:
    * each list contributes `scale DIV (c + rank)` to a candidate's fused
    * score, candidates are re-ranked by the sum — the standard way to
    * combine retrievers with incomparable score scales (an RP pass and an
    * IVF pass, sparse + dense, cheap-recall + precise) without tuning
    * weights. All-integer: `scale` = 10^9 makes the reciprocal exact
    * enough that distinct (c+rank) values stay distinct, and integer sums
    * are order-independent — bit-stable cross-engine.
    *
    * Inputs are `(qid, id, rank)` frames (any extra columns ignored),
    * exactly what the `*TopK` operators emit. Scale shape: a union of
    * slim rank triples, one map-side-combinable sum keyed (qid, id), and
    * a per-query top-k window over ≤ Σkᵢ candidates per query — the
    * fusion never touches vectors or the corpus. */
  def reciprocalRankFusion(rankings: Seq[DataFrame], k: Int = 10,
                           c: Long = 60L,
                           scale: Long = 1000000000L): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(c >= 1 && scale >= 1000L, s"bad RRF params c=$c scale=$scale")
    val u = rankings
      .map(_.select(col("qid"), col("id"),
        expr(s"$scale DIV ($c + rank)").as("s")))
      .reduce(_.unionByName(_))
    val fused = u.groupBy("qid", "id").agg(sum(col("s")).as("rrf_score"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rrf_score").desc, col("id").asc)
    fused.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Embedding-corpus QA report — the validation pass that gates any ANN
    * index build or semantic-dedup run: per group, counts of DEFECTIVE
    * vectors (NULL, wrong dimension, NaN/±Inf element, all-zero — the four
    * ways an upstream embedding job corrupts a corpus without failing) and
    * the squared-norm distribution of the healthy rest. One
    * map-side-combinable aggregation over narrow per-row expressions; the
    * vector column never shuffles.
    *
    * Norms use the repo's integer-quantization contract (`floor(x·2^10)`
    * per coordinate — float→double widening and ×2^10 are IEEE-exact), so
    * `q2_*` are BIGINTs a cross-engine oracle reproduces bit-for-bit; an
    * all-zero norm floor is also exactly representable, where a float
    * `sum(x²)` would be order-dependent. Zero/near-zero vectors matter
    * operationally: cosine against them is undefined, and every ANN
    * operator here divides by the norm. */
  def embeddingQa(df: DataFrame, vecCol: String, dim: Int,
                  byCols: String*): DataFrame = {
    val v = col(vecCol)
    val isNull = v.isNull
    val badDim = !isNull && size(v) =!= dim
    // the NULL-element test comes FIRST in the lambda so exists() can never
    // return SQL NULL (three-valued logic would otherwise drop the row from
    // every defect bucket): a null element is itself the nonfinite defect
    val nonFinite = !isNull && !badDim && exists(v, x =>
      x.isNull || isnan(x) || abs(x) === lit(Float.PositiveInfinity))
    val healthy = !isNull && !badDim && !nonFinite
    val isZero = healthy && forall(v, x => x === lit(0.0f))
    // quantize once per element, then a pure integer fold — lambda args
    // re-evaluate per reference (see verify skill), so stage via transform
    val q2 = aggregate(
      transform(v, x => floor(x.cast("double") * lit(1024L)).cast("long")),
      lit(0L), (acc, q) => acc + q * q)
    df.groupBy(byCols.map(col): _*)
      .agg(count(lit(1)).as("n_vecs"),
           count_if(isNull).as("n_null"),
           count_if(badDim).as("n_bad_dim"),
           count_if(nonFinite).as("n_nonfinite"),
           count_if(isZero).as("n_zero"),
           min(when(healthy, q2)).as("q2_min"),
           max(when(healthy, q2)).as("q2_max"),
           sum(when(healthy, q2)).as("q2_sum"))
  }

  /** Per-vector int8 symmetric-quantization QA: would storing this corpus
    * at 4x compression (64 floats → 64 int8 codes + one scale) cost
    * retrieval quality? Reports per vector the max-abs calibration scale,
    * the cosine between the vector and its quantize-reconstruct
    * round-trip, the max absolute element error, and the clamp count —
    * the decision inputs before rewriting an embedding store. One
    * codegen'd pass per row ([[graft.functions.Int8QuantStats]]; struct
    * output so none of the four metrics re-derives the pass), a pure
    * narrow projection: no shuffle, scan-bound, trivially 100 TB-safe.
    * Every op is IEEE exact-rounded in a fixed sequence, so the doubles
    * are bit-identical to the DuckDB replica. */
  def int8QuantReport(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val st = {
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      column(graft.functions.Int8QuantStats(expression(col(vecCol))))
    }
    df.select(col(idCol), st.as("q"))
      .select(col(idCol),
              col("q.max_abs").as("max_abs"),
              col("q.cos_recon").as("cos_recon"),
              col("q.max_abs_err").as("max_abs_err"),
              col("q.n_clamped").as("n_clamped"))
  }

  /** Nearest-class-mean probe over labeled embeddings — the cheapest
    * "do these embeddings separate my labels" diagnostic (the NCM
    * classifier is the standard linear-probe-lite): per-label centroids
    * of FIXED-POINT quantized vectors (floor(x·2^scaleBits), so the
    * centroid is an order-free integer mean — float centroid sums would
    * differ ulp-by-ulp with partitioning), every vector classified to the
    * squared-L2-nearest centroid (ties to the smallest label via the
    * integer encode dist·16 + label), and the result reported as a
    * confusion matrix. Train-on-all/test-on-all is deliberate: this is a
    * separability report, not an eval harness.
    *
    * Requires labels in [0, 16): the tie-break encode packs the label
    * into the low 4 bits (checked loudly).
    *
    * Scale shape: centroid building posexplodes to slim (label, dim,
    * component) rows — one map-side-combinable aggregate; per-label
    * centroid arrays are rebuilt from dim-bounded groups and BROADCAST
    * against the corpus scan (L×dim longs); scoring is one narrow fold
    * per (row, label); the confusion rollup is one combinable count.
    * The corpus never shuffles. */
  def centroidClassifierConfusion(df: DataFrame, idCol: String,
                                  vecCol: String, labelCol: String,
                                  scaleBits: Int = 20): DataFrame = {
    require(scaleBits >= 0 && scaleBits <= 24,
      s"scaleBits must be in [0, 24], got $scaleBits")
    val q = 1L << scaleBits
    val quant = df.select(col(idCol).as("id"),
      col(labelCol).cast("long").as("lbl"),
      transform(col(vecCol), x => floor(x.cast("double") * q).cast("long"))
        .as("xq"))
    val guarded = quant.withColumn("lbl",
      when(col("lbl") >= 0L && col("lbl") < 16L, col("lbl"))
        .otherwise(raise_error(concat(
          lit("centroidClassifierConfusion: label "),
          col("lbl").cast("string"), lit(" outside [0, 16)")))))
    val comp = guarded.select(col("lbl"),
      posexplode(col("xq")).as(Seq("d", "x")))
    val cent = comp.groupBy("lbl", "d")
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .select(col("lbl"), col("d"), expr("s DIV n").as("c"))
    val centArr = cent.groupBy(col("lbl").as("cand"))
      .agg(transform(sort_array(collect_list(struct(col("d"), col("c")))),
        s => s.getField("c")).as("cv"))
    // ALL centroids ride one broadcast row; the argmin is a per-row fold
    // over that array — no cross-join fan-out, no (id, lbl) re-aggregate,
    // zero corpus-side shuffle (pinned in PlanSpec)
    val centOneRow = centArr
      .agg(sort_array(collect_list(struct(col("cand"), col("cv"))))
        .as("cents"))
    guarded.crossJoin(broadcast(centOneRow))
      .select(col("lbl").as("label"),
        (aggregate(col("cents"), lit(Long.MaxValue), (acc, s) =>
          least(acc,
            aggregate(zip_with(col("xq"), s.getField("cv"),
                (a, b) => (a - b) * (a - b)), lit(0L), _ + _) * 16L +
              s.getField("cand"))) % 16L).as("pred"))
      .groupBy("label", "pred").agg(count(lit(1)).as("n"))
  }

  /** Text top-k by n-gram Jaccard against a query string (inverted-index
    * candidate join, same shape as `Dedup.ngramJaccardPairs`). */
  def textTopK(corpus: DataFrame, idCol: String, textCol: String,
               queryText: String, k: Int = 10, shingleN: Int = 3): DataFrame = {
    val sets = corpus.select(col(idCol).as("id"),
                             TF.shingleHashes(col(textCol), shingleN).as("hs"))
      .withColumn("n", size(col("hs")))
    val q = sets.sparkSession.range(1).select(
      TF.shingleHashes(lit(queryText), shingleN).as("qhs"))
    val scored = sets.join(broadcast(q))
      .withColumn("inter", size(array_intersect(col("hs"), col("qhs"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n") + size(col("qhs")) - col("inter")))
      .select(col("id"), col("jaccard"))
    // zero-overlap rows drop AFTER the top-k cut: a filter below the
    // projection is pushed into the scan side with `hs` inlined, which
    // runs the shingle kernel a second time per corpus row. A zero row
    // ranks below every match, so it only reaches the top k when fewer
    // than k rows match, and then this filter drops it.
    scored.orderBy(col("jaccard").desc, col("id").asc).limit(k)
      .where(col("jaccard") > 0)
  }

  /** Top principal component of an embedding corpus via the Gram-matrix
    * trick + fixed-point power iteration — the distributed-linear-algebra
    * primitive behind embedding whitening, drift monitoring (the top
    * direction rotating between crawls is an early incident signal), and
    * "is one axis eating the variance" QA on learned representations.
    *
    * Scale shape (the textbook one): two scan-bound corpus passes (the
    * dim×dim Gram pass and the slim per-dimension mean pass) — per-row
    * (i, j, xᵢ·xⱼ) products into a map-side-combinable sum, so the
    * shuffle carries at most dim² rows per task regardless of corpus
    * size — and the dim²-entry
    * matrix (a bounded driver artifact, same shipping story as the
    * k-means centroids) is power-iterated on the driver: `iters`
    * fixed rounds of matvec + max-normalization. O(dim²) driver work for
    * dim = 64 is microseconds; the corpus never shuffles.
    *
    * Determinism contract (bit-exact vs the DuckDB replica): components
    * quantize `floor(x · 2^scaleBits)` (IEEE-exact, the
    * [[centroidClassifierConfusion]] formula); the Gram and mean divide
    * by n with truncating division; each power round max-normalizes by
    * `w · 2^vScaleBits DIV max|w|` (truncation toward zero — Scala `/`
    * and DuckDB `//` agree); a zero matvec keeps the previous vector;
    * the final sign is canonicalized so the largest-|loading| dimension
    * (smallest index on ties) is non-negative; the eigenvalue estimate
    * is the Rayleigh quotient over `DIV 256`-rescaled vectors. Overflow
    * contract: |x| < 2 at the default scaleBits=7/vScaleBits=20/dim≤64
    * keeps every intermediate (worst: matvec · 2^20 during
    * normalization) under 2^62. Fixed `iters` (power iteration converges
    * geometrically; the output is a pure function of the corpus either
    * way).
    *
    * Output: one row per dimension `(d, loading_fp, lambda_fp)` —
    * loading at 2^vScaleBits fixed point, the Rayleigh quotient
    * replicated on every row. */
  def pcaTopComponent(df: DataFrame, vecCol: String, dim: Int,
                      scaleBits: Int = 7, iters: Int = 8,
                      vScaleBits: Int = 20): DataFrame = {
    val (v, lambda) = pcaTopVector(df, vecCol, dim, scaleBits, iters,
      vScaleBits)
    df.sparkSession.createDataFrame(
      (0 until dim).map(i => (i.toLong, v(i), lambda)))
      .toDF("d", "loading_fp", "lambda_fp")
  }

  /** The learned component itself — `(loadings at 2^vScaleBits fixed
    * point, Rayleigh quotient)` — for operators that APPLY it back to
    * the corpus (see [[pcaProjectionReport]]). Contracts in
    * [[pcaTopComponent]]. */
  def pcaTopVector(df: DataFrame, vecCol: String, dim: Int,
                   scaleBits: Int = 7, iters: Int = 8,
                   vScaleBits: Int = 20): (Array[Long], Long) = {
    require(dim >= 2 && dim <= 4096, s"dim must be in [2, 4096], got $dim")
    require(scaleBits >= 0 && scaleBits <= 12,
      s"scaleBits must be in [0, 12], got $scaleBits")
    require(iters >= 1 && iters <= 32, s"iters must be in [1, 32], got $iters")
    require(vScaleBits >= 8 && vScaleBits <= 24,
      s"vScaleBits must be in [8, 24], got $vScaleBits")
    val q = 1L << scaleBits
    val vScale = 1L << vScaleBits
    val xq = df.select(transform(col(vecCol),
      x => floor(x.cast("double") * q).cast("long")).as("xq"))
    val ei = xq.select(posexplode(col("xq")).as(Seq("i", "xi")),
      col("xq").as("x2"))
    val gram = ei
      .select(col("i"), col("xi"), posexplode(col("x2")).as(Seq("j", "xj")))
      .groupBy("i", "j").agg(sum(col("xi") * col("xj")).as("s"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val meanRows = xq.select(posexplode(col("xq")).as(Seq("i", "xi")))
      .groupBy("i").agg(sum(col("xi")).as("ms"), count(lit(1)).as("n"))
      .collect()
    require(meanRows.nonEmpty, "pcaTopVector: input has no vectors")
    // per-dimension counts must agree or "n" would depend on which row we
    // read it from — a null or short vector breaks that invariant loudly
    // here instead of silently skewing the covariance
    val counts = meanRows.map(_.getAs[Long]("n")).distinct
    require(counts.length == 1,
      s"pcaTopVector: ragged input — per-dimension counts ${counts.min}..${counts.max}; " +
        "every vector must be non-null and full-dim")
    val n = counts.head
    val mu = Array.tabulate(dim) { i =>
      meanRows.find(_.getInt(0) == i).map(r => r.getAs[Long]("ms") / n)
        .getOrElse(0L)
    }
    val c = Array.tabulate(dim, dim) { (i, j) =>
      gram.getOrElse((i, j), 0L) / n - mu(i) * mu(j)
    }
    def matvec(v: Array[Long]): Array[Long] =
      Array.tabulate(dim)(i =>
        (0 until dim).map(j => c(i)(j) * v(j)).sum)
    // all-ones start: a generic direction (a basis-vector start is stuck
    // whenever its covariance row is all zero)
    var v = Array.fill(dim)(vScale)
    for (_ <- 1 to iters) {
      val w = matvec(v)
      val s = w.map(math.abs).max
      if (s != 0L) v = w.map(_ * vScale / s)
    }
    // sign canonicalization: largest |loading| (smallest index on ties)
    // must be non-negative
    val lead = (0 until dim).maxBy(i => (math.abs(v(i)), -i))
    if (v(lead) < 0L) v = v.map(-_)
    val w = matvec(v)
    val den = (0 until dim).map(i => (v(i) / 256L) * (v(i) / 256L)).sum
    val lambda =
      if (den == 0L) 0L
      else (0 until dim).map(i => (v(i) / 256L) * (w(i) / 256L)).sum / den
    (v, lambda)
  }

  /** PCA APPLICATION — the plan/apply twin of [[pcaTopComponent]] (the
    * same pairing as tokenizer train→encode and centroids→classify):
    * per-vector fraction of energy captured by the learned top
    * component, the "is this embedding dominated by the corpus's one big
    * direction" QA column (near-10^6 ppm = the vector is essentially ON
    * the axis — collapsed representation; near-0 = orthogonal outlier).
    *
    * Integer contract: with `vq = loading DIV 256` (≤ 2^12),
    * `p = Σ xqᵢ·vqᵢ`, the fraction is
    * `((p DIV 64)² · 10^6) DIV ((Σxq² · Σvq²) DIV 4096)` — the matched
    * DIV-64/DIV-4096 rescale keeps the numerator under 2^60 at the
    * |x| < 2 input bound. Cauchy-Schwarz bounds the true ratio by 1;
    * truncation keeps the reported ppm within one part in ~2^13 of it.
    * Zero vectors report NULL (guarded, not a throw). The component
    * rides the plan as a literal array — one scan-bound projection, no
    * shuffle, no join. */
  def pcaProjectionReport(df: DataFrame, idCol: String, vecCol: String,
                          dim: Int, scaleBits: Int = 7, iters: Int = 8,
                          vScaleBits: Int = 20): DataFrame = {
    val (v, _) = pcaTopVector(df, vecCol, dim, scaleBits, iters, vScaleBits)
    val q = 1L << scaleBits
    val vq = v.map(_ / 256L)
    val ev = vq.map(x => x * x).sum
    val vqCol = array(vq.map(lit(_)): _*)
    val xqCol = transform(col(vecCol),
      x => floor(x.cast("double") * q).cast("long"))
    df.select(col(idCol),
        xqCol.as("xq"))
      .select(col(idCol),
        aggregate(zip_with(col("xq"), vqCol, (a, b) => a * b),
          lit(0L), _ + _).as("p"),
        aggregate(col("xq"), lit(0L), (acc, x) => acc + x * x).as("ex"))
      .withColumn("den", expr(s"(ex * ${ev}L) DIV 4096"))
      .select(col(idCol),
        col("p"),
        col("ex").as("energy_q"),
        // den = 0 covers zero vectors, a degenerate all-zero component,
        // and the tiny-energy corner where the rescaled product
        // truncates to 0 — NULL on all of them, identically in the
        // oracle (ANSI division by zero would otherwise throw)
        when(col("den") === 0L, lit(null).cast("long"))
          .otherwise(expr("((p DIV 64) * (p DIV 64) * 1000000) DIV den"))
          .as("proj_frac_ppm"))
  }
}
