package graft.operators

import graft.util.Materialize

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over pair relations the other operators emit — the
  * near-dup candidate graph (MinHash-LSH pairs), the containment graph,
  * the k-NN graph. Connected components (cluster labeling) lives with the
  * dedup operators (`Dedup.clusterLabels`); this object holds the
  * centrality side: which documents are HUBS of their duplicate
  * neighborhood. A curation pipeline ranks dup-cluster members by
  * centrality to pick canonical representatives, or flags high-centrality
  * boilerplate templates that near-match thousands of pages.
  *
  * Reference has no graph operators (it is a per-event stream framework);
  * this extends the engine's training-data-pipeline surface the same way
  * the dedup/similarity families do.
  */
object Graph {

  /** Fixed-point-arithmetic PageRank over an undirected pair relation.
    *
    * `pairs(idACol, idBCol)` are distinct undirected edges (a < b, the
    * dedup-family convention); both directions are materialized, so every
    * node has out-degree ≥ 1 — no dangling-mass special case. Damping is
    * the classic 0.85 / 0.15 teleport.
    *
    * All arithmetic is BIGINT fixed-point at `scale` (default 10^12):
    * ranks start at `scale DIV n`, a node's contribution is
    * `rank DIV deg`, and the update is `teleport DIV n + 85 * sum DIV 100`
    * — integer sums are order-independent, so the result is deterministic
    * under any task scheduling AND bit-exact against the DuckDB oracle
    * (float PageRank would diverge ulp-by-ulp with summation order).
    * Truncation loses < deg ulp of mass per node per iteration —
    * invisible at scale 10^12 (gate corpus: < 0.3% after 5 rounds).
    *
    * Scale shape: the edge relation (the big side) is degree-annotated,
    * hash-partitioned by `src` and persisted ONCE; each of the `iters`
    * rounds then shuffles only the (id, rank) table — one slim row per
    * node — against the co-partitioned cached edges. Node count `n` rides
    * a broadcast cross join (never a driver collect). */
  def pageRank(pairs: DataFrame, idACol: String, idBCol: String,
               iters: Int = 5, scale: Long = 1000000000000L): DataFrame = Materialize.scope {
    require(iters >= 1 && iters <= 50, s"iters must be in [1, 50], got $iters")
    require(scale >= 1000000L, s"scale must be >= 10^6, got $scale")
    val teleport = scale * 15L / 100L // exact for every scale >= 100
    val edges = pairs.select(col(idACol).as("src"), col(idBCol).as("dst"))
      .union(pairs.select(col(idBCol).as("src"), col(idACol).as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val edgesDeg = Materialize.persist(edges.join(deg, "src").repartition(col("src")))
    val nodes = edgesDeg.select(col("src").as("id")).distinct()
    val n = nodes.agg(count(lit(1)).as("n"))
    var ranks = nodes.crossJoin(broadcast(n))
      .select(col("id"), expr(s"CAST($scale AS BIGINT) DIV n").as("rank"))
    for (_ <- 1 to iters) {
      val sums = edgesDeg
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst"), expr("rank DIV deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
      ranks = sums.crossJoin(broadcast(n))
        .select(col("dst").as("id"),
                expr(s"CAST($teleport AS BIGINT) DIV n + 85 * s DIV 100")
                  .as("rank"))
    }
    Materialize.result(ranks
      .join(edgesDeg.select(col("src").as("id"), col("deg")).distinct(), "id")
      .select(col("id"), col("rank"), col("deg")))
  }

  /** Personalized PageRank — [[pageRank]] with the teleport mass
    * restricted to a SEED set: the random surfer restarts at the seeds,
    * so rank measures proximity TO the seeds through the graph (the
    * retrieval-expansion / related-documents primitive: seed with a
    * query's hits, walk the near-dup graph, harvest the neighborhood by
    * rank). Same integer fixed-point arithmetic as the uniform kernel
    * (order-independent sums → bit-exact vs the unrolled oracle), same
    * scale shape: degree-annotated edges persisted once, per-round
    * shuffle = one slim row per node, seeds ride a broadcast.
    *
    * Off-graph seeds are ignored (BFS-family convention). Every returned
    * node carries `is_seed`; non-seed nodes unreachable from any seed
    * decay to rank 0 — mass is conserved on the seed-reachable component
    * minus truncation. */
  def personalizedPageRank(pairs: DataFrame, idACol: String, idBCol: String,
                           seeds: DataFrame, iters: Int = 5,
                           scale: Long = 1000000000000L): DataFrame = Materialize.scope {
    require(iters >= 1 && iters <= 50, s"iters must be in [1, 50], got $iters")
    require(scale >= 1000000L, s"scale must be >= 10^6, got $scale")
    val teleport = scale * 15L / 100L
    val edges = pairs.select(col(idACol).as("src"), col(idBCol).as("dst"))
      .union(pairs.select(col(idBCol).as("src"), col(idACol).as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val edgesDeg = Materialize.persist(edges.join(deg, "src").repartition(col("src")))
    val nodes = edgesDeg.select(col("src").as("id")).distinct()
    // seeds restricted to graph nodes; the seed table is tiny — broadcast.
    // CUT once: the marker is referenced by the init, EVERY round, and the
    // final projection, and the caller's seed frame often derives from the
    // same expensive candidate graph as the edges (the gate query's seeds
    // come off the minhash pipeline) — uncut, that subtree re-evaluates
    // per round (measured 6.4 s vs pagerank's 4.2 s on the same graph)
    val seedIds = broadcast(Materialize.cut(
      nodes.join(seeds.select(col(seeds.columns.head).as("id")).distinct(),
        Seq("id"), "left_semi")))
    val ns = seedIds.agg(count(lit(1)).as("ns"))
    // symmetric edges -> every node has deg >= 1 inbound, so the per-round
    // contribution sums cover ALL nodes and the seed base can ride a
    // broadcast left-semi marker instead of a nodes-frame outer join
    var ranks = nodes
      .join(seedIds.select(col("id"), lit(true).as("sd")), Seq("id"), "left")
      .crossJoin(broadcast(ns))
      .select(col("id"),
        when(col("sd"), expr(s"CAST($scale AS BIGINT) DIV ns"))
          .otherwise(0L).as("rank"))
    for (_ <- 1 to iters) {
      val sums = edgesDeg
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst"), expr("rank DIV deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
      ranks = sums
        .join(seedIds.select(col("id").as("dst"), lit(true).as("sd")),
          Seq("dst"), "left")
        .crossJoin(broadcast(ns))
        .select(col("dst").as("id"),
          (when(col("sd"), expr(s"CAST($teleport AS BIGINT) DIV ns"))
            .otherwise(0L) + expr("85 * s DIV 100")).as("rank"))
    }
    Materialize.result(ranks
      .join(seedIds.select(col("id"), lit(true).as("sd")), Seq("id"), "left")
      .select(col("id"), col("rank"), coalesce(col("sd"), lit(false)).as("is_seed")))
  }

  /** Per-node triangle counts over a distinct `a < b` pair relation (the
    * dedup-family edge convention) — the local-clustering signal that
    * separates tight template cliques (mirrors, boilerplate families)
    * from hub-and-spoke near-dup shapes with the same degree.
    *
    * Classic oriented enumeration: with every edge stored once as
    * (lo, hi), a triangle x<y<z is found exactly once as e1=(x,y),
    * e2=(y,z), e3=(x,z) — two equi-joins, no direction double-count, no
    * post-hoc dedup. Both joins key on node ids, so the shape is two
    * hash shuffles of the slim pair relation; worst-case fan-out is
    * Σ deg(v)², which upstream pair generation already bounds via its
    * `maxDocFreq`-style skew caps (a true production run would orient
    * edges low-degree→high-degree to tighten this; id orientation keeps
    * the relation identical to the dedup outputs it consumes). */
  def triangleCounts(pairs: DataFrame, idACol: String, idBCol: String): DataFrame = {
    val e = pairs.select(col(idACol).as("a"), col(idBCol).as("b"))
    val tri = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
  }

  /** k-core of an undirected pair relation: the maximal subgraph in which
    * every node has degree ≥ k, found by iterative peeling — drop all
    * nodes with degree < k, recompute degrees over the survivors, repeat
    * to fixpoint. On the near-dup graph the 2-core separates genuinely
    * clustered template/mirror families from isolated accidental pairs
    * (a pair's two endpoints have degree 1 and peel immediately), which
    * is the right edge set to feed the representative-picking cut.
    *
    * Determinism: the fixpoint of peeling is unique (independent of
    * removal order — the standard k-core property), and each round is
    * integer degree counting, so output is bit-stable under any task
    * scheduling and replayable cross-engine.
    *
    * Scale shape: each round is one map-side-combinable degree aggregate
    * over the CURRENT edge set plus two left-semi joins restricting the
    * slim (src, dst) relation to surviving nodes — no bodies, no
    * windows. The edge set shrinks monotonically, so round cost is
    * non-increasing; rounds to fixpoint are bounded by the graph's
    * peeling depth (small for the flat near-dup graphs this consumes;
    * `maxIters` guards pathological chains with a loud error, matching
    * `connectedComponents`' non-convergence discipline). Each round's
    * edge set is cut eagerly ([[Materialize]]) so lineage stays O(1). */
  def kCore(pairs: DataFrame, idACol: String, idBCol: String, k: Int,
            maxIters: Int = 30): DataFrame = Materialize.scope {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxIters >= 1 && maxIters <= 100,
      s"maxIters must be in [1, 100], got $maxIters")
    // per-round edge counts ride the cut job's observed metric (the
    // cutCounted pattern) — one job per peel round instead of cut + count
    var (edges, nEdges) = cutCounted(
      pairs.select(col(idACol).as("src"), col(idBCol).as("dst"))
        .union(pairs.select(col(idBCol).as("src"), col(idACol).as("dst"))),
      "graft_kcore_0")
    var converged = nEdges == 0L
    var round = 0
    while (!converged && round < maxIters) {
      round += 1
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      val keep = deg.where(col("deg") >= k).select("src")
      val (pruned, n) = cutCounted(
        edges.join(keep, Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi"),
        s"graft_kcore_$round")
      Materialize.release(edges)
      edges = pruned
      converged = n == nEdges
      nEdges = n
    }
    if (!converged)
      throw new IllegalStateException(
        s"kCore(k=$k) did not reach a fixpoint in $maxIters rounds")
    Materialize.result(edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("core_deg")))
  }

  /** Synchronous mode-label propagation (community detection) over an
    * undirected pair relation: each round, every node adopts the most
    * frequent label among its neighbors, ties broken toward the SMALLEST
    * label. Unlike connected components (which answers "is there any
    * path"), LPA splits a bridged near-dup graph into densely-connected
    * communities — two template families joined by one accidental pair
    * keep distinct labels, which is the right granularity for picking
    * per-community canonical documents.
    *
    * Determinism: a fixed number of SYNCHRONOUS rounds (classic async LPA
    * is order-dependent; synchronous rounds + min-label tie-break make
    * the result a pure function of the graph). The per-round argmax is a
    * single integer aggregate via the encode `cnt * L + (L-1-label)` —
    * `max(enc)` picks the highest count, then the smallest label, with
    * no floats and no engine-specific arg_max tie rules. Preconditions
    * (documented, caller-guaranteed): labels are node ids in
    * `[0, L-1]`, and `cnt * L` fits a BIGINT — with the default
    * L = 10^9 that allows degrees to 9·10^9, far beyond the skew caps
    * upstream pair generation enforces.
    *
    * Scale shape: each round is one equi-join of the slim symmetric edge
    * list against the one-row-per-node label table, a map-side-combinable
    * `(dst, label)` count, and a second map-side-combinable `max(enc)`
    * aggregate — no windows, no bodies, no driver data. Rounds are a
    * fixed constant (default 3 — LPA converges in a handful of rounds on
    * the flat graphs dedup blocking emits; it is not run to fixpoint
    * because synchronous LPA can 2-cycle on bipartite shapes). Each round
    * output is cut ([[Materialize]]) so lineage stays O(1). */
  def labelPropagation(pairs: DataFrame, idACol: String, idBCol: String,
                       rounds: Int = 3,
                       labelEncode: Long = 1000000000L): DataFrame = Materialize.scope {
    require(rounds >= 1 && rounds <= 10,
      s"rounds must be in [1, 10], got $rounds")
    require(labelEncode >= 1000L, s"labelEncode must be >= 10^3, got $labelEncode")
    val edges = Materialize.cut(
      pairs.select(col(idACol).as("src"), col(idBCol).as("dst"))
        .union(pairs.select(col(idBCol).as("src"), col(idACol).as("dst"))))
    var lab = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    var prevCut: DataFrame = null
    for (r <- 1 to rounds) {
      val cnts = edges
        .join(lab.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
      val next = Materialize.cut(cnts
        .select(col("dst"),
          (col("cnt") * labelEncode + (lit(labelEncode - 1) - col("lbl"))).as("enc"))
        .groupBy("dst").agg(max(col("enc")).as("me"))
        .select(col("dst").as("id"),
          (lit(labelEncode - 1) - col("me") % labelEncode).as("lbl")))
      if (prevCut != null) Materialize.release(prevCut)
      prevCut = next
      lab = next
    }
    Materialize.result(lab.select(col("id"), col("lbl").as("community")))
  }

  /** Triadic link prediction over a distinct `a < b` pair relation: for
    * every OPEN triad (two nodes sharing ≥ 1 neighbor but not themselves
    * connected) emit the classic integer link-prediction scores —
    * common-neighbor count `cn`, preferential attachment `pa = deg·deg`,
    * and neighborhood Jaccard in ppm (`cn·10^6 DIV (deg_a + deg_b − cn)`).
    * On the near-dup graph this predicts pairs the banding missed: two
    * documents near-matching the same third documents are near-dups of
    * each other with high probability, so the top predictions are exactly
    * the pairs worth an exact-verify pass.
    *
    * Determinism: pure integer counting and truncating division —
    * bit-replayable cross-engine under any partitioning.
    *
    * `maxPivotDegree` excludes high-degree nodes from SERVING as the
    * shared neighbor (the pivot): a hub's co-neighbors are weak evidence
    * (the same insight Adamic-Adar encodes by 1/log deg) and the pivot
    * self-join's fan-out is Σ deg(v)² over pivots, so the cap is both the
    * quality and the skew bound. Degrees in the scores stay FULL degrees;
    * only pivot eligibility is capped, and the cap is part of the
    * operator contract (the oracle replays it).
    *
    * Scale shape: one symmetric edge projection, one map-side-combinable
    * degree count, one equi-join on the pivot node (fan-out ≤ cap per
    * pivot), one combinable (a, b) count, a left-anti join against the
    * existing edges, and two slim degree joins. No bodies, no windows,
    * no driver data. */
  def linkPrediction(pairs: DataFrame, idACol: String, idBCol: String,
                     maxPivotDegree: Long = 1000L): DataFrame = {
    require(maxPivotDegree >= 1L,
      s"maxPivotDegree must be >= 1, got $maxPivotDegree")
    val e = pairs.select(col(idACol).as("lo"), col(idBCol).as("hi"))
    val sym = e.select(col("lo").as("src"), col("hi").as("dst"))
      .union(e.select(col("hi").as("src"), col("lo").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    val pivotEdges = sym.join(deg, "src")
      .where(col("deg") <= maxPivotDegree)
      .select("src", "dst")
    val cand = pivotEdges.as("x")
      .join(pivotEdges.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .groupBy(col("x.dst").as("id_a"), col("y.dst").as("id_b"))
      .agg(count(lit(1)).as("cn"))
    cand
      .join(e, cand("id_a") === e("lo") && cand("id_b") === e("hi"),
        "left_anti")
      .join(deg.select(col("src").as("id_a"), col("deg").as("da")), "id_a")
      .join(deg.select(col("src").as("id_b"), col("deg").as("db")), "id_b")
      .select(col("id_a"), col("id_b"), col("cn"),
        (col("da") * col("db")).as("pa"),
        // cn <= min(da, db), so the denominator is >= max(da, db) >= 1
        expr("cn * 1000000 DIV (da + db - cn)").as("jaccard_ppm"))
  }

  /** Fixed-point HITS (Kleinberg 1999) over the `a < b` pair relation,
    * oriented lo→hi (each pair is one directed edge, the dedup-family
    * storage order). Hubs are documents whose near-dup matches are
    * themselves heavily matched (template sources); authorities are the
    * heavily-pointed-at copies. On the near-dup candidate graph the
    * hub/authority split separates "origin" pages from mirror farms in a
    * way symmetric PageRank cannot (PageRank sees one undirected blob).
    *
    * Determinism: all-integer — per round, raw scores are BIGINT sums of
    * the opposite score over the directed edges, then max-normalized by
    * `raw * scale DIV max(raw)` (truncating division; the max rides a
    * broadcast single-row aggregate, never a driver collect). A fixed
    * round count (power iteration converges geometrically; 4 rounds
    * separate hubs from authorities on the flat graphs dedup blocking
    * emits) keeps the output a pure function of the graph, replayed
    * bit-exactly by the DuckDB oracle.
    *
    * Overflow bound (documented contract): `raw ≤ max_deg · scale` and
    * the normalization multiplies by `scale` again, so
    * `max_deg · scale² < 2^63` — at the default scale 10^6 that allows
    * degrees to ~9·10^6, far beyond upstream skew caps. The `scale`
    * upper bound below (10^7) is this same inequality solved for the
    * ceiling: 10^7 still admits max degree ~92k (above every blocking
    * cap upstream), whereas the previous 10^9 bound silently shrank the
    * degree ceiling to 9 — an overflow trap the require now encodes.
    *
    * Scale shape: the directed edge list is cut once; each round is two
    * slim equi-joins (edges × one-row-per-node scores) and two
    * map-side-combinable sums plus a broadcast max — no windows, no
    * bodies, no driver data. Each round's raw-score table is cut
    * ([[Materialize]]) before normalization: the max-aggregate consumes
    * the raw table a second time, and without the barrier that
    * double-consumption NESTS round-over-round into an exponentially
    * re-computed plan (measured 180 s vs 2 s at gate scale for 4
    * rounds). Dead rounds are released eagerly, so peak footprint is two
    * slim node tables. */
  def hits(pairs: DataFrame, idACol: String, idBCol: String,
           rounds: Int = 4, scale: Long = 1000000L): DataFrame = Materialize.scope {
    require(rounds >= 1 && rounds <= 20,
      s"rounds must be in [1, 20], got $rounds")
    require(scale >= 1000L && scale <= 10000000L,
      s"scale must be in [10^3, 10^7] (max_deg * scale^2 < 2^63 needs " +
        s"degree <= ${Long.MaxValue / math.max(scale, 1L) / math.max(scale, 1L)} " +
        s"at this scale), got $scale")
    val edges = Materialize.cut(
      pairs.select(col(idACol).as("src"), col(idBCol).as("dst")))
    val nodes = Materialize.cut(
      edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct())
    def normalized(rawCut: DataFrame, c: String): DataFrame = {
      val mx = rawCut.agg(max(col("raw")).as("mx"))
      rawCut.crossJoin(broadcast(mx))
        .select(col("id"), expr(s"raw * $scale DIV mx").as(c))
    }
    var hub = nodes.select(col("id"), lit(scale).as("hub"))
    var auth: DataFrame = null
    var lastHRaw: DataFrame = null
    for (r <- 1 to rounds) {
      val aRaw = Materialize.cut(
        edges.join(hub.withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst").as("id")).agg(sum(col("hub")).as("raw")))
      if (lastHRaw != null) Materialize.release(lastHRaw) // fed this aRaw
      auth = normalized(aRaw, "auth")
      val hRaw = Materialize.cut(
        edges.join(auth.withColumnRenamed("id", "dst"), "dst")
          .groupBy(col("src").as("id")).agg(sum(col("auth")).as("raw")))
      // aRaw is dead once hRaw is materialized — except on the final
      // round, where `auth` (a projection over it) feeds the output join
      if (r < rounds) Materialize.release(aRaw)
      hub = normalized(hRaw, "hub")
      lastHRaw = hRaw
    }
    Materialize.result(nodes
      .join(hub, Seq("id"), "left")
      .join(auth, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("hub"), lit(0L)).as("hub_fp"),
        coalesce(col("auth"), lit(0L)).as("auth_fp")))
  }

  /** Hop-bounded multi-source BFS over an undirected pair relation:
    * shortest hop distance from ANY seed node, up to `maxHops`. On the
    * near-dup graph this is contamination-neighborhood expansion — seed
    * with known-bad documents (eval-set hits, spam) and every node within
    * k hops is the quarantine-review set; the same frontier walk answers
    * "how far does a template family spread".
    *
    * Frontier algorithm (the 100 TB shape): each round joins ONLY the
    * newly-settled frontier — one slim equi-join against the symmetric
    * edge list, a distinct, and an anti-join against the settled set, so
    * total work is O(edges-touched), not O(rounds · nodes). Early-exits
    * when the frontier empties. The hop bound is part of the operator
    * contract (unreached nodes are absent, not NULL) — BFS distance is
    * unique, so the output is deterministic under any partitioning.
    *
    * Driver-job shape (round-17, guide §1.2 driver overhead): each hop is
    * ONE Spark job — the frontier cut carries the frontier count as an
    * observed metric (no separate count job), and the settled set is the
    * LAZY union of the per-hop cuts (anti-joining against k small cut
    * frames re-scans materialized blocks; the old per-hop
    * `cut(settled ∪ nxt)` re-copied the whole settled set every round —
    * 3 jobs per hop down to 1). The returned frame is that lazy union —
    * every part is an eager cut, so repeated consumption re-reads blocks,
    * never recomputes. The parts belong to the caller's
    * [[graft.util.Materialize.scope]], which frees them when it exits. */
  def bfsDistances(pairs: DataFrame, idACol: String, idBCol: String,
                   seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 50,
      s"maxHops must be in [1, 50], got $maxHops")
    require(seeds.columns.sameElements(Array("id")),
      s"seeds must have exactly one column `id`, got ${seeds.columns.mkString(",")}")
    val edges = Materialize.cut(
      pairs.select(col(idACol).as("src"), col(idBCol).as("dst"))
        .union(pairs.select(col(idBCol).as("src"), col(idACol).as("dst"))))
    // seed set restricted to nodes that exist in the graph — a seed with
    // no edges is its own component and reports dist 0
    val nodes = edges.select(col("src").as("id")).distinct()
    var (frontier, frontierN) = cutCounted(
      seeds.join(nodes, Seq("id"), "left_semi")
        .distinct().select(col("id"), lit(0L).as("dist")), "graft_bfs_0")
    val parts = scala.collection.mutable.ArrayBuffer[DataFrame](frontier)
    var hop = 0
    while (frontierN > 0L && hop < maxHops) {
      hop += 1
      val settledView = parts.reduce(_ unionByName _)
      val (nxt, n) = cutCounted(
        edges.join(frontier.select(col("id").as("src")), "src")
          .select(col("dst").as("id")).distinct()
          .join(settledView, Seq("id"), "left_anti")
          .select(col("id"), lit(hop.toLong).as("dist")), s"graft_bfs_$hop")
      parts += nxt
      frontier = nxt
      frontierN = n
    }
    Materialize.release(edges)
    parts.reduce(_ unionByName _)
  }

  /** Eager-cut `df` and read its row count off the cut job's own observed
    * metric — the convergence/early-exit count of the iterative walks with
    * zero extra driver jobs (the `connectedComponents` observe pattern).
    * The count is exact under every cut mode: an EAGER checkpoint,
    * reliable or local, computes the plan in one job (spec-pinned).
    * Fails loudly if the metric is absent: a missing key (a cut strategy
    * that stops materializing CollectMetrics) must never read as "empty
    * frontier" and silently truncate a walk. */
  private[graft] def cutCounted(df: DataFrame,
                                obsName: String): (DataFrame, Long) = {
    val toCut = df.observe(obsName, count(lit(1)).as("n"))
    val cut = Materialize.cut(toCut)
    val row = toCut.queryExecution.observedMetrics.getOrElse(obsName,
      sys.error(s"cutCounted: observed metric $obsName missing from the " +
        "cut job — the materialize strategy no longer executes " +
        "CollectMetrics"))
    (cut, row.getLong(0))
  }

  /** Landmark distance sketch (Potamias et al. 2009): per-landmark hop
    * distances from a small landmark set — the classic graph embedding
    * that answers "approximately how far apart are u and v" on graphs
    * too large for all-pairs shortest paths: `d̂(u,v) = min over lm of
    * d(u,lm) + d(lm,v)` is an upper bound that is exact whenever some
    * landmark lies on a shortest path. Returns `(lm, id, dist)`.
    *
    * Same frontier-at-a-time walk as [[bfsDistances]], with the state
    * keyed `(lm, id)` instead of `id` — all landmarks expand in the SAME
    * rounds, so the round count stays `maxHops`, not
    * `landmarks × maxHops`; total work is O(landmarks × edges-touched),
    * the deliberate and bounded cost of the sketch (landmark sets are
    * small by construction — tens, not thousands). BFS distance is
    * unique, so the output is deterministic under any partitioning;
    * nodes beyond `maxHops` of a landmark are absent, not NULL. */
  def landmarkDistances(pairs: DataFrame, idACol: String, idBCol: String,
                        landmarks: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 50,
      s"maxHops must be in [1, 50], got $maxHops")
    require(landmarks.columns.sameElements(Array("id")),
      s"landmarks must have exactly one column `id`, got ${landmarks.columns.mkString(",")}")
    val edges = Materialize.cut(
      pairs.select(col(idACol).as("src"), col(idBCol).as("dst"))
        .union(pairs.select(col(idBCol).as("src"), col(idACol).as("dst"))))
    val nodes = edges.select(col("src").as("id")).distinct()
    // same one-job-per-hop shape as bfsDistances: observed frontier count,
    // settled = lazy union of the per-hop cuts
    var (frontier, frontierN) = cutCounted(
      landmarks.join(nodes, Seq("id"), "left_semi").distinct()
        .select(col("id").as("lm"), col("id"), lit(0L).as("dist")),
      "graft_lmd_0")
    val parts = scala.collection.mutable.ArrayBuffer[DataFrame](frontier)
    var hop = 0
    while (frontierN > 0L && hop < maxHops) {
      hop += 1
      val settledView = parts.reduce(_ unionByName _)
      val (nxt, n) = cutCounted(
        edges.join(frontier.select(col("lm"), col("id").as("src")), "src")
          .select(col("lm"), col("dst").as("id")).distinct()
          .join(settledView, Seq("lm", "id"), "left_anti")
          .select(col("lm"), col("id"), lit(hop.toLong).as("dist")),
        s"graft_lmd_$hop")
      parts += nxt
      frontier = nxt
      frontierN = n
    }
    Materialize.release(edges)
    parts.reduce(_ unionByName _)
  }

  /** Landmark-estimated pair distances over a [[landmarkDistances]]
    * sketch: `d_est = min over shared lm of d(a,lm) + d(b,lm)`. Pairs
    * with no landmark reaching both sides are absent (inner-join
    * contract). The per-pair intermediate is bounded by the landmark
    * count — the sketch's whole point at scale. */
  def landmarkEstimate(pairs: DataFrame, idACol: String, idBCol: String,
                       dists: DataFrame): DataFrame =
    pairs.select(col(idACol).as("id_a"), col(idBCol).as("id_b"))
      .join(dists.select(col("lm"), col("id").as("id_a"),
        col("dist").as("da")), Seq("id_a"))
      .join(dists.select(col("lm"), col("id").as("id_b"),
        col("dist").as("db")), Seq("id_b", "lm"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("da") + col("db")).as("d_est"))

  /** Component-size histogram over a (member → component) labeling: the
    * one-page answer to "how pathological is the duplicate graph" (many
    * pairs vs few giant crawl-template components decide whether
    * cluster-representative cuts are safe). Two cascaded aggregates,
    * both map-side combinable; the second one's key space is at most
    * the distinct sizes — tiny at any scale. */
  def componentSizeHistogram(labels: DataFrame, compCol: String): DataFrame =
    labels.groupBy(col(compCol)).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
}
