package graft

import graft.operators.Graph

import org.apache.spark.sql.functions._

/** PageRank invariants: mass conservation under fixed-point truncation,
  * symmetry, hub dominance, and the one-shuffle-for-edges plan shape. */
class GraphSpec extends SparkSpec {

  import spark.implicits._

  private val Scale = 1000000000000L

  test("pageRank: regular graphs rank uniformly; mass is conserved minus truncation") {
    // triangle: all nodes symmetric, ranks must be exactly equal
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    val r = Graph.pageRank(tri, "id_a", "id_b", iters = 5).collect()
      .map(x => x.getAs[Long]("id") -> x.getAs[Long]("rank")).toMap
    assert(r.size == 3)
    assert(r.values.toSet.size == 1, s"symmetric nodes ranked unequally: $r")
    val mass = r.values.sum
    assert(mass <= Scale && mass >= (Scale * 9) / 10,
      s"rank mass $mass outside [0.9, 1.0] x scale")
  }

  test("pageRank: star center out-ranks leaves; degree column is correct") {
    // star: 0 joined to 1..6
    val star = (1L to 6L).map(i => (0L, i)).toDF("id_a", "id_b")
    val rows = Graph.pageRank(star, "id_a", "id_b", iters = 5).collect()
    val byId = rows.map(x => x.getAs[Long]("id") ->
      (x.getAs[Long]("rank"), x.getAs[Long]("deg"))).toMap
    assert(byId(0L)._2 == 6L && byId(1L)._2 == 1L)
    val leafRanks = (1L to 6L).map(byId(_)._1)
    assert(leafRanks.toSet.size == 1, "symmetric leaves ranked unequally")
    assert(byId(0L)._1 > leafRanks.head * 3,
      s"hub not dominant: ${byId(0L)._1} vs leaf ${leafRanks.head}")
  }

  test("personalizedPageRank: mass concentrates near the seed; far nodes decay toward 0") {
    // path: 0-1-2-3-4-5, seed at 0. NOT strictly monotone per hop at
    // finite iterations (endpoint 5 returns ALL its mass to 4, and power
    // iteration on a path oscillates with parity), so the pinned
    // proximity facts are the robust ones: the seed dominates everything,
    // the near half of the path outweighs the far half, and the farthest
    // node holds the least mass
    val path = (0L to 4L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val seeds = Seq(0L).toDF("id")
    val r = Graph.personalizedPageRank(path, "id_a", "id_b", seeds, iters = 8)
      .collect().map(x => x.getAs[Long]("id") ->
        (x.getAs[Long]("rank"), x.getAs[Boolean]("is_seed"))).toMap
    assert(r(0L)._2 && !r(1L)._2)
    val ranks = (0L to 5L).map(r(_)._1)
    assert(ranks.head == ranks.max, s"seed is not the max: $ranks")
    assert(ranks.last == ranks.min, s"farthest node is not the min: $ranks")
    assert(ranks.take(3).sum > ranks.drop(3).sum * 2,
      s"mass not concentrated near the seed: $ranks")
    assert(ranks.head > ranks.last * 10,
      s"seed not dominant: ${ranks.head} vs ${ranks.last}")
  }

  test("personalizedPageRank: off-graph seeds ignored; uniform-seed-set equals classic pagerank") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    // seeding EVERY node (+ an off-graph 99) must reproduce the uniform
    // teleport, i.e. the classic kernel's ranks, bit-for-bit
    val all = Seq(1L, 2L, 3L, 99L).toDF("id")
    val ppr = Graph.personalizedPageRank(tri, "id_a", "id_b", all, iters = 5)
      .collect().map(x => x.getAs[Long]("id") -> x.getAs[Long]("rank")).toMap
    val pr = Graph.pageRank(tri, "id_a", "id_b", iters = 5)
      .collect().map(x => x.getAs[Long]("id") -> x.getAs[Long]("rank")).toMap
    assert(ppr.keySet == Set(1L, 2L, 3L), "off-graph seed leaked into output")
    assert((1L to 3L).forall(i => ppr(i) == pr(i)),
      s"uniform-seed ppr diverges from classic: $ppr vs $pr")
  }

  test("personalizedPageRank: partitioning-invariant on the minhash candidate graph") {
    val docs = spark.read.parquet(sf("documents"))
    val pairs = graft.operators.Dedup.minhashLshPairs(
        docs, "doc_id", "text", numHashes = 128, bands = 16, threshold = 0.4)
      .select("id_a", "id_b")
    val seeds = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id")))
      .where(col("id") % 50 === 0).distinct()
    val a = Graph.personalizedPageRank(pairs.repartition(7), "id_a", "id_b",
      seeds, iters = 3).orderBy("id").collect().toSeq
    val b = Graph.personalizedPageRank(pairs.repartition(2), "id_a", "id_b",
      seeds, iters = 3).orderBy("id").collect().toSeq
    assert(a == b, "ppr depends on partitioning")
    assert(a.nonEmpty)
  }

  test("pageRank: result is partitioning-invariant (integer sums)") {
    val docs = spark.read.parquet(sf("documents"))
    val pairs = graft.operators.Dedup.minhashLshPairs(
        docs, "doc_id", "text", numHashes = 128, bands = 16, threshold = 0.4)
      .select("id_a", "id_b")
    val a = Graph.pageRank(pairs.repartition(7), "id_a", "id_b", iters = 3)
      .orderBy("id").collect().toSeq
    val b = Graph.pageRank(pairs.repartition(2), "id_a", "id_b", iters = 3)
      .orderBy("id").collect().toSeq
    assert(a == b, "pageRank depends on input partitioning")
  }

  test("pageRank plan: edges shuffled once (cached co-partitioned); iterations shuffle only ranks") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("id_a", "id_b")
    inspectPlan {
      val p = Graph.pageRank(pairs, "id_a", "id_b", iters = 5)
        .queryExecution.executedPlan.toString
      val lines = p.linesIterator.toVector
      // the degree-annotated edge relation must come from the cache...
      assert(lines.exists(_.contains("InMemoryTableScan")),
        s"edges are not cached:\n$p")
      // ...and never be re-shuffled: an Exchange whose direct child is the
      // cached edge scan would mean every iteration re-partitions the big
      // side instead of reusing the persisted hashpartitioning(src) layout
      lines.zipWithIndex.foreach { case (l, i) =>
        if (l.contains("InMemoryTableScan")) {
          val parent = lines.take(i).reverse.find(_.trim.nonEmpty)
          assert(!parent.exists(_.contains("Exchange hashpartitioning")),
            s"cached edges re-shuffled by an iteration join:\n$p")
        }
      }
    }
  }

  test("triangleCounts: 4-clique gives every node 3 triangles; paths give none") {
    // K4 on {1,2,3,4}: C(3,2)=3 triangles through each node
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("id_a", "id_b")
    val r = Graph.triangleCounts(k4, "id_a", "id_b").collect()
      .map(x => x.getAs[Long]("id") -> x.getAs[Long]("n_triangles")).toMap
    assert(r == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $r")

    // path 1-2-3-4: no triangles at all -> empty result
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    assert(Graph.triangleCounts(path, "id_a", "id_b").count() == 0)

    // triangle + pendant edge: pendant node absent, triangle nodes = 1 each
    val triPlus = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val r2 = Graph.triangleCounts(triPlus, "id_a", "id_b").collect()
      .map(x => x.getAs[Long]("id") -> x.getAs[Long]("n_triangles")).toMap
    assert(r2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"got $r2")
  }

  test("componentSizeHistogram: sizes aggregate to (size, n) rows") {
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L), (6L, 5L))
      .toDF("id", "comp")
    val h = Graph.componentSizeHistogram(labels, "comp").collect()
      .map(x => x.getAs[Long]("cluster_size") -> x.getAs[Long]("n_clusters")).toMap
    assert(h == Map(3L -> 1L, 1L -> 1L, 2L -> 1L), s"got $h")
  }

  test("kCore: peels pendant chains, keeps cliques; matches a driver-side reference peel") {
    // triangle {1,2,3} + pendant chain 3-4-5 + isolated pair (6,7):
    // the 2-core is exactly the triangle (chain and pair peel away,
    // the chain in two rounds — exercises the iteration)
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (6L, 7L))
      .toDF("id_a", "id_b")
    val r = Graph.kCore(g, "id_a", "id_b", k = 2).collect()
      .map(x => x.getAs[Long]("id") -> x.getAs[Long]("core_deg")).toMap
    assert(r == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"got $r")
    // k=3: triangle nodes have degree 2 < 3 — empty core
    val r3 = Graph.kCore(g, "id_a", "id_b", k = 3).count()
    assert(r3 == 0L, s"3-core of a triangle graph must be empty, got $r3")
  }

  test("kCore: fixpoint is unique regardless of structure (reference peel on the fixture graph)") {
    val docs = spark.read.parquet(sf("documents"))
    val pairs = graft.operators.Dedup.ngramJaccardPairs(
        docs, "doc_id", "text", shingleN = 3, threshold = 0.4,
        maxDocFreq = Long.MaxValue)
      .select("id_a", "id_b")
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // driver-side reference peel
    def peel(k: Int): Map[Long, Int] = {
      var e = edges
      var changed = true
      while (changed) {
        val deg = e.toSeq.flatMap(p => Seq(p._1, p._2))
          .groupBy(identity).map { case (n, xs) => n -> xs.size }
        val keep = deg.filter(_._2 >= k).keySet
        val e2 = e.filter(p => keep(p._1) && keep(p._2))
        changed = e2 != e
        e = e2
      }
      e.toSeq.flatMap(p => Seq(p._1, p._2))
        .groupBy(identity).map { case (n, xs) => n -> xs.size }
    }
    val expect = peel(2)
    val got = Graph.kCore(pairs, "id_a", "id_b", k = 2).collect()
      .map(x => x.getAs[Long]("id") -> x.getAs[Long]("core_deg").toInt).toMap
    assert(got == expect, s"engine ${got.size} nodes vs reference ${expect.size}")
  }

  test("labelPropagation: bridged cliques keep distinct communities (hand-traced)") {
    // two triangles {1,2,3} and {4,5,6} bridged by edge 3-4. Hand trace
    // (synchronous rounds, min-label tie-break):
    //   l1: 1->2 2->1 3->1 4->3 5->4 6->4
    //   l2: 1->1 2->1 3->1 4->4 5->3 6->3
    //   l3: 1->1 2->1 3->1 4->3 5->3 6->3
    // — the bridge does NOT merge the cliques (CC would label all six 1)
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L),
      (3L, 4L)).toDF("id_a", "id_b")
    val r = Graph.labelPropagation(g, "id_a", "id_b", rounds = 3).collect()
      .map(x => x.getAs[Long]("id") -> x.getAs[Long]("community")).toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L),
      s"got $r")
  }

  test("labelPropagation: argmax prefers count over label; partitioning-invariant") {
    // star 0-{1,2,3} plus edge 1-2: after round 1, node 0 sees labels
    // {1,2,3} (tie -> 1); nodes 1,2 see {0, other} -> 0; node 3 sees {0}.
    // Count beats label: in round 2, node 0 sees {0,0,0} -> 0.
    val g = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L)).toDF("id_a", "id_b")
    val r = Graph.labelPropagation(g, "id_a", "id_b", rounds = 2).collect()
      .map(x => x.getAs[Long]("id") -> x.getAs[Long]("community")).toMap
    assert(r(0L) == 0L, s"count must beat label in the argmax: $r")
    val docs = spark.read.parquet(sf("documents"))
    val pairs = graft.operators.Dedup.minhashLshPairs(
        docs, "doc_id", "text", numHashes = 128, bands = 16, threshold = 0.4)
      .select("id_a", "id_b")
    val a = Graph.labelPropagation(pairs.repartition(7), "id_a", "id_b")
      .orderBy("id").collect().toSeq
    val b = Graph.labelPropagation(pairs.repartition(2), "id_a", "id_b")
      .orderBy("id").collect().toSeq
    assert(a == b, "labelPropagation depends on input partitioning")
  }

  test("linkPrediction: open triads scored, existing edges excluded, hub pivots capped") {
    // path 1-2-3: one open triad (1,3) through pivot 2.
    // cn=1, deg1=deg3=1 -> pa=1, jaccard = 1e6*1/(1+1-1) = 1e6
    val path = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val p = Graph.linkPrediction(path, "id_a", "id_b").collect()
    assert(p.length == 1)
    val r = p.head
    assert(r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 3L &&
      r.getAs[Long]("cn") == 1L && r.getAs[Long]("pa") == 1L &&
      r.getAs[Long]("jaccard_ppm") == 1000000L, s"got $r")

    // square 1-2-3-4-1: (1,3) via pivots 2 and 4 -> cn=2, deg=2,2,
    // pa=4, jaccard = 2e6 DIV (2+2-2) = 1e6; same for (2,4)
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("id_a", "id_b")
    val sqr = Graph.linkPrediction(sq, "id_a", "id_b").collect()
      .map(x => (x.getAs[Long]("id_a"), x.getAs[Long]("id_b")) ->
        (x.getAs[Long]("cn"), x.getAs[Long]("pa"),
         x.getAs[Long]("jaccard_ppm"))).toMap
    assert(sqr == Map((1L, 3L) -> ((2L, 4L, 1000000L)),
                      (2L, 4L) -> ((2L, 4L, 1000000L))), s"got $sqr")

    // triangle: every co-neighbor pair is already an edge -> no output
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    assert(Graph.linkPrediction(tri, "id_a", "id_b").count() == 0L)

    // pivot cap: a star hub with deg 3 > cap 2 generates no candidates
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("id_a", "id_b")
    assert(Graph.linkPrediction(star, "id_a", "id_b",
      maxPivotDegree = 2L).count() == 0L)
    // ...but degrees in the SCORES stay full: path 1-2-3 plus hub edges
    // 1-9, 3-9 under cap 2 — pivot 9 (deg 2) and pivot 2 (deg 2) both
    // serve; (1,3) has cn=2 with full degrees 2,2
    val mixed = Seq((1L, 2L), (2L, 3L), (1L, 9L), (3L, 9L))
      .toDF("id_a", "id_b")
    val m = Graph.linkPrediction(mixed, "id_a", "id_b", maxPivotDegree = 2L)
      .collect().map(x => (x.getAs[Long]("id_a"), x.getAs[Long]("id_b")) ->
        (x.getAs[Long]("cn"), x.getAs[Long]("pa"))).toMap
    assert(m((1L, 3L)) == ((2L, 4L)), s"got $m")
  }

  test("linkPrediction: partitioning-invariant on the minhash candidate graph") {
    val docs = spark.read.parquet(sf("documents"))
    val pairs = graft.operators.Dedup.minhashLshPairs(
        docs, "doc_id", "text", numHashes = 128, bands = 16, threshold = 0.4)
      .select("id_a", "id_b")
    val a = Graph.linkPrediction(pairs.repartition(7), "id_a", "id_b")
      .orderBy("id_a", "id_b").collect().toSeq
    val b = Graph.linkPrediction(pairs.repartition(2), "id_a", "id_b")
      .orderBy("id_a", "id_b").collect().toSeq
    assert(a == b, "linkPrediction depends on input partitioning")
  }

  private def hitsMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(x => x.getAs[Long]("id") ->
      (x.getAs[Long]("hub_fp"), x.getAs[Long]("auth_fp"))).toMap

  test("hits: directed star — center is the pure hub, leaves pure authorities") {
    val star = (1L to 6L).map(i => (0L, i)).toDF("id_a", "id_b")
    val m = hitsMap(Graph.hits(star, "id_a", "id_b", rounds = 4))
    assert(m(0L) == ((1000000L, 0L)), s"center: ${m(0L)}")
    (1L to 6L).foreach(i =>
      assert(m(i) == ((0L, 1000000L)), s"leaf $i: ${m(i)}"))
  }

  test("hits: hand-traced asymmetric graph matches the integer recurrence") {
    // 1→3, 2→3, 3→4: after each round auth(4) and hub(3) halve
    // (trace: a(3)=1e6, a(4)=1e6/2^r, h(1)=h(2)=1e6, h(3)=1e6/2^r)
    val g = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val m = hitsMap(Graph.hits(g, "id_a", "id_b", rounds = 4))
    assert(m(1L) == ((1000000L, 0L)), s"1: ${m(1L)}")
    assert(m(2L) == ((1000000L, 0L)), s"2: ${m(2L)}")
    assert(m(3L) == ((62500L, 1000000L)), s"3: ${m(3L)}")
    assert(m(4L) == ((0L, 62500L)), s"4: ${m(4L)}")
  }

  test("hits: partitioning-invariant on the minhash candidate graph") {
    val docs = spark.read.parquet(sf("documents"))
    val pairs = graft.operators.Dedup.minhashLshPairs(
        docs, "doc_id", "text", numHashes = 128, bands = 16, threshold = 0.4)
      .select("id_a", "id_b")
    val a = Graph.hits(pairs.repartition(7), "id_a", "id_b", rounds = 3)
      .orderBy("id").collect().toSeq
    val b = Graph.hits(pairs.repartition(2), "id_a", "id_b", rounds = 3)
      .orderBy("id").collect().toSeq
    assert(a == b, "hits depends on input partitioning")
  }

  private def bfsMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(x =>
      x.getAs[Long]("id") -> x.getAs[Long]("dist")).toMap

  test("cutCounted: the returned count is exact under every materialize mode") {
    // a shuffle under the cut: the reliable checkpoint must not count
    // the plan's rows twice
    val df = spark.range(0, 1000, 1, 4).toDF("id")
      .join(spark.range(0, 2000, 1, 3).toDF("id"), "id").distinct()
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-cutcounted").toString)
    for (mode <- Seq("local", "reliable", "none")) {
      spark.conf.set("spark.graft.dedup.materialize", mode)
      try {
        val (cut, n) = Graph.cutCounted(df, s"graft_spec_cutcounted_$mode")
        assert(n == 1000L, s"[$mode] cutCounted reported $n rows, expected 1000")
        assert(cut.count() == 1000L)
      } finally spark.conf.set("spark.graft.dedup.materialize", "local")
    }
  }

  test("bfsDistances: path graph respects the hop bound; beyond-bound nodes absent") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("id_a", "id_b")
    val seeds = Seq(1L).toDF("id")
    val m = bfsMap(Graph.bfsDistances(path, "id_a", "id_b", seeds, maxHops = 2))
    assert(m == Map(1L -> 0L, 2L -> 1L, 3L -> 2L), s"got $m")
  }

  test("bfsDistances: multi-source takes the nearest seed; components walk independently") {
    val g = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val seeds = Seq(3L, 10L).toDF("id")
    val m = bfsMap(Graph.bfsDistances(g, "id_a", "id_b", seeds, maxHops = 4))
    assert(m == Map(3L -> 0L, 2L -> 1L, 1L -> 2L, 10L -> 0L, 11L -> 1L),
      s"got $m")
  }

  test("bfsDistances: cycles terminate via early exit; off-graph seeds are ignored") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    val m = bfsMap(Graph.bfsDistances(tri, "id_a", "id_b",
      Seq(1L, 99L).toDF("id"), maxHops = 10))
    assert(m == Map(1L -> 0L, 2L -> 1L, 3L -> 1L), s"got $m")
    // all seeds off-graph -> empty
    assert(Graph.bfsDistances(tri, "id_a", "id_b",
      Seq(99L).toDF("id"), maxHops = 3).count() == 0L)
  }

  test("bfsDistances: partitioning-invariant on the minhash candidate graph") {
    val docs = spark.read.parquet(sf("documents"))
    val pairs = graft.operators.Dedup.minhashLshPairs(
        docs, "doc_id", "text", numHashes = 128, bands = 16, threshold = 0.4)
      .select("id_a", "id_b")
    val seeds = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id")))
      .where(col("id") % 50 === 0).distinct()
    val a = Graph.bfsDistances(pairs.repartition(7), "id_a", "id_b", seeds,
        maxHops = 3).orderBy("id").collect().toSeq
    val b = Graph.bfsDistances(pairs.repartition(2), "id_a", "id_b", seeds,
        maxHops = 3).orderBy("id").collect().toSeq
    assert(a == b, "bfsDistances depends on input partitioning")
  }

  test("landmarkDistances: per-landmark walks expand together; estimate is min shared sum") {
    // path 1-2-3-4-5 with landmarks 1 and 5
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val d = Graph.landmarkDistances(path, "id_a", "id_b",
        Seq(1L, 5L).toDF("id"), maxHops = 4)
      .collect().map(x => (x.getAs[Long]("lm"), x.getAs[Long]("id")) ->
        x.getAs[Long]("dist")).toMap
    assert(d((1L, 3L)) == 2L && d((5L, 3L)) == 2L &&
           d((1L, 5L)) == 4L && d((5L, 1L)) == 4L, s"got $d")
    // estimate for (2,4): via lm1 = 1+3 = 4; via lm5 = 3+1 = 4 -> 4
    // (true distance 2 — the sketch is an upper bound, exact only when
    // a landmark sits on a shortest path)
    val est = Graph.landmarkEstimate(
        Seq((2L, 4L), (1L, 3L)).toDF("id_a", "id_b"), "id_a", "id_b",
        Graph.landmarkDistances(path, "id_a", "id_b",
          Seq(1L, 5L).toDF("id"), maxHops = 4))
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2))
      .toMap
    assert(est == Map((2L, 4L) -> 4L, (1L, 3L) -> 2L), s"got $est")
  }

  test("landmarkDistances: hop bound drops far nodes; estimate inner-join drops uncovered pairs") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val dist = Graph.landmarkDistances(path, "id_a", "id_b",
      Seq(1L).toDF("id"), maxHops = 2)
    assert(dist.count() == 3L) // 1, 2, 3 — node 4 beyond 2 hops
    // (10,11) lives in a component no landmark reaches -> absent
    val est = Graph.landmarkEstimate(
      Seq((2L, 3L), (10L, 11L)).toDF("id_a", "id_b"), "id_a", "id_b", dist)
    assert(est.collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
      == Seq((2L, 3L)))
  }
}
