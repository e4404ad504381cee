package graft

/** Plan-shape regression tests: the properties that make these queries
  * survive a 100 TB scale-up, asserted on the optimized physical plan so a
  * refactor cannot silently regress them (SURVEY.md §4 / README "Designed
  * for 100 TB"). */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString

  test("q1_agg: partial aggregation before the shuffle, pruned scan") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum"), "map-side combine missing")
    // only the 5 needed columns reach the scan (toString truncates
    // ReadSchema, so match the FileScan projection list)
    val scanRe = ("""FileScan parquet \[l_quantity#\d+,l_extendedprice#\d+,""" +
      """l_discount#\d+,l_returnflag#\d+,l_linestatus#\d+\]""").r
    assert(scanRe.findFirstIn(p).isDefined, "scan reads more than the 5 needed columns")
  }

  test("text transforms: html/unicode/sentence chains stay scan-bound — pruned scan, no exchange") {
    // these are the "first pass over the crawl" operators: at 100 TB they
    // must be pure narrow scans (the whole regex/normalize chain inside
    // the scan's projection), with no shuffle anywhere before the
    // gate-ordering sort
    Seq("text_html_extract", "text_normalize_unicode", "text_sentences")
      .foreach { q =>
        val p = plan(q)
        // the only exchange allowed is the single rangepartitioning the
        // gate's output ORDER BY plans — no hash shuffle anywhere
        val exchanges = "Exchange \\w+partitioning".r.findAllIn(p).toList
        assert(exchanges.size <= 1 &&
               exchanges.forall(_.contains("rangepartitioning")),
          s"$q shuffles beyond the gate sort ($exchanges):\n$p")
        assert(p.contains("FileScan parquet"), s"$q lost its parquet scan")
        // column pruning: none of these transforms touch source/n_chars
        assert(!"""FileScan parquet \[[^\]]*(source|n_chars)""".r
          .findFirstIn(p).isDefined,
          s"$q scan reads columns the transform never touches:\n$p")
      }
    // the profiler's multi-distinct: one Expand, partial aggregation
    val prof = plan("q_table_profile")
    assert(prof.contains("Expand"), "q_table_profile lost the multi-distinct Expand")
    assert(prof.contains("partial"), "q_table_profile lost map-side combine")
  }

  test("q3/q5: dimension joins broadcast; no sort-merge join at this shape") {
    Seq("q3_topk", "q5_join").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast join")
      assert(!p.contains("SortMergeJoin"), s"$q fell back to sort-merge")
    }
  }

  test("text_length_sketch: partial sketch aggregation below the exchange; fixed-size state per group") {
    val p = plan("text_length_sketch")
    // the TypedImperativeAggregate must combine map-side: a partial
    // graft_bottomk below the group exchange is what bounds the shuffle to
    // one 16k-byte buffer per (task, group) at 100 TB, never raw rows
    assert(p.contains("partial_graft_bottomk"),
      s"map-side sketch combine missing:\n$p")
    val lines = p.linesIterator.toVector
    val firstExchange = lines.indexWhere(_.contains("Exchange"))
    val partialAgg = lines.lastIndexWhere(_.contains("partial_graft_bottomk"))
    assert(firstExchange >= 0 && partialAgg > firstExchange,
      s"partial sketch aggregate is not below the exchange:\n$p")
  }

  test("sim_ivf_indexed: probes the persisted index — no corpus assignment pass, no index-side exchange") {
    val p = plan("sim_ivf_indexed")
    val lines = p.linesIterator.toVector
    // the corpus side is the bucketed index table (cluster ids from parquet)
    assert(lines.exists(l => l.contains("FileScan parquet") && l.contains("graft_b_ivf")),
      s"bucketed index table scan not found:\n$p")
    // the per-batch plan must not re-run the assignment over the corpus:
    // nearest_centroids may appear only on the (broadcast) query side —
    // i.e. exactly one Generate/explode over the 5-query relation, never a
    // second occurrence feeding the index scan
    assert(p.sliding("nearest_centroids".length).count(_ == "nearest_centroids") <= 2,
      s"assignment pass leaked into the per-batch plan:\n$p")
    // queries broadcast; the only hash exchange is the slim qid rank
    // shuffle, which must not carry corpus vectors; the index side never
    // exchanges (not by cluster, not by id)
    assert(p.contains("BroadcastHashJoin"), s"query broadcast lost:\n$p")
    val hashEx = lines.filter(_.contains("Exchange hashpartitioning"))
    assert(hashEx.nonEmpty && hashEx.forall(_.contains("hashpartitioning(qid")),
      s"unexpected non-rank exchange (index side must probe in place):\n$p")
    assert(!hashEx.exists(_.contains("cvec")),
      s"corpus vectors cross the rank shuffle:\n$p")
  }

  test("stream_ivf_probe: the per-batch probe plan has zero index-side exchange") {
    // the exact function foreachBatch executes per micro-batch
    // (IvfProbe.probeBatch), planned against the persisted bucketed index
    // with a batch-shaped query frame
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = graft.operators.Similarity.fixedCentroids(16, 64)
    val idx = graft.operators.Relational.bucketMaterialize(
      graft.operators.Similarity.buildIvfIndex(emb, "vec_id", "embedding", cents),
      "graft_b_ivf_planspec", "cluster", 8,
      s"${graft.util.Scratch.base}/graft_bucketed_planspec/ivf")
    val batch = emb.where(col("vec_id") >= 5 && col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val p = graft.streaming.IvfProbe.probeBatch(idx, batch, "qid", "qvec",
      cents, k = 10, nProbe = 4).queryExecution.executedPlan.toString
    val lines = p.linesIterator.toVector
    assert(lines.exists(l => l.contains("FileScan parquet") && l.contains("graft_b_ivf_planspec")),
      s"bucketed index table scan not found:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"batch-query broadcast lost:\n$p")
    val hashEx = lines.filter(_.contains("Exchange hashpartitioning"))
    assert(hashEx.forall(_.contains("hashpartitioning(qid")),
      s"index-side exchange leaked into the per-batch plan:\n$p")
  }

  test("ivf index re-registration: GenIndex.register recovers the bucketed serving layout after catalog loss") {
    // pins IvfProbe's restart contract: the session catalog does not
    // survive the JVM; register() over the index FILES must restore the
    // same zero-exchange probe plan (bucket ids come from file naming)
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = graft.operators.Similarity.fixedCentroids(16, 64)
    val path = s"${graft.util.Scratch.base}/graft_bucketed_planspec/ivf_reg"
    graft.operators.Relational.bucketMaterialize(
      graft.operators.Similarity.buildIvfIndex(emb, "vec_id", "embedding", cents),
      "graft_b_ivf_reg", "cluster", 8, path)
    val batch = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def probe() = graft.streaming.IvfProbe.probeBatch(
      spark.table("graft_b_ivf_reg"), batch, "qid", "qvec", cents,
      k = 10, nProbe = 4)
    val before = probe().collect().map(_.toString).sorted.toSeq
    // "restart": catalog gone, files remain
    spark.sql("DROP TABLE IF EXISTS graft_b_ivf_reg")
    graft.operators.GenIndex.register(spark, "graft_b_ivf_reg", path,
      "cluster", 8)
    val p = probe().queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l =>
        l.contains("FileScan parquet") && l.contains("graft_b_ivf_reg")),
      s"re-registered IVF table scan not found:\n$p")
    assert(p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
        .forall(_.contains("hashpartitioning(qid")),
      s"index-side exchange leaked after re-registration:\n$p")
    assert(probe().collect().map(_.toString).sorted.toSeq == before,
      "re-registration changed probe results")
    spark.sql("DROP TABLE IF EXISTS graft_b_ivf_reg")
  }

  test("q3_topk: top-k via TakeOrderedAndProject, not a global sort") {
    assert(plan("q3_topk").contains("TakeOrderedAndProject"))
  }

  test("sim_topk: per-partition top-k before the exchange (WindowGroupLimit)") {
    val p = plan("sim_topk")
    assert(p.contains("WindowGroupLimit"))
    // the PARTIAL WindowGroupLimit must sit BELOW the exchange: that's the
    // map-side prune that bounds the shuffle to k rows per (partition, qid)
    val lines = p.linesIterator.toVector
    val firstExchange = lines.indexWhere(_.contains("Exchange"))
    val partialWgl = lines.lastIndexWhere(_.contains("WindowGroupLimit"))
    assert(firstExchange >= 0 && partialWgl > firstExchange,
      "partial WindowGroupLimit below the exchange is missing — the " +
      "shuffle would carry the full corpus × queries product")
  }

  test("sim_hamming_topk: code scan prunes map-side; no float vectors in the Hamming rank shuffle") {
    val p = plan("sim_hamming_topk")
    val lines = p.linesIterator.toVector
    // the Hamming candidate rank must prune below its exchange (partial
    // WindowGroupLimit), and that shuffle must carry only packed codes —
    // never the float vectors (the 32x-compression point of the operator)
    val firstExchange = lines.indexWhere(_.contains("Exchange"))
    val partialWgl = lines.lastIndexWhere(_.contains("WindowGroupLimit"))
    assert(firstExchange >= 0 && partialWgl > firstExchange,
      s"partial WindowGroupLimit below the exchange is missing:\n$p")
    val rankExchange = lines.filter(_.contains("Exchange hashpartitioning(qid"))
    assert(rankExchange.nonEmpty, s"candidate rank exchange not found:\n$p")
    assert(!rankExchange.exists(_.contains("cvec")),
      s"float corpus vector crosses the Hamming-rank shuffle:\n$p")
    // rerank contract (same as matryoshka): candidates broadcast, corpus
    // probed in place — no corpus-side Exchange by id
    assert(!lines.exists(_.contains("Exchange hashpartitioning(id")),
      s"corpus side of the rerank join shuffles by id:\n$p")
  }

  test("sim_matryoshka_topk: prefix stage prunes map-side; no body columns in the rank shuffle") {
    val p = plan("sim_matryoshka_topk")
    // the prefix-cosine candidate rank must prune below its exchange like
    // sim_topk — otherwise the shuffle carries corpus × queries rows
    val lines = p.linesIterator.toVector
    val firstExchange = lines.indexWhere(_.contains("Exchange"))
    val partialWgl = lines.lastIndexWhere(_.contains("WindowGroupLimit"))
    assert(firstExchange >= 0 && partialWgl > firstExchange,
      s"partial WindowGroupLimit below the exchange is missing:\n$p")
    // full vectors must NOT ride the candidate-rank shuffle: the rerank
    // re-joins them by id instead (the point of the truncated first pass)
    val rankExchange = lines.filter(_.contains("Exchange hashpartitioning(qid"))
    assert(rankExchange.nonEmpty, s"candidate rank exchange not found:\n$p")
    assert(!rankExchange.exists(_.contains("cvec")),
      s"full corpus vector crosses the candidate-rank shuffle:\n$p")
    // the rerank joins the bounded candidate set back to the corpus by id:
    // the candidates must be the BROADCAST side — an `Exchange
    // hashpartitioning(id` would mean the full-vector corpus is being
    // repartitioned for a sort-merge/shuffled-hash join, a full corpus
    // shuffle at 100 TB
    assert(!lines.exists(_.contains("Exchange hashpartitioning(id")),
      s"corpus side of the rerank join shuffles by id:\n$p")
  }

  test("hard negatives: map-side rank prune; positives anti-join broadcasts") {
    val p = plan("sim_hard_negatives")
    val lines = p.linesIterator.toVector
    // same contract as sim_topk: the per-query rank must prune below the
    // exchange, or the shuffle carries corpus × queries rows
    val firstExchange = lines.indexWhere(_.contains("Exchange"))
    val partialWgl = lines.lastIndexWhere(_.contains("WindowGroupLimit"))
    assert(firstExchange >= 0 && partialWgl > firstExchange,
      s"partial WindowGroupLimit below the exchange is missing:\n$p")
    // the label anti-join must broadcast — a shuffled anti-join would
    // repartition the scored corpus by (qid, id) at 100 TB
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"positives anti-join is not a broadcast join:\n$p")
  }

  test("mm_video_shared_frames: posting join shuffles slim frame hashes, never payloads") {
    inspectPlan {
      val p = plan("mm_video_shared_frames")
      // payload bytes are consumed inside the scan-stage decode; every
      // exchange below must carry only (id, fhash)-shaped rows
      assert(!p.linesIterator.exists(l =>
          l.contains("Exchange") && l.contains("payload")),
        s"video payloads crossed a shuffle:\n$p")
      assert(p.contains("Window"), s"df-prune window missing:\n$p")
      assert(!p.contains("CartesianProduct") &&
             !p.contains("BroadcastNestedLoopJoin"),
        s"pair join degenerated to a product:\n$p")
    }
  }

  test("pipeline_mm_ingest: payloads never cross an exchange; one grouped join, no product") {
    inspectPlan {
      Seq("pipeline_mm_ingest", "pipeline_mm_ingest_pairs").foreach { q =>
        val p = plan(q)
        // the composed DAG's contract: payload bytes are consumed inside
        // the one decode scan; every exchange downstream carries only the
        // slim (id, kind, family, fp) projection or smaller
        assert(!p.linesIterator.exists(l =>
            l.contains("Exchange") && l.contains("payload")),
          s"$q: payload bytes crossed a shuffle:\n$p")
        // the unified near-dup must stay a keyed equi-join — never a
        // cross-family or all-pairs degeneration
        assert(!p.contains("CartesianProduct") &&
               !p.contains("BroadcastNestedLoopJoin"),
          s"$q: pair join degenerated to a product:\n$p")
      }
    }
  }

  test("split leakage: pair table broadcasts onto the split projection") {
    val p = plan("dedup_split_leakage")
    // both endpoint attachments join the (small) near-dup pair table to the
    // corpus-size (id, split) projection: the pair side must broadcast —
    // an id-hash exchange of the corpus for the audit would be a second
    // corpus shuffle on top of the LSH banding
    assert(p.contains("BroadcastHashJoin"), s"leakage joins lost broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"leakage join fell back to sort-merge:\n$p")
  }

  test("pq/rp rerank joins probe the corpus in place (no id-shuffle)") {
    // same 100×-scale shape as the Matryoshka pin: the refine-bounded
    // candidate set is the broadcast side; an id-hash exchange would mean
    // the full-vector corpus repartitions for the rerank
    Seq("sim_pq_topk", "sim_rp_topk").foreach { q =>
      val p = plan(q)
      assert(!p.linesIterator.exists(_.contains("Exchange hashpartitioning(id")),
        s"$q: corpus side of the rerank join shuffles by id:\n$p")
    }
  }

  test("dedup_boilerplate: line reduction shuffles hashes, never page text") {
    // plan-inspection mode — the operator's result cut would erase the
    // reduction plan (dedup-family PlanSpec pattern below)
    val docs = spark.read.parquet(sf("documents"))
      .selectExpr("doc_id", "source", "text")
    val p = inspectPlan(graft.operators.Dedup
      .boilerplateSurvivors(docs, "doc_id", "text", "source",
        minDocs = 3L)
      .queryExecution.executedPlan.toString)
    val lines = p.linesIterator.toVector
    // the line reduction shuffles slim (grp, h, id, pos) rows — the text
    // column must never appear in an exchange's carried-attribute list
    val exchanges = lines.filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text#")),
      s"document text crosses a shuffle:\n$p")
  }

  test("curation_source_cap: partial WindowGroupLimit below the exchange") {
    // the map-side prune that keeps a hot domain from funneling its full
    // row set through the per-group rank task (Sampling.capPerGroup)
    val p = plan("curation_source_cap")
    val lines = p.linesIterator.toVector
    val firstExchange = lines.indexWhere(_.contains("Exchange"))
    val partialWgl = lines.lastIndexWhere(_.contains("WindowGroupLimit"))
    assert(firstExchange >= 0 && partialWgl > firstExchange,
      s"partial WindowGroupLimit below the exchange is missing:\n$p")
  }

  test("text_lm_score: map-side partial counts; context totals via ONE window, no self-join") {
    // plan-inspection mode: the lazy plan instead of the result cut that
    // would erase the operator plan (the dedup-family PlanSpec pattern)
    val docs = spark.read.parquet(sf("documents"))
    val p = inspectPlan(graft.operators.TextAnalysis
      .lmScore(docs, "doc_id", "text")
      .queryExecution.sparkPlan.toString)
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"bigram counting lost its map-side combine:\n${p.take(600)}")
    val windows = p.linesIterator.count(_.contains("Window ["))
    assert(windows == 1,
      s"context counts must be ONE window over the distinct-bigram table " +
      s"(found $windows Window nodes) — a self-join would re-aggregate the postings")
  }

  test("pipe_transform: filter pushdown reaches the parquet scan") {
    val p = plan("pipe_transform")
    assert(p.contains("PushedFilters: [IsNotNull(props)]"))
  }

  test("q_semi_anti: semi/anti joins planned as joins, not subquery scans") {
    val p = plan("q_semi_anti")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"))
  }

  test("text_quality_filter: one native keep-predicate, no per-field re-evaluation") {
    val p = plan("text_quality_filter")
    assert(p.contains("quality_lang_keep"),
      "filter must use the single-evaluation native predicate")
    // the old Column composition left ~10 normalization subtrees in the
    // Filter (FilterExec does no subexpression elimination)
    assert(!p.contains("regexp_replace"),
      "no regex normalization should remain in the filter plan")
  }

  // The dedup operators eagerly localCheckpoint their result, which erases
  // the joins from the returned DataFrame's plan — asserting on the gate
  // query plan would be vacuous. These pins build the operators in the
  // plan-inspection mode: the pre-materialization plan that actually
  // executes the candidate joins, its persists freed when the scope exits.
  private def dedupPlan(df: => org.apache.spark.sql.DataFrame): String =
    inspectPlan(df.queryExecution.executedPlan.toString)

  test("dedup LSH paths: blocked equi-joins, no cartesian/nested-loop product") {
    val docs = spark.read.parquet(sf("documents"))
    val emb = spark.read.parquet(sf("embeddings"))
    val plans = Seq(
      "minhash" -> dedupPlan(graft.operators.Dedup.minhashLshPairs(
        docs, "doc_id", "text", threshold = 0.4)),
      "simhash" -> dedupPlan(graft.operators.Dedup.simhashPairs(
        docs, "doc_id", "text", maxHamming = 3)),
      "embedding" -> dedupPlan(graft.operators.Dedup.embeddingCosinePairs(
        emb, "vec_id", "embedding", threshold = 0.4)))
    plans.foreach { case (name, p) =>
      assert(!p.contains("CartesianProduct"), s"$name planned a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name planned a nested-loop join")
      assert(p.contains("Join"), s"$name plan lost its candidate join entirely")
    }
  }

  test("bucketed join: the join subtree has zero exchanges; scans read buckets") {
    val p = plan("q_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"bucketed demo lost its merge join:\n$p")
    // everything BELOW the merge join (both scan sides) must be
    // exchange-free — the bucket layout IS the partitioning; the
    // aggregation above the join still shuffles its 5 groups, which is fine
    val subtree = p.split("SortMergeJoin", 2)(1)
    assert(!subtree.contains("Exchange"),
      s"bucketed join re-shuffled a pre-bucketed side:\n$p")
    assert(p.contains("Bucketed: true"),
      s"scan did not use the bucket layout:\n$p")
  }

  test("shingle postings: the executed plan evaluates shingle_hashes exactly once, regex-free") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(sf("documents"))
    // an inferred `size(shingle_hashes(..)) > 0` filter below the explode
    // would be a second evaluation of the whole normalize-and-hash kernel
    def kernelCalls(p: String) = "shingle_hashes\\(".r.findAllIn(p).size
    val postings = graft.operators.Dedup.buildPostingIndex(docs, "doc_id", "text")
    // the index files keep the parquet schema of a plain explode
    assert(!postings.schema("h").nullable, postings.schema.treeString)
    val index = dedupPlan(postings)
    assert(kernelCalls(index) == 1, s"buildPostingIndex:\n$index")
    assert(index.contains("norm_text") && !index.contains("regexp_replace"),
      s"normalization is not the native kernel:\n$index")
    val probePlan = dedupPlan(graft.operators.Dedup.incrementalSurvivorsIndexedLazy(
      docs.where(col("doc_id") >= 250),
      graft.operators.Dedup.buildPostingIndex(docs.where(col("doc_id") < 250),
        "doc_id", "text"),
      "doc_id", "text", maxDocFreq = Long.MaxValue))
    // the persisted batch postings print once per consumer, so pin the
    // absence of a kernel-evaluating filter instead of a count
    assert(kernelCalls(probePlan) > 0 && !probePlan.linesIterator.exists(l =>
      l.contains("Filter") && l.contains("shingle_hashes")),
      s"incrementalSurvivorsIndexedLazy:\n$probePlan")
  }

  test("ingest barrier write: one static plan, one pair-scoring aggregation right below the anti-join") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Final
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-plan-barrier").toString
    val kind = graft.streaming.IndexKind.textPostings()
    kind.init(spark, "graft_spec_plan_barrier", s"$tmp/idx")
    val step = graft.streaming.EpochIngest.step(kind, "graft_spec_plan_barrier", s"$tmp/out")
    val plans = executedPlans((0 until 2).foreach(e =>
      step(IngestFixtures.docs(e * 100L, 40).toDF("id", "text"), e.toLong)))
    spark.sql("DROP TABLE IF EXISTS graft_spec_plan_barrier")
    val p = plans.find(_.toString.linesIterator.exists(l =>
      l.contains("InsertIntoHadoopFsRelationCommand") && l.contains(s"$tmp/out/epoch=1"))).get
    assert(p.collectFirst { case a: AdaptiveSparkPlanExec => a }.isEmpty,
      s"the barrier write is planned adaptively:\n$p")
    def isPairScoring(a: BaseAggregateExec) =
      a.groupingExpressions.map(_.name) == Seq("id_a", "id_b") &&
      a.aggregateExpressions.forall(_.mode == Final)
    val scoring = p.collect { case a: BaseAggregateExec if isPairScoring(a) => a }
    assert(scoring.size == 1, s"${scoring.size} final pair aggregations:\n$p")
    def firstAggregate(q: SparkPlan): Option[BaseAggregateExec] = q match {
      case a: BaseAggregateExec => Some(a)
      case other => other.children.iterator.map(firstAggregate).collectFirst { case Some(a) => a }
    }
    val anti = p.collect { case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j }
    assert(anti.size == 1 && firstAggregate(anti.head.right).exists(isPairScoring),
      s"an aggregation sits between the pair scoring and the anti-join:\n$p")
  }

  test("text_topk: the executed plan evaluates shingle_hashes once per corpus row") {
    // a zero-overlap filter pushed below the scoring projection inlines the
    // corpus shingle set and evaluates the kernel again per row
    val p = plan("text_topk")
    assert("shingle_hashes\\(".r.findAllIn(p).size == 1, s"text_topk:\n$p")
  }

  test("indexed incremental dedup: the corpus posting index is never re-shuffled") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(sf("documents"))
    val idx = graft.operators.Relational.bucketMaterialize(
      graft.operators.Dedup.buildPostingIndex(
        docs.where(col("doc_id") < 250), "doc_id", "text"),
      "graft_b_postings_plan", "h", 8, "/tmp/graft_bucketed_plan/postings")
    val oldThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force the sort-merge path (a broadcast of the tiny spec batch would
    // hide the bucket layout) and keep the pre-materialization plan
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try inspectPlan {
      val out = graft.operators.Dedup.incrementalSurvivorsIndexed(
        docs.where(col("doc_id") >= 250), idx, "doc_id", "text",
        maxDocFreq = Long.MaxValue)
      val sp = out.queryExecution.sparkPlan
      val bucketScans = sp.collect {
        case f: FileSourceScanExec if f.bucketedScan => f }
      assert(bucketScans.nonEmpty, s"index scan lost its bucket layout:\n$sp")
      // no Exchange may sit anywhere above the bucketed scan: the bucket
      // layout IS the join partitioning for the corpus side
      val reshuffled = sp.collect { case e: Exchange
        if e.collectFirst {
          case f: FileSourceScanExec if f.bucketedScan => f }.isDefined => e }
      assert(reshuffled.isEmpty,
        s"corpus posting index re-shuffled above its bucketed scan:\n$sp")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThresh)
    }
  }

  test("fingerprint fragment index: probed in place — no index-side exchange") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.functions.{col, xxhash64}
    // the plan shape is independent of how fingerprints were decoded —
    // a slim synthetic (id, sh) frame keeps the pin fast
    val docs = spark.read.parquet(sf("documents"))
      .select(col("doc_id").as("id"), xxhash64(col("text")).as("sh"))
    val idx = graft.operators.Relational.bucketMaterialize(
      graft.operators.Dedup.buildHammingPostings(
        docs.where(col("id") % 5 < 2), maxHamming = 3),
      "graft_b_mmidx_plan", "bk", 8, "/tmp/graft_bucketed_plan/mmidx")
    val oldThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try inspectPlan {
      val out = graft.operators.Dedup.hammingSurvivorsIndexed(
        docs.where(col("id") % 5 >= 2), idx, maxHamming = 3)
      val sp = out.queryExecution.sparkPlan
      val bucketScans = sp.collect {
        case f: FileSourceScanExec if f.bucketedScan => f }
      assert(bucketScans.nonEmpty, s"index scan lost its bucket layout:\n$sp")
      // the bucket layout IS the join partitioning for the index side —
      // no Exchange may sit anywhere above the bucketed scan
      val reshuffled = sp.collect { case e: Exchange
        if e.collectFirst {
          case f: FileSourceScanExec if f.bucketedScan => f }.isDefined => e }
      assert(reshuffled.isEmpty,
        s"fragment index re-shuffled above its bucketed scan:\n$sp")
      // the FAMILY-KEYED variant (composed live ingest) must keep the
      // same shape: the family is a residual predicate on the bk bucket
      // join, never a reason to re-partition the index
      val keyedDocs = docs.withColumn("grp",
        org.apache.spark.sql.functions.when(col("id") % 2 === 0, "image")
          .otherwise("audio"))
      val kidx = graft.operators.Relational.bucketMaterialize(
        graft.operators.Dedup.buildHammingPostingsKeyed(
          keyedDocs.where(col("id") % 5 < 2), maxHamming = 3),
        "graft_b_mmidx_keyed_plan", "bk", 8,
        "/tmp/graft_bucketed_plan/mmidx_keyed")
      val kout = graft.operators.Dedup.hammingSurvivorsIndexedKeyed(
        keyedDocs.where(col("id") % 5 >= 2), kidx, maxHamming = 3)
      val ksp = kout.queryExecution.sparkPlan
      assert(ksp.collect {
          case f: FileSourceScanExec if f.bucketedScan => f }.nonEmpty,
        s"keyed index scan lost its bucket layout:\n$ksp")
      assert(ksp.collect { case e: Exchange
        if e.collectFirst {
          case f: FileSourceScanExec if f.bucketedScan => f }.isDefined => e }
        .isEmpty,
        s"keyed fragment index re-shuffled above its bucketed scan:\n$ksp")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThresh)
    }
  }

  test("embedding LSH index: probed in place — no index-side exchange") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val idx = graft.operators.Relational.bucketMaterialize(
      graft.operators.Dedup.buildEmbedPostings(emb.where(col("id") % 5 < 2)),
      "graft_b_embidx_plan", "bucket", 8, "/tmp/graft_bucketed_plan/embidx")
    val oldThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try inspectPlan {
      val out = graft.operators.Dedup.embedSurvivorsIndexed(
        emb.where(col("id") % 5 >= 2), idx, threshold = 0.25)
      val sp = out.queryExecution.sparkPlan
      assert(sp.collect {
          case f: FileSourceScanExec if f.bucketedScan => f }.nonEmpty,
        s"embedding index scan lost its bucket layout:\n$sp")
      // the bucket layout IS the join partitioning for the index side —
      // no Exchange may sit anywhere above the bucketed scan
      assert(sp.collect { case e: Exchange if e.collectFirst {
          case f: FileSourceScanExec if f.bucketedScan => f }.isDefined => e }
        .isEmpty,
        s"embedding index re-shuffled above its bucketed scan:\n$sp")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThresh)
    }
  }

  test("partition-pruned scan: the filter lands in PartitionFilters, not post-scan") {
    val p = plan("q_partition_pruned")
    val scan = p.linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(scan.contains("PartitionFilters: [") &&
           scan.replaceAll(".*PartitionFilters: \\[", "").contains("purchase"),
      s"event_type filter must prune partitions at the scan:\n$p")
  }

  test("pq ANN: ADC scoring reads slim (id, codes); vectors rejoin on the refine set only") {
    val emb = spark.read.parquet(sf("embeddings"))
    val q = emb.where(org.apache.spark.sql.functions.col("vec_id") < 2)
      .select(org.apache.spark.sql.functions.col("vec_id").as("qid"),
              org.apache.spark.sql.functions.col("embedding").as("qvec"))
    val p = dedupPlan(graft.operators.Similarity.pqTopK(
      emb, "vec_id", "embedding", q, "qid", "qvec",
      k = 3, refine = 20))
    // the refine cut is a per-partition group limit, not a global sort
    assert(p.contains("WindowGroupLimit"), s"refine cut lost WindowGroupLimit:\n$p")
    // the scoring side scans the cached codes WITHOUT the vector payload —
    // the wide cvec column must be pruned from at least the scoring scan
    val codeScans = p.linesIterator
      .filter(l => l.contains("InMemoryTableScan") && l.contains("codes#"))
      .toVector
    assert(codeScans.nonEmpty, s"pq lost its cached codes scan:\n$p")
    assert(codeScans.exists(l => !l.contains("cvec#")),
      s"every codes scan drags the vector payload through ADC scoring:\n${codeScans.mkString("\n")}")
  }

  test("rp ANN: refine cut is a group limit; projected scoring scan drops the vector payload") {
    val emb = spark.read.parquet(sf("embeddings"))
    val q = emb.where(org.apache.spark.sql.functions.col("vec_id") < 2)
      .select(org.apache.spark.sql.functions.col("vec_id").as("qid"),
              org.apache.spark.sql.functions.col("embedding").as("qvec"))
    val p = dedupPlan(graft.operators.Similarity.rpTopK(
      emb, "vec_id", "embedding", q, "qid", "qvec",
      k = 3, outDim = 16, refine = 20))
    // the refine cut must be a per-partition group limit, not a global sort
    assert(p.contains("WindowGroupLimit"), s"refine cut lost WindowGroupLimit:\n$p")
    // the scoring side scans the cached projections WITHOUT the vector
    // payload — cvec must be pruned from at least the pvec scan
    val pvecScans = p.linesIterator
      .filter(l => l.contains("InMemoryTableScan") && l.contains("pvec#"))
      .toVector
    assert(pvecScans.nonEmpty, s"rp lost its cached projection scan:\n$p")
    assert(pvecScans.exists(l => !l.contains("cvec#")),
      s"every projection scan drags the vector payload through scoring:\n${pvecScans.mkString("\n")}")
  }

  test("semantic dedup: cluster sizing is slim; no cartesian product") {
    val emb = spark.read.parquet(sf("embeddings"))
    val p = dedupPlan(graft.operators.Dedup.semanticSurvivors(
      emb, "vec_id", "embedding",
      graft.operators.Similarity.fixedCentroids(16, 64), threshold = 0.4))
    assert(!p.contains("CartesianProduct"), "semantic planned a cartesian product")
    val sizing = p.linesIterator
      .filter(l => l.contains("InMemoryTableScan") && l.contains("__bsz"))
      .toVector
    assert(sizing.nonEmpty, s"semantic lost its sizing cache:\n$p")
    sizing.foreach(l => assert(!l.contains("vec#"),
      s"semantic sizing shuffle carries the vector payload: $l"))
  }

  test("token-id encoding: narrow scan-bound plan, no exchange, native expression") {
    val docs = spark.read.parquet(sf("documents"))
    val p = graft.operators.TextAnalysis.tokenIds(docs, "doc_id", "text",
        vocabSize = 100)
      .queryExecution.executedPlan.toString
    assert(p.contains("vocab_encode"), "encode must be the native expression")
    assert(!p.contains("Exchange"),
      s"token-id encoding must be a narrow pass — no shuffle:\n$p")
  }

  test("shard packing: global prefix sum windows WITHIN partitions, never one task") {
    val docs = spark.read.parquet(sf("documents"))
    val p = dedupPlan(graft.operators.TextAnalysis.withPrefixOffsets(
      docs, "doc_id", org.apache.spark.sql.functions.octet_length(
        org.apache.spark.sql.functions.col("text")).cast("long"), "n_bytes"))
    // the running sum must be keyed by the sort partition id — an empty
    // partition spec would funnel the corpus through a single task
    assert(p.contains("windowspecdefinition(__pid"),
      s"prefix-sum window is not partitioned by __pid:\n$p")
  }

  test("text_ppl_buckets: the tile window is partitioned by group, never global") {
    val docs = spark.read.parquet(sf("documents"))
    val p = inspectPlan(graft.operators.TextAnalysis
      .perplexityBuckets(docs, "doc_id", "text", "lang", buckets = 3)
      .queryExecution.sparkPlan.toString)
    // an empty partition spec would funnel the whole corpus through ONE
    // sort task; CCNet's split is per-language and the plan must stay so
    assert(p.contains("windowspecdefinition(lang"),
      s"ntile window must partition by the group column:\n${p.take(800)}")
  }

  test("text_decontaminate: bloom prefilter filters below the exact semi-join") {
    val docs = spark.read.parquet(sf("documents"))
    val c = org.apache.spark.sql.functions.col _
    val p = inspectPlan(graft.operators.TextAnalysis.decontaminateReport(
        docs.where(c("doc_id") >= 20), "doc_id", "text",
        docs.where(c("doc_id") < 20), "text",
        estimatedBenchShingles = 20000L, numBits = 160000L)
      .queryExecution.sparkPlan.toString)
    assert(p.contains("might_contain"),
      s"the bloom prefilter vanished from the plan:\n${p.take(800)}")
    val lines = p.linesIterator.toVector
    val joinIdx = lines.indexWhere(_.contains("LeftSemi"))
    val filterIdx = lines.indexWhere(_.contains("might_contain"))
    assert(joinIdx >= 0 && filterIdx > joinIdx,
      s"the bloom prefilter must cut volume BELOW the semi-join " +
      s"(join@$joinIdx, filter@$filterIdx):\n$p")
  }

  test("q_zorder_layout: the 2-D box predicate pushes into the layout scan") {
    val p = plan("q_zorder_layout")
    val scan = p.linesIterator
      .find(l => l.contains("FileScan") && l.contains("zval")).getOrElse("")
    // slice the pushed-filter list itself (everything between the bracket
    // and its close) — matching the raw line tail would also hit the
    // ReadSchema column list and never fail; note the metadata string is
    // width-truncated, so assert on the leading IsNotNull/bound entries
    val pushed = scan.replaceAll(".*PushedFilters: \\[", "")
      .replaceAll("\\].*", "")
    assert(scan.contains("PushedFilters: [") &&
           pushed.contains("IsNotNull(zx)") && pushed.contains("IsNotNull(zy)") &&
           pushed.contains("GreaterThanOrEqual(zx,0)"),
      s"the zx/zy box must reach the parquet scan as pushed filters " +
      s"(that is what lets row-group stats skip):\n$p")
  }

  test("q_rollup: grouping sets expand once and aggregate partial+final — one scan") {
    val p = plan("q_rollup")
    assert(p.contains("Expand"), "rollup must plan as a single Expand")
    assert(p.contains("partial_sum"), "map-side combine missing after Expand")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1,
      "rollup must not scan the table once per grouping set")
  }

  test("q_pivot: explicit value list pivots in one aggregation — no distinct pre-scan") {
    val p = plan("q_pivot")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1,
      "pivot domain must come from config, not a distinct scan of the data")
    assert(p.contains("partial_"), "pivot aggregation lost map-side combine")
  }

  test("text_tfidf: (doc,term) counts combine map-side; top-k window is per-doc only") {
    // the plan-inspection mode (the gate row's cut erases the plan into a
    // LogicalRDD)
    val p = inspectPlan(graft.operators.TextAnalysis.tfidfTopK(
        spark.read.parquet(sf("documents")),
        "doc_id", "text", k = 5)
      .queryExecution.executedPlan.toString)
    assert(p.contains("partial_count"), "tf counting lost map-side combine")
    // the only window partitions by the doc id — never by term (a hot term
    // would funnel into one reducer's sort)
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toVector
    assert(winLines.nonEmpty && winLines.forall(_.contains("doc_id")),
      s"tfidf window must partition by doc_id:\n${winLines.mkString("\n")}")
  }

  test("dedup_lines: slim line-hash shuffle, partial first/count reduction") {
    val p = inspectPlan(graft.operators.Dedup.lineSurvivors(
        spark.read.parquet(sf("documents")),
        "doc_id", "text")
      .queryExecution.executedPlan.toString)
    // the global first/count reduction combines map-side — a banner line
    // repeated 10^8 times must cost a combiner merge, not a reducer sort
    assert(p.contains("partial_min") && p.contains("partial_count"),
      "line first/count reduction lost its map-side combine")
    // the dedup shuffle is keyed on the 8-byte line hash — line TEXT is
    // projected out before the exchange
    assert(p.contains("Exchange hashpartitioning(h#"),
      "h-keyed exchange missing below the reduction")
  }

  test("dedup_spans: window hashing is the native expression inside codegen") {
    val p = inspectPlan(graft.operators.Dedup.duplicateSpans(
        spark.read.parquet(sf("documents")),
        "doc_id", "text", n = 10)
      .queryExecution.executedPlan.toString)
    assert(p.contains("positional_shingle_hashes"),
      "span hashing must be the single-pass native expression (the HOF " +
      "composition re-tokenizes per window — measured 22s vs 1s at sf0.1)")
  }

  test("sql_functions: registered graft_* expressions stay inside codegen spans") {
    graft.functions.GraftFunctionRegistry.ensureRegistered(spark)
    val p = SparkEntry.queries("sql_functions")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // the native expressions appear by prettyName in the projection (not
    // rewritten to UDF wrappers), over ONE pruned scan with no exchange
    // before the output sort — the SQL path plans identically to the
    // DataFrame path
    Seq("shingle_hashes", "quality_lang_keep", "b64_encode", "rolling_hash64")
      .foreach(fn => assert(p.contains(fn), s"$fn missing from the physical plan"))
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1)
    assert(p.linesIterator.count(_.contains("Exchange")) == 1,
      "only the output-order range exchange belongs in this plan")
  }

  test("sim_ivf_range: a pushed filter, never a per-query sort window") {
    val p = plan("sim_ivf_range")
    // the whole point vs ivfTopK: range retrieval has no rank, so the plan
    // must contain NO window operator of any kind (a Window would mean a
    // per-query sort snuck back in) and must keep the broadcast probe join
    assert(!p.contains("Window"), p.linesIterator.find(_.contains("Window")).getOrElse(""))
    assert(p.contains("BroadcastHashJoin"), "query side lost its broadcast")
  }

  test("sim_embed_qa: defect counts combine map-side; vectors never shuffle") {
    val p = plan("sim_embed_qa")
    // Exchange lines print only the partitioning keys, never the payload,
    // so "no embedding# in the Exchange line" would be vacuously true. The
    // real pin: exactly ONE exchange (grouping only — anything extra means
    // a repartition of raw vectors appeared), sitting ABOVE the partial
    // aggregate in the tree (= the shuffle input is the combined buffers,
    // label + 8 longs, not vector rows).
    // (the gate's orderBy adds a rangepartitioning exchange over the
    // already-aggregated handful of rows — harmless, excluded here)
    val lines = p.linesIterator.toVector
    val exIdx = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    val partialIdx = lines.indexWhere(_.contains("partial_count"))
    assert(lines.count(_.contains("Exchange hashpartitioning")) == 1,
      s"expected exactly one grouping exchange:\n${lines.filter(_.contains("Exchange")).mkString("\n")}")
    assert(partialIdx >= 0, "map-side combine missing")
    assert(exIdx >= 0 && exIdx < partialIdx,
      "partial aggregate is not the exchange's child — vectors would shuffle")
  }

  test("dedup_ngram_prefix: doc-frequency order is a partial agg; no nested-loop join") {
    val docs = spark.read.parquet(sf("documents"))
    val p = inspectPlan(graft.operators.Dedup.ngramJaccardPairsPrefix(
        docs, "doc_id", "text", threshold = 0.5)
      .queryExecution.executedPlan.toString)
    // the global rare-first order costs ONE map-side-combinable count
    assert(p.contains("partial_count"), "dfreq lost its map-side combine")
    // every join in the operator is an equi-join (prefix probe, candidate
    // re-join); a nested-loop/cartesian would be the O(n^2) failure mode
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "prefix join degenerated to a non-equi join")
  }

  test("text_heavy_hitters: sketch combines map-side; probe and verify broadcast") {
    val p = plan("text_heavy_hitters")
    val lines = p.linesIterator.toVector
    // sketch build: the per-cell count must partially aggregate BEFORE its
    // exchange — after map-side combine at most depth×width cells per task
    // cross the shuffle, which is the whole point of sketching at 100 TB
    val firstExchange = lines.indexWhere(_.contains("Exchange"))
    val partialCnt = lines.lastIndexWhere(_.contains("partial_count"))
    assert(firstExchange >= 0 && partialCnt > firstExchange,
      s"sketch build lost its map-side combine:\n$p")
    // the probe reads the 4×32-cell sketch and the verify filters on the
    // candidate set — both tiny, both must broadcast, never sort-merge
    assert(lines.count(_.contains("BroadcastHashJoin")) >= 2,
      s"probe/verify joins are not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sketch-side join fell back to sort-merge:\n$p")
  }

  test("text_hll_cardinality: register aggregate combines map-side (partial ObjectHashAggregate)") {
    val p = plan("text_hll_cardinality")
    val lines = p.linesIterator.toVector
    // one 2^p-byte register buffer per (task, lang) is built map-side and
    // only those buffers cross the shuffle — the sketch's 100 TB contract.
    // TypedImperativeAggregate plans as ObjectHashAggregate with an
    // explicit partial_ mode below the exchange.
    assert(p.contains("ObjectHashAggregate"), s"sketch lost its object agg:\n$p")
    val firstExchange = lines.indexWhere(_.contains("Exchange"))
    val partialRegs = lines.lastIndexWhere(_.contains("partial_graft_hll_regs"))
    assert(firstExchange >= 0 && partialRegs > firstExchange,
      s"partial register aggregation below the exchange is missing:\n$p")
  }

  test("dedup bucket sizing runs over slim (id, key) rows — no payload in the shuffle") {
    // the round-2 regression: 128-long signatures (and embedding vectors)
    // transiting the bucket-sizing window shuffle and its persist. Pin: the
    // cached sizing relation (the one carrying __bsz) must expose ONLY the
    // id/key/size columns — never the sig/vec payload.
    val docs = spark.read.parquet(sf("documents"))
    val emb = spark.read.parquet(sf("embeddings"))
    // each thunk builds its operator inside its own plan-inspection scope —
    // the persisted intermediates must be live when the plan is printed or
    // the InMemoryTableScan substitution (rightly) disappears
    Seq[(String, String, () => org.apache.spark.sql.DataFrame)](
      ("minhash", "sig#", () => graft.operators.Dedup.minhashLshPairs(
        docs, "doc_id", "text", threshold = 0.4)),
      ("simhash", "sh#", () => graft.operators.Dedup.simhashPairs(
        docs, "doc_id", "text", maxHamming = 3)),
      ("embedding", "vec#", () => graft.operators.Dedup.embeddingCosinePairs(
        emb, "vec_id", "embedding", threshold = 0.4))
    ).foreach { case (name, payload, mk) =>
      val p = dedupPlan(mk())
      // the cached sizing relation prints as
      //   InMemoryTableScan [id#1L, band#2L, __bsz#3L, __bmin#4L]
      val sizingScans = p.linesIterator
        .filter(l => l.contains("InMemoryTableScan") && l.contains("__bsz"))
        .toVector
      assert(sizingScans.nonEmpty, s"$name lost its sizing cache:\n$p")
      sizingScans.foreach { l =>
        assert(!l.contains(payload),
          s"$name sizing shuffle carries its payload column: $l")
      }
    }
  }

  test("q_skew_salted_join: salt replication pins a shuffled-hash join") {
    val p = plan("q_skew_salted_join")
    assert(p.contains("ShuffledHashJoin"),
      s"salted join must stay a shuffled-hash join (the whole point of " +
      s"the salt is bounded hash partitions, not broadcast):\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      "replicated build side must not ALSO broadcast")
  }

  test("events_funnel / events_retention: map-side combine on the user key") {
    Seq("events_funnel", "events_retention").foreach { q =>
      val p = plan(q)
      assert(p.contains("partial_min"),
        s"$q lost its map-side partial aggregation:\n$p")
    }
  }

  test("sim_knn_graph: corpus-vs-corpus candidate join is sort-merge, never broadcast") {
    val p = plan("sim_knn_graph")
    assert(p.contains("SortMergeJoin"),
      s"cell-id join must be sort-merge (both sides are the 100 TB corpus):\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      "neither corpus side may broadcast in the knn-graph join")
    val lines = p.linesIterator.toVector
    val firstExchange = lines.indexWhere(_.contains("Exchange"))
    val partialWgl = lines.lastIndexWhere(_.contains("WindowGroupLimit"))
    assert(firstExchange >= 0 && partialWgl > firstExchange,
      s"partial WindowGroupLimit below the exchange is missing — the rank " +
      s"shuffle would carry every scored candidate edge:\n$p")
  }


  test("events_sessions: window + per-session agg share ONE user-key shuffle") {
    val p = plan("events_sessions")
    // HashPartitioning(user_id) satisfies the (user_id, session_seq)
    // aggregate's clustering, so the groupBy must NOT re-shuffle
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected exactly one hash exchange, got $hashEx:\n$p")
  }

  test("events_dau_mau: trailing-window join broadcasts the day dimension") {
    val p = plan("events_dau_mau")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the non-equi day-range join must broadcast the tiny day dim:\n$p")
  }

  test("events_activity_bitmap: partial bit_or combines map-side; day0 broadcasts") {
    val p = plan("events_activity_bitmap")
    assert(p.contains("partial_bit_or") || p.contains("partial_first") ||
           """HashAggregate.*bit_or""".r.findFirstIn(p).isDefined,
      s"mask aggregate must combine map-side:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the one-row day0 must broadcast, never shuffle the events:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
  }

  test("events_value_histogram: bin counts partial-agg; both windows share one bin shuffle") {
    val p = plan("events_value_histogram")
    assert(p.contains("partial_count"), s"bin count must combine map-side:\n$p")
    // two hash exchanges total: the (grp,bin) aggregate and the grp window
    // re-key — the cum and n windows must SHARE the second (the trailing
    // range exchange is the ORDER BY)
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 2, s"expected 2 hash exchanges, got $hashEx:\n$p")
  }

  test("dedup_edit_distance: equi-join on band blocks, no nested-loop pair scan") {
    val p = plan("dedup_edit_distance")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      s"banded blocking must plan an equi-join:\n$p")
  }

  test("dedup_edit_distance: histogram reject precedes the Levenshtein DP " +
       "in the join condition (order tripwire)") {
    // The measured 13x win (0.6s vs 8.1s at sf0.1) depends on codegen's
    // left-to-right short-circuit placing the ~19-op histogram L1 bound
    // before the ~16k-op Levenshtein DP. Catalyst does not contractually
    // preserve conjunct order, so pin it: on the physical join-condition
    // line, every histogram conjunct must appear before the first
    // levenshtein call. A Spark upgrade that reorders predicates fails
    // here loudly instead of silently regressing the bench (ADVICE r8).
    // plan-inspection mode: the gate row's localCheckpoint cut collapses
    // the final plan to Scan ExistingRDD, so inspect the pre-cut plan — the
    // one the join actually executes with.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = inspectPlan(graft.operators.Dedup.editDistancePairs(
        docs, "doc_id", "text")
      .queryExecution.executedPlan.toString)
    val condLines = p.linesIterator
      .filter(l => l.contains("levenshtein") && l.contains("abs("))
      .toSeq
    assert(condLines.nonEmpty,
      s"expected a join-condition line holding both the histogram bound " +
      s"and levenshtein:\n$p")
    condLines.foreach { l =>
      val lev = l.indexOf("levenshtein")
      // every histogram conjunct (abs(hN..) terms) must sit BEFORE the
      // first DP call — the last abs( before lev proves at least one is
      // there, and no abs(h may open after it
      assert(l.lastIndexOf("abs(", lev) >= 0,
        s"histogram reject must precede the Levenshtein DP in the join " +
        s"condition; got:\n$l")
      assert(l.indexOf("abs(h", lev) < 0,
        s"histogram conjunct reordered after the DP:\n$l")
    }
  }

  test("q_dynamic_pruning: fact scan carries a runtime dynamicpruning subquery") {
    val p = plan("q_dynamic_pruning")
    assert(p.contains("dynamicpruning"),
      s"partitioned fact scan must be runtime-pruned from the dim side:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dim must broadcast:\n$p")
  }

  test("q_exists_subquery: EXISTS pair rewrites to semi/anti joins, no re-execution") {
    val p = plan("q_exists_subquery")
    assert(p.contains("LeftSemi"), s"EXISTS must plan a left-semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must plan a left-anti join:\n$p")
    assert(!p.contains("CartesianProduct"), s"subquery decorrelation lost:\n$p")
  }

  test("q_scalar_subquery: correlated scalars become one aggregate + join, not per-row") {
    val p = plan("q_scalar_subquery")
    // the per-priority branch must NOT appear as an uncorrelated re-executed
    // subquery per row: correlation rewrites to a grouped aggregate joined in
    assert(!p.contains("CartesianProduct"), s"correlated scalar decorrelation lost:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"subquery aggregates must combine map-side:\n$p")
  }

  test("q_not_in_nullaware: NOT IN plans a null-aware anti join, never a nested loop over the big side") {
    val p = plan("q_not_in_nullaware")
    assert(p.contains("NAAJ") || p.contains("isNullAwareAntiJoin=true") ||
           p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"null-aware NOT IN shape missing:\n$p")
  }

  test("q_lateral_explode: generator inlines (no join), scan prunes to text only") {
    val p = plan("q_lateral_explode")
    assert(p.contains("Generate posexplode"), s"generator missing:\n$p")
    assert(!p.contains("Join"), s"lateral view must not plan a join:\n$p")
    val scanRe = """FileScan parquet \[text#\d+\]""".r
    assert(scanRe.findFirstIn(p).isDefined, s"scan must read only `text`:\n$p")
  }

  test("sim_int8_quant: pure narrow projection — zero exchanges, single scan") {
    val p = plan("sim_int8_quant")
    // the orderBy range exchange is the gate's presentation sort; nothing
    // else may shuffle — the quantization report itself is scan-bound
    val ex = p.linesIterator.count(_.contains("Exchange"))
    assert(ex == 1, s"expected only the presentation-sort exchange, got $ex:\n$p")
    assert(p.contains("int8_quant_stats"), s"native expression lost:\n$p")
  }

  test("events_ab_test: no single-task global window — ranking is the two-pass prefix shape") {
    val p = plan("events_ab_test")
    val lines = p.linesIterator.toVector
    // the midrank computation must NOT plan a Window with an empty
    // partition spec (that funnels every user through one task); the
    // two-pass prefix sum partitions by __pid
    val globalWindows = lines.filter(l =>
      l.trim.startsWith("Window ") && !l.contains("__pid"))
    assert(globalWindows.isEmpty,
      s"global single-task window in the rank stage:\n$globalWindows\n$p")
  }

  test("events_cohort_ltv: cohort sizes broadcast; age window partitioned by cohort") {
    val p = plan("events_cohort_ltv")
    val lines = p.linesIterator.toVector
    assert(lines.exists(_.contains("BroadcastExchange")),
      s"cohort-size table not broadcast:\n$p")
    // the cumulative-revenue window must be per-cohort, never global
    val globalWindows = lines.filter(l =>
      l.trim.startsWith("Window ") && !l.contains("cohort"))
    assert(globalWindows.isEmpty, s"non-cohort window:\n$globalWindows")
  }

  test("text_span_corruption: merge and numbering share one per-document window partitioning") {
    val p = plan("text_span_corruption")
    val lines = p.linesIterator.toVector
    // every window is doc_id-partitioned (bounded by document length)...
    val globalWindows = lines.filter(l =>
      l.trim.startsWith("Window ") && !l.contains("doc_id"))
    assert(globalWindows.isEmpty, s"non-per-doc window:\n$globalWindows")
    // ...and only selected starts reach the window: the filter on the
    // selection hash sits below the first exchange
    val firstExchange = lines.indexWhere(_.contains("Exchange"))
    val selFilter = lines.indexWhere(_.contains("Filter"))
    assert(selFilter >= 0 && firstExchange >= 0 && selFilter > firstExchange,
      s"selection filter not below the shuffle (plan order is top-down):\n$p")
  }

  test("graph_link_pred: equi-joins only — no nested-loop pair scan, bodies never shuffle") {
    val p = plan("graph_link_pred")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"nested-loop join in the triad self-join:\n$p")
    val lines = p.linesIterator.toVector
    assert(!lines.exists(l => l.contains("Exchange") && l.contains("text")),
      s"document bodies cross a shuffle:\n$p")
  }

  test("text_mlm_masks: scan-bound — only the presentation sort shuffles") {
    val p = plan("text_mlm_masks")
    // tokenize -> posexplode -> three hashes -> filter is a narrow
    // pipeline; the single exchange is the gate's orderBy
    val ex = p.linesIterator.count(_.contains("Exchange"))
    assert(ex == 1, s"expected only the presentation-sort exchange, got $ex:\n$p")
  }

  test("sim_centroid_classifier: centroids broadcast; the corpus never hash-shuffles by id") {
    val p = plan("sim_centroid_classifier")
    val lines = p.linesIterator.toVector
    // scoring joins the L-by-dim centroid table via broadcast; a
    // SortMergeJoin here would repartition the whole corpus at 100 TB
    assert(lines.exists(_.contains("Broadcast")),
      s"centroid table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-side sort-merge join in the scoring stage:\n$p")
    assert(!lines.exists(_.contains("Exchange hashpartitioning(id")),
      s"corpus shuffles by id:\n$p")
  }

  test("text_lang_mixture: two slim hash exchanges; histogram combines map-side") {
    val p = plan("text_lang_mixture")
    // exchange 1 carries the (id, seg_lang) histogram — map-side combined
    // to <= n_langs rows per doc BEFORE the shuffle (the partial_count
    // assert); exchange 2 re-keys those tiny rows by id for the two
    // per-doc windows, which must SHARE it. Repartitioning by id up
    // front would collapse to one exchange but carry one row per
    // SEGMENT (~8% of token count) instead of per (doc, lang) — the
    // two-exchange shape is the scale-right one.
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 2,
      s"expected histogram + shared-window exchanges only, got $hashEx:\n$p")
    assert(p.contains("partial_count"), s"histogram must combine map-side:\n$p")
    val windows = p.linesIterator.count(_.contains("Window ["))
    assert(windows <= 2, s"per-doc windows not shared:\n$p")
  }

  test("dedup_sorted_neighborhood: bucket equi-join (no nested loop); text never shuffles") {
    val docs = spark.read.parquet(sf("documents"))
    val p = inspectPlan(graft.operators.Dedup
      .sortedNeighborhoodPairs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString)
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      s"rank-window candidates must come from the block equi-join:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text#")),
      s"document text crosses a shuffle:\n$p")
  }

  test("text_quality_calibrated: one group exchange; slim window input") {
    val p = plan("text_quality_calibrated")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"calibration needs exactly the group exchange, got $hashEx:\n$p")
    val ex = p.linesIterator.find(_.contains("Exchange hashpartitioning")).get
    assert(!ex.contains("text#"), s"document text crosses the shuffle:\n$ex")
  }

  test("events_winsorized: bounds table broadcasts back; no body columns shuffle") {
    val p = plan("events_winsorized")
    assert(p.contains("BroadcastHashJoin"),
      s"two-row-per-group bounds must broadcast onto the re-aggregation:\n$p")
    assert(!p.contains("SortMergeJoin"), s"bounds join fell back to sort-merge:\n$p")
  }

  test("text_novelty: both aggregates combine map-side; no pair join anywhere") {
    val p = plan("text_novelty")
    assert(p.contains("partial_count"), s"df/novelty aggregation lost map-side combine:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"novelty must never generate pairs:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(!exchanges.exists(_.contains("text#")), s"text crosses a shuffle:\n$p")
  }

  test("sim_retrieval_e2e: candidate set broadcasts; document table never hash-shuffles") {
    val p = plan("sim_retrieval_e2e")
    assert(p.contains("BroadcastHashJoin"),
      s"the k-rows-per-query candidate set must broadcast onto documents:\n$p")
    // the document payload probe must not repartition the corpus by id —
    // at 100 TB that exchange would dwarf the ANN stage itself
    assert(!p.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning(doc_id")),
      s"document table shuffles by doc_id for the payload join:\n$p")
  }

  test("events_attribution: ONE user shuffle feeds one shared window; rollups combine map-side") {
    val p = plan("events_attribution")
    // first/last touch scans share a single Window over a single user_id
    // exchange — a second user shuffle (or per-function window) would
    // double the dominant cost at scale
    val userEx = p.linesIterator.count(_.contains("Exchange hashpartitioning(user_id"))
    assert(userEx == 1, s"expected exactly one user_id exchange, got $userEx:\n$p")
    // first and last scans plan as two chained Window ops over that ONE
    // exchange — more windows means the input is being re-scanned
    val windows = p.linesIterator.count(_.contains("Window ["))
    assert(windows <= 2, s"first/last must share one windowed pass:\n$p")
    assert(p.contains("partial_sum"), s"touch rollup must combine map-side:\n$p")
    assert(!p.contains("Join"),
      s"single-pass rollup needs no join at all:\n$p")
  }

  test("events_rfm: per-user agg combines map-side; corpus max broadcasts") {
    val p = plan("events_rfm")
    assert(p.contains("partial_max") && p.contains("partial_count"),
      s"per-user aggregate must combine map-side:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the one-row corpus max must ride a broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge anywhere in RFM:\n$p")
  }

  test("sim_rrf_fusion: fused top-k prunes map-side; vectors stay out of the fusion") {
    val p = plan("sim_rrf_fusion")
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-k must prune before the final window exchange:\n$p")
    // the fusion is over slim (qid, id, rank) triples — the embedding
    // column must never appear in a fusion-side exchange key or agg
    assert(!p.linesIterator.exists(l =>
        l.contains("partial_sum") && l.contains("embedding")),
      s"fusion aggregate touches vectors:\n$p")
  }

  test("text_unigram_apply: encode is a scan projection — vocab rides the plan, no join") {
    val p = plan("text_unigram_apply")
    // the learned vocabulary is a plan literal inside the native DP
    // expression (same shipping story as the BPE merge chain): the encode
    // pass must be join-free, and its only exchange is the gate orderBy
    assert(!p.contains("Join"), s"encode pass must not join:\n$p")
    assert(p.contains("unigram_segment"),
      s"native DP expression missing from the plan:\n$p")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 0, s"encode projection must not shuffle:\n$p")
  }

  test("text_bloom_decontaminate: sketch broadcasts; the probe predicate stays in codegen; no per-shingle shuffle of clean rows") {
    val p = plan("text_bloom_decontaminate")
    // the 1-row bit array must arrive via broadcast (nested-loop on a
    // single-row build side is the legal physical form of a cross join
    // with a broadcast hint), never a shuffle of the corpus side
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"bloom words must broadcast onto the corpus probe:\n$p")
    // codegen pin: the AQE initial plan's toString omits WholeStageCodegen
    // spans, so the provable form is the negative — nothing codegen-hostile
    // (UDFs, python eval) in the probe path; the bit tests are native
    // expressions and the only blackbox rows are the aggregate buffers
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      s"bloom probe must be native expressions:\n$p")
  }

  test("mm_phash_neardup: only 8-byte fingerprints shuffle — payload bytes never cross an exchange") {
    // the gate query materializes (localCheckpoint) — re-derive the
    // un-materialized join plan to see the exchanges
    import org.apache.spark.sql.functions.col
    val media = graft.operators.Multimodal.withBinaryPayload(
      spark.read.parquet(sf("documents")), "doc_id", "text", "image")
    val p = dedupPlan(graft.operators.Dedup.hammingPairs64(
      graft.operators.Multimodal.perceptualHash(media)
        .select(col("id"), col("phash").as("sh")),
      maxHamming = 3))
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, s"banding join lost its bucket exchange:\n$p")
    assert(!exchanges.exists(_.contains("payload#")),
      s"binary payloads cross a shuffle — at 100 TB that IS the job:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"near-dup must stay bucket-bounded, never all-pairs:\n$p")
  }

  test("graph_ppr: edges cached once (InMemoryTableScan per round); seeds broadcast; rank rows are the only per-round shuffle") {
    val df = SparkEntry.queries("graph_ppr")(spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    // the gate query materializes (localCheckpoint), which swallows the
    // iteration plan — re-derive the un-materialized plan to pin the
    // round shape, and keep the gate plan only for non-emptiness
    val pairs = graft.operators.Dedup.minhashLshPairs(
        spark.read.parquet(sf("documents")), "doc_id", "text",
        numHashes = 128, bands = 16, threshold = 0.4)
      .select(org.apache.spark.sql.functions.col("id_a"),
              org.apache.spark.sql.functions.col("id_b"))
    val seeds = pairs.select(org.apache.spark.sql.functions.col("id_a").as("id"))
      .where(org.apache.spark.sql.functions.expr("id % 50 = 0")).distinct()
    val rp = dedupPlan(graft.operators.Graph.personalizedPageRank(
      pairs, "id_a", "id_b", seeds, iters = 3))
    assert(rp.contains("InMemoryTableScan"),
      s"degree-annotated edges must be cached and rescanned per round:\n$rp")
    assert(rp.contains("BroadcastExchange"),
      s"seed markers and n must ride broadcasts:\n$rp")
    assert(p.nonEmpty)
  }

  test("q_basket_rules: pair self-join reads the materialized pruned view; counts combine map-side") {
    val p = plan("q_basket_rules")
    // the a-priori property is the plan: the per-basket self-join (the
    // only quadratic stage) consumes the ONCE-materialized frequent-item
    // basket view (support-filtered + width-capped before the cut) on
    // BOTH sides — the final plan must contain no lineitem FileScan at
    // all (an uncut fb replans the scan+distinct+filter subtree per
    // reference; measured double computation before the cut)
    assert(!p.contains("FileScan"),
      s"pair stage re-scans the raw table instead of the pruned cut:\n$p")
    val existingScans = p.linesIterator.count(_.contains("Scan ExistingRDD"))
    assert(existingScans >= 3,
      s"expected the cut basket views on both join sides + the basket " +
      s"count, got $existingScans ExistingRDD scans:\n$p")
    assert(p.contains("partial_count"),
      s"pair counts must combine map-side:\n$p")
    // the one-row basket count rides a broadcast, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"n_baskets must broadcast:\n$p")
  }
}
