package graft

import graft.streaming.{EpochIngest, IndexKind}

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

/** The shape of an ingest epoch: how many Spark jobs and stages a
  * steady-state epoch runs, which scans a fresh index's first batch runs,
  * and how the static barrier write sizes its joins. */
class EpochShapeSpec extends SparkSpec {

  private val aqeKey = "spark.sql.adaptive.enabled"

  /** Runs `body` once per `(group, body)` pair under that job group and
    * returns `group -> (jobs, completed stages)`. Job and stage events are
    * counted by the group their job carries; the listener bus is FIFO, so a
    * sentinel job outside every group, awaited, follows every counted event. */
  private def jobsAndStages(runs: Seq[(String, () => Unit)]): Map[String, (Int, Int)] = {
    val counts = new ConcurrentHashMap[String, (Int, Int)]()
    val stageGroup = new ConcurrentHashMap[Integer, String]()
    val sentinelSeen = new java.util.concurrent.atomic.AtomicBoolean(false)
    val add = (g: String, d: (Int, Int)) =>
      counts.merge(g, d, (a, b) => (a._1 + b._1, a._2 + b._2))
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(g) if runs.exists(_._1 == g) =>
            js.stageIds.foreach(s => stageGroup.put(s, g))
            add(g, (1, 0))
          case _ => sentinelSeen.set(true)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(stageGroup.get(e.stageInfo.stageId)).foreach(add(_, (0, 1)))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      runs.foreach { case (g, body) =>
        spark.sparkContext.setJobGroup(g, g)
        try body() finally spark.sparkContext.clearJobGroup()
      }
      sentinelSeen.set(false)
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!sentinelSeen.get() && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sentinelSeen.get(), "sentinel job event never arrived")
    } finally spark.sparkContext.removeSparkListener(listener)
    runs.map { case (g, _) => g -> Option(counts.get(g)).getOrElse((0, 0)) }.toMap
  }

  test("steady-state epoch: the job and stage count of EpochIngest.step, all four index kinds") {
    // after the backfill epoch every later epoch of a kind has one plan
    // shape: the static barrier write (the probe's persist loads, its
    // broadcasts, the write) plus the adaptive index append
    val epochs = 6
    val pinned = Map("text" -> (6, 7), "embed" -> (4, 7), "image" -> (7, 11),
                     "mm" -> (7, 11))
    val seen = IngestFixtures.kinds.map { case (name, kind) =>
      val tmp = Files.createTempDirectory(s"graft-shape-$name").toString
      val table = s"graft_spec_shape_$name"
      kind.init(spark, table, s"$tmp/idx")
      val step = EpochIngest.step(kind, table, s"$tmp/out")
      val batches = IngestFixtures.kindBatches(spark, name, epochs)
      val counts = jobsAndStages(batches.zipWithIndex.map { case (b, e) =>
        s"shape-$name-$e" -> (() => step(b, e.toLong))
      })
      spark.sql(s"DROP TABLE IF EXISTS $table")
      name -> (3 until epochs).map(e => counts(s"shape-$name-$e"))
    }
    assert(seen.forall { case (name, cs) => cs.forall(_ == pinned(name)) },
      "steady-state epochs ran (jobs, stages) " +
      seen.map { case (n, cs) => s"$n ${cs.mkString(" ")}" }.mkString("; ") +
      s", pinned $pinned")
  }

  /** Whether the executed plan `p` writes into `path`. */
  private def writesTo(p: String, path: String): Boolean =
    p.linesIterator.exists(l => l.contains("InsertIntoHadoopFsRelationCommand") &&
      l.contains(path))

  test("fresh index: the first batch of a config dedup-ingest stream reads no index before its probe") {
    val run = Files.createTempDirectory("graft-shape-fresh").toString
    val table = "graft_spec_shape_fresh"
    val inDir = IngestFixtures.docFiles(spark, run)
    val plans = executedPlans(IngestFixtures.drainDedupIngest(spark, inDir, run, table))
      .map(_.toString)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val probe = plans.indexWhere(writesTo(_, s"$run/out/epoch=0"))
    assert(probe >= 0, s"no barrier write of epoch 0 among ${plans.size} queries")
    val indexReads = plans.take(probe).filter(p =>
      p.linesIterator.exists(l => l.contains("FileScan") && l.contains(s"$run/idx")))
    assert(indexReads.isEmpty,
      s"${indexReads.size} queries read the fresh index before the probe:\n" +
      indexReads.mkString("\n"))
  }

  test("static barrier write: a batch whose postings exceed the broadcast threshold keeps the exact survivors and broadcasts no batch-derived join side") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-shape-bcast").toString
    // the batches arrive as parquet files, whose compressed size is all
    // the planner knows before the postings are loaded
    val batches = Seq(IngestFixtures.docs(0L, 1500), IngestFixtures.docs(5000L, 1500))
      .zipWithIndex.map { case (d, i) =>
        d.toDF("id", "text").coalesce(1).write.parquet(s"$tmp/in$i")
        spark.read.parquet(s"$tmp/in$i")
      }
    val kind = IndexKind.textPostings()
    val table = "graft_spec_shape_bcast"
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getAll.get(threshold)
    spark.conf.set(threshold, 256L * 1024)
    val plans = try {
      kind.init(spark, table, s"$tmp/idx")
      val step = EpochIngest.step(kind, table, s"$tmp/out")
      executedPlans(batches.zipWithIndex.foreach { case (b, e) => step(b, e.toLong) })
    } finally prior.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // the exact reference: the non-indexed operator, epoch by epoch
    def ids(df: DataFrame) = df.select("id").as[Long].collect().toSet
    val accepted0 = ids(graft.operators.Dedup.incrementalSurvivors(batches(0),
      batches(0).where("false"), "id", "text", maxDocFreq = Long.MaxValue))
    val accepted1 = ids(graft.operators.Dedup.incrementalSurvivors(batches(1),
      batches(0).where($"id".isin(accepted0.toSeq: _*)), "id", "text",
      maxDocFreq = Long.MaxValue))
    val out = spark.read.parquet(s"$tmp/out")
    assert(ids(out.where("epoch = 0")) == accepted0)
    assert(ids(out.where("epoch = 1")) == accepted1)
    assert(accepted1.size < 1500, "the fixture holds no near-copies")
    val barriers = plans.filter(p => writesTo(p.toString, s"$tmp/out/epoch="))
    assert(barriers.size == 2, s"${barriers.size} barrier writes")
    barriers.foreach { p =>
      assert(p.collectFirst { case a: AdaptiveSparkPlanExec => a }.isEmpty,
        s"the barrier write re-planned adaptively:\n$p")
      // the batch postings are too big to broadcast: they shuffle into a
      // sort-merge join, and no inner join builds a broadcast of them
      assert(p.collect { case j: SortMergeJoinExec => j }.exists(
          _.collectFirst { case s: InMemoryTableScanExec => s }.nonEmpty),
        s"the batch postings never reached a shuffled join:\n$p")
      val broadcastBatch = p.collect {
        case j: BroadcastHashJoinExec if j.joinType == Inner => j
      }.filter { j =>
        val build = if (j.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildLeft)
          j.left else j.right
        build.collectFirst { case s: InMemoryTableScanExec => s }.nonEmpty
      }
      assert(broadcastBatch.isEmpty, s"batch postings broadcast:\n$p")
    }
  }

  test("static barrier write: the caller's adaptive-execution conf reads as before after every step") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-shape-conf").toString
    val kind = IndexKind.textPostings()
    val table = "graft_spec_shape_conf"
    kind.init(spark, table, s"$tmp/idx")
    val step = EpochIngest.step(kind, table, s"$tmp/out")
    val explicitBefore = spark.conf.getAll.get(aqeKey)
    try {
      Seq(None, Some("true"), Some("false")).zipWithIndex.foreach { case (setting, e) =>
        setting.fold(spark.conf.unset(aqeKey))(spark.conf.set(aqeKey, _))
        val plans = executedPlans(
          step(IngestFixtures.docs(e * 100L, 40).toDF("id", "text"), e.toLong))
        assert(spark.conf.getAll.get(aqeKey) == setting, s"epoch $e")
        val barrier = plans.find(p => writesTo(p.toString, s"$tmp/out/epoch=$e")).get
        assert(barrier.collectFirst { case a: AdaptiveSparkPlanExec => a }.isEmpty,
          s"epoch $e re-planned adaptively:\n$barrier")
      }
      // four concurrent steps in one session, on four indexes
      spark.conf.set(aqeKey, "true")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        (0 until 4).map { i =>
          kind.init(spark, s"${table}_$i", s"$tmp/idx$i")
          val s = EpochIngest.step(kind, s"${table}_$i", s"$tmp/out$i")
          pool.submit(new Runnable {
            def run(): Unit = (0 until 2).foreach(e =>
              s(IngestFixtures.docs(i * 1000L + e * 100L, 40).toDF("id", "text"), e.toLong))
          })
        }.foreach(_.get())
      } finally pool.shutdown()
      assert(spark.conf.get(aqeKey) == "true")
      (0 until 4).foreach(i => spark.sql(s"DROP TABLE IF EXISTS ${table}_$i"))
    } finally {
      explicitBefore.fold(spark.conf.unset(aqeKey))(spark.conf.set(aqeKey, _))
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }
}
