package graft

import graft.streaming.{EpochIngest, Streams}

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** A generated class compiles once per JVM: neither a new epoch nor a new
  * query of the same shape may make Spark compile code it has compiled
  * before. Compiles are read from `CodegenMetrics`' compilation-time
  * histogram, whose count grows by one per class compiled on any thread,
  * driver and executor alike in local mode. */
class CodegenReuseSpec extends SparkSpec {

  private val isolationKey = "spark.sql.artifact.isolation.enabled"
  private val stockFs = "org.apache.hadoop.fs.local.LocalFs"

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def compilesDuring(body: => Unit): Long = {
    val before = compiles
    body
    compiles - before
  }

  test("codegen reuse: new epochs do not recompile EpochIngest.step's classes, all four index kinds") {
    // An epoch value inlined into generated source compiles new classes in
    // every epoch. The probe's barrier write is one static plan, so an
    // epoch after the first two plans the shapes the JVM has compiled,
    // with one exception in the text probe: the anti-join's generated code
    // depends on whether its broadcast dropped ids are unique, which the
    // data decides (one near-copy per dropped doc, or more), and the
    // second variant compiles once, when it first occurs. Hence: no kind
    // compiles after epoch 2, except text in at most one epoch (measured:
    // text at epoch 6, every other kind none, in three full runs).
    val epochs = 12
    val counts = IngestFixtures.kinds.map { case (name, kind) =>
      val tmp = Files.createTempDirectory(s"graft-codegen-$name").toString
      val batches = IngestFixtures.kindBatches(spark, name, epochs)
      val inDir = IngestFixtures.stageFiles(tmp, batches)
      val table = s"graft_spec_codegen_$name"
      kind.init(spark, table, s"$tmp/idx")
      val step = EpochIngest.step(kind, table, s"$tmp/out")
      val perEpoch = new java.util.concurrent.ConcurrentSkipListMap[Long, Long]()
      Streams.start(spark.readStream.schema(batches.head.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir))(_
        .option("checkpointLocation", s"$tmp/ck")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) =>
          perEpoch.put(id, compilesDuring(step(b, id)))
          ()
        }).awaitTermination()
      assert(spark.read.parquet(s"$tmp/out").count() > 0L, s"$name accepted nothing")
      spark.sql(s"DROP TABLE IF EXISTS $table")
      name -> (0L until epochs).map(e => perEpoch.getOrDefault(e, -1L))
    }
    val allowed = Map("text" -> 1).withDefaultValue(0)
    assert(counts.forall { case (n, c) => c.drop(3).count(_ != 0L) <= allowed(n) },
      "epochs after 2 kept compiling classes; compiles per epoch: " +
      counts.map { case (n, c) => s"$n ${c.mkString(" ")}" }.mkString("; "))
  }

  /** Drains `inDir` through a config dedup-ingest pipeline with its
    * checkpoint, output and index under `run`; returns the survivors. */
  private def drainDedupIngest(inDir: String, run: String, table: String): Long = {
    IngestFixtures.drainDedupIngest(spark, inDir, run, table)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.read.parquet(s"$run/out").count()
  }

  test("codegen reuse: the second query of a restarted dedup-ingest pipeline compiles at most 2 classes") {
    // restarted twice, and neither restart may compile anything: the
    // probe plans statically, so a restart of the same shape finds every
    // class compiled (measured: 0 and 0 in three full runs)
    val tmp = Files.createTempDirectory("graft-codegen-restart").toString
    val inDir = IngestFixtures.docFiles(spark, tmp)
    val first = drainDedupIngest(inDir, s"$tmp/run0", "graft_spec_codegen_run0")
    val restarts = (1 to 2).map { i =>
      var survivors = 0L
      val n = compilesDuring {
        survivors = drainDedupIngest(inDir, s"$tmp/run$i", s"graft_spec_codegen_run$i")
      }
      assert(first > 0L && survivors == first, s"survivors $first then $survivors")
      n
    }
    assert(restarts.forall(_ == 0L), s"the restarted queries compiled ${restarts.mkString(" and ")} classes")
  }

  /** A stream over `dir` that aggregates each micro-batch; returns the
    * artifact-isolation setting its stream session read. */
  private def aggregateStream(dir: String, ck: String): String = {
    val seen = new java.util.concurrent.atomic.AtomicReference[String]()
    val src = spark.readStream.schema("doc_id BIGINT, text STRING").parquet(dir)
      .select(col("doc_id") % 7 as "k", length(col("text")) as "n")
    Streams.start(src)(_
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        seen.set(b.sparkSession.conf.get(isolationKey))
        b.groupBy("k").agg(sum("n")).collect()
        ()
      }).awaitTermination()
    seen.get()
  }

  test("Streams.start: the caller's artifact-isolation conf reads as before, unset and explicitly true") {
    // the key that names the filesystem of `file:` is one more input: the
    // caller's session conf of it reads as before too
    val tmp = Files.createTempDirectory("graft-codegen-conf").toString
    val inDir = IngestFixtures.docFiles(spark, tmp)
    val explicit = Seq(isolationKey -> "true", Streams.localFsKey -> stockFs)
    val before = explicit.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    try {
      explicit.foreach { case (k, _) => spark.conf.unset(k) }
      assert(drainDedupIngest(inDir, s"$tmp/unset", "graft_spec_codegen_unset") > 0L)
      explicit.foreach { case (k, _) => assert(!spark.conf.getAll.contains(k), k) }
      assert(spark.conf.get(isolationKey) == "true")
      explicit.foreach { case (k, v) => spark.conf.set(k, v) }
      assert(drainDedupIngest(inDir, s"$tmp/set", "graft_spec_codegen_set") > 0L)
      explicit.foreach { case (k, v) => assert(spark.conf.getAll.get(k).contains(v), k) }
    } finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("Streams.start: a caller-set filesystem for file: is kept, in the session conf and in the Hadoop conf") {
    import ProcessStarts._
    val tmp = Files.createTempDirectory("graft-codegen-fs").toString
    val inDir = IngestFixtures.docFiles(spark, tmp)
    val fromLogs = Seq("CheckpointFileManager", "HDFSMetadataLog")
    def logForks(ck: String): Int =
      during(aggregateStream(inDir, s"$tmp/$ck"))
        .count(e => frames(e).exists(f => fromLogs.exists(f.contains)))
    assert(logForks("graft") == 0)
    // the session conf overrides the context's Hadoop conf for the stream
    spark.conf.set(Streams.localFsKey, stockFs)
    try assert(logForks("session") > 0)
    finally spark.conf.unset(Streams.localFsKey)
    // a value set in the context's Hadoop conf is not replaced
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val (prior, priorSource) =
      (hadoopConf.get(Streams.localFsKey), hadoopConf.getPropertySources(Streams.localFsKey).head)
    hadoopConf.set(Streams.localFsKey, stockFs)
    try {
      assert(logForks("hadoop") > 0)
      assert(hadoopConf.get(Streams.localFsKey) == stockFs)
    } finally hadoopConf.set(Streams.localFsKey, prior, priorSource)
    assert(logForks("after") == 0)
  }

  test("Streams.start: four concurrent starts in one session all run without isolation") {
    val tmp = Files.createTempDirectory("graft-codegen-threads").toString
    val inDir = IngestFixtures.docFiles(spark, tmp)
    assert(aggregateStream(inDir, s"$tmp/warm") == "false")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    var seen = Seq.empty[String]
    val n = try compilesDuring {
      val runs = (0 until 4).map { i =>
        pool.submit(() => aggregateStream(inDir, s"$tmp/ck$i"))
      }
      seen = runs.map(_.get())
    } finally pool.shutdown()
    assert(seen == Seq.fill(4)("false"), s"stream sessions read isolation $seen")
    assert(n == 0L, s"four concurrent streams of a warm shape compiled $n classes")
  }

  test("Streams.start: a session that has added artifacts keeps isolation") {
    val tmp = Files.createTempDirectory("graft-codegen-artifact").toString
    val inDir = IngestFixtures.docFiles(spark, tmp)
    val jar = new java.io.File(s"$tmp/empty.jar")
    new java.util.jar.JarOutputStream(new java.io.FileOutputStream(jar)).close()
    val session = spark.newSession()
    session.addArtifact(jar.getPath)
    val seen = new java.util.concurrent.atomic.AtomicReference[String]()
    Streams.start(session.readStream.schema("doc_id BIGINT, text STRING").parquet(inDir))(_
      .option("checkpointLocation", s"$tmp/ck")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        seen.set(b.sparkSession.conf.get(isolationKey)); ()
      }).awaitTermination()
    assert(seen.get() == "true")
  }
}
