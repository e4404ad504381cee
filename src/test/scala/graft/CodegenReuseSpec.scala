package graft

import graft.config.GraftConfig
import graft.streaming.{EpochIngest, IndexKind, Pipeline, Streams}

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

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def compilesDuring(body: => Unit): Long = {
    val before = compiles
    body
    compiles - before
  }

  /** `n` deterministic 30-word documents with ids from `firstId`; every
    * fourth repeats an earlier document with one word changed. */
  private def docs(firstId: Long, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(firstId)
    def fresh() = Seq.fill(30)(s"w${rnd.nextInt(300)}")
    val made = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    (0 until n).map { i =>
      val words =
        if (i % 4 == 3 && made.nonEmpty) made(rnd.nextInt(made.size)).updated(5, "edit")
        else fresh()
      made += words
      (firstId + i, words.mkString(" "))
    }
  }

  /** Writes each batch as one parquet file under `dir/in`, in order (a
    * file stream with `maxFilesPerTrigger = 1` reads one per epoch), and
    * returns that directory. */
  private def stageFiles(dir: String, batches: Seq[DataFrame]): String = {
    val inDir = new java.io.File(s"$dir/in"); inDir.mkdirs()
    batches.zipWithIndex.foreach { case (b, i) =>
      val part = s"$dir/b$i"
      b.coalesce(1).write.parquet(part)
      val src = new java.io.File(part).listFiles()
        .find(_.getName.startsWith("part-")).get
      val dst = new java.io.File(inDir, f"b$i%02d.parquet")
      assert(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
    }
    inDir.toString
  }

  /** Input of one index kind: a backfill epoch ten times the size of each
    * of the `epochs - 1` epochs after it. */
  private def kindBatches(kind: String, epochs: Int): Seq[DataFrame] = {
    import spark.implicits._
    val sizes = 10 +: Seq.fill(epochs - 1)(1)
    val firsts = sizes.scanLeft(0)(_ + _)
    sizes.zip(firsts).map { case (k, first) =>
      kind match {
        case "text" =>
          // every later epoch also re-crawls near-copies of backfill pages
          val backfill = docs(0L, 400).map(_._2)
          docs(first * 40L, k * 40).map { case (id, t) =>
            if (first > 0 && id % 4 == 1) (id, backfill((id % 400).toInt) + " recrawl")
            else (id, t)
          }.toDF("id", "text")
        case "embed" =>
          val rnd = new scala.util.Random(first)
          (0 until k * 40).map { i =>
            (first * 40L + i,
             Array.fill(16)(if (i % 5 == 4) 0.5f else rnd.nextFloat() - 0.5f))
          }.toDF("id", "vec")
        case "image" => graft.operators.Multimodal.renderedImagePayloads(
          spark.range(first * 6L, (first + k) * 6L).toDF("doc_id"), "doc_id")
        case "mm" => graft.operators.Multimodal.renderedIngestPayloads(
          spark.range(first * 8L, (first + k) * 8L).toDF("doc_id"), "doc_id")
      }
    }
  }

  test("codegen reuse: new epochs do not recompile EpochIngest.step's classes, all four index kinds") {
    // An epoch value inlined into generated source compiles new classes in
    // every epoch. What may still compile after epoch 2 is a plan shape
    // the JVM has not seen: the probe joins the batch with the index and
    // the planner builds the smaller side, so while the index is smaller
    // than a batch each size crossover plans a new shape (the backfill
    // epoch puts the index past every later batch from epoch 1 on), and
    // adaptive execution re-plans a query as its stages finish, so the
    // order in which they finish can split one epoch's plan differently
    // (seen in up to one epoch of six). Hence: at most a third of the
    // epochs after epoch 2 may compile anything.
    val kinds = Seq(
      "text" -> IndexKind.textPostings(),
      "embed" -> IndexKind.embedLsh(threshold = 0.95, lshBits = 4, dim = 16),
      "image" -> IndexKind.hamming(),
      "mm" -> IndexKind.familyHamming())
    val epochs = 12
    val counts = kinds.map { case (name, kind) =>
      val tmp = Files.createTempDirectory(s"graft-codegen-$name").toString
      val batches = kindBatches(name, epochs)
      val inDir = stageFiles(tmp, batches)
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
    assert(counts.forall(_._2.drop(3).count(_ != 0L) <= (epochs - 3) / 3),
      "epochs after 2 kept compiling classes; compiles per epoch: " +
      counts.map { case (n, c) => s"$n ${c.mkString(" ")}" }.mkString("; "))
  }

  /** Two ordered 40-document files for the config dedup-ingest pipeline. */
  private def docFiles(dir: String): String = {
    import spark.implicits._
    stageFiles(dir, Seq(docs(1L, 40), docs(100L, 40)).map(_.toDF("doc_id", "text")))
  }

  /** Drains `inDir` through a config dedup-ingest pipeline with its
    * checkpoint, output and index under `run`; returns the survivors. */
  private def drainDedupIngest(inDir: String, run: String, table: String): Long = {
    val conf = GraftConfig.parse(s"""
      graft {
        source { crawl { fqcn = "graft.DocPayloadSourcePlugin",
                         path = "$inDir", available-now = true,
                         sinks = [ingest] } }
        sink { ingest { type = dedup-ingest, index-table = $table,
                        index-path = "$run/idx", out-path = "$run/out" } }
      }""")
    val ps = Pipeline.start(spark, conf, s"$run/ck")
    try ps.foreach(_.query.awaitTermination())
    finally ps.foreach(p => if (p.query.isActive) p.query.stop())
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.read.parquet(s"$run/out").count()
  }

  test("codegen reuse: the second query of a restarted dedup-ingest pipeline compiles at most 2 classes") {
    // restarted twice: adaptive execution can split one drain's plan
    // differently by the order its stages finish (see above), so the
    // better of the two restarts is held to the bound
    val tmp = Files.createTempDirectory("graft-codegen-restart").toString
    val inDir = docFiles(tmp)
    val first = drainDedupIngest(inDir, s"$tmp/run0", "graft_spec_codegen_run0")
    val restarts = (1 to 2).map { i =>
      var survivors = 0L
      val n = compilesDuring {
        survivors = drainDedupIngest(inDir, s"$tmp/run$i", s"graft_spec_codegen_run$i")
      }
      assert(first > 0L && survivors == first, s"survivors $first then $survivors")
      n
    }
    assert(restarts.min <= 2L, s"the restarted queries compiled ${restarts.mkString(" and ")} classes")
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
    val tmp = Files.createTempDirectory("graft-codegen-conf").toString
    val inDir = docFiles(tmp)
    val explicitBefore = spark.conf.getAll.get(isolationKey)
    try {
      spark.conf.unset(isolationKey)
      assert(drainDedupIngest(inDir, s"$tmp/unset", "graft_spec_codegen_unset") > 0L)
      assert(!spark.conf.getAll.contains(isolationKey))
      assert(spark.conf.get(isolationKey) == "true")
      spark.conf.set(isolationKey, "true")
      assert(drainDedupIngest(inDir, s"$tmp/set", "graft_spec_codegen_set") > 0L)
      assert(spark.conf.getAll.get(isolationKey).contains("true"))
    } finally explicitBefore.fold(spark.conf.unset(isolationKey))(
      spark.conf.set(isolationKey, _))
  }

  test("Streams.start: four concurrent starts in one session all run without isolation") {
    val tmp = Files.createTempDirectory("graft-codegen-threads").toString
    val inDir = docFiles(tmp)
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
    val inDir = docFiles(tmp)
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
