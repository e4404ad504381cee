package graft

import graft.config.GraftConfig
import graft.streaming.{EpochIngest, IndexKind, Pipeline, Streams}

import java.net.{InetSocketAddress, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpServer
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** The `jdk.ProcessStart` events of a block, read from an in-process JFR
  * recording. */
object ProcessStarts {
  def during(body: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft-process-starts", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  def command(e: RecordedEvent): String = e.getString("command")

  def frames(e: RecordedEvent): Seq[String] =
    Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
      .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")

  def describe(es: Seq[RecordedEvent]): String =
    es.groupBy(command(_).split(' ').head).map { case (c, g) => s"${g.size}x $c" }
      .mkString(", ")
}

/** Streams started through [[Streams.start]] write their checkpoint logs
  * without starting a process: with no native Hadoop library, the stock
  * local filesystem forks `chmod` for each created log file and `readlink`
  * for each rename. */
class ChildProcessSpec extends SparkSpec {
  import ProcessStarts._

  test("a config http-push → interceptors → http pipeline starts no process in 8 micro-batches") {
    val work = Files.createTempDirectory("graft-proc-relay")
    val received = new AtomicLong()
    val receiver = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 16)
    receiver.createContext("/", ex => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      received.addAndGet(body.split('\n').count(_.nonEmpty))
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    receiver.start()
    val port = { val ss = new java.net.ServerSocket(0); try ss.getLocalPort finally ss.close() }
    val conf = GraftConfig.parse(s"""
      graft {
        source { relay_in { type = http-push, listen-port = $port,
          trigger-interval = 50ms, interceptors = [drop_debug, enrich], sinks = [relay] } }
        interceptor {
          drop_debug { fqcn = "graft.interceptor.RegexFilter", priority = 90,
                       pattern = "^(INFO|WARN) " }
          enrich { fqcn = "graft.interceptor.HeaderEnrich", priority = 10,
                   headers { pipeline = relay } }
        }
        sink { relay { type = http, remote-url = "http://127.0.0.1:${receiver.getAddress.getPort}/",
                       batch-size = 64 } }
      }""")
    val client = HttpClient.newHttpClient()
    // one request per micro-batch: the 201 comes after its batch commits
    def push(i: Int): Unit = {
      val body = (0 until 20).map(j => s"${if (j % 4 == 0) "DEBUG" else "INFO"} r$i e$j").mkString("\n")
      val resp = client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.discarding())
      assert(resp.statusCode() == 201, s"request $i: ${resp.statusCode()}")
    }
    val ps = Pipeline.start(spark, conf, work.resolve("ck").toString)
    try {
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      while (graft.sources.http.HttpPushRegistry.lookup(port).isEmpty) {
        ps.head.query.exception.foreach(e => throw e)
        assert(System.nanoTime() < deadline, "http-push endpoint never bound")
        Thread.sleep(20)
      }
      push(0)
      val batchesBefore = ps.head.query.recentProgress.count(_.numInputRows > 0)
      // Spark deletes a collected session's artifact directory with `rm`
      // when the garbage collector gets to it, whatever the pipeline does
      val starts = during((1 to 8).foreach(push))
        .filterNot(e => frames(e).exists(_.contains("ArtifactManager")))
      val batches = ps.head.query.recentProgress.count(_.numInputRows > 0) - batchesBefore
      assert(batches >= 8, s"$batches micro-batches with input")
      assert(starts.size == 0, s"processes started over 8 micro-batches: ${describe(starts)}")
      assert(received.get == 9L * 15, s"${received.get} events reached the receiver")
    } finally {
      ps.foreach(_.query.stop())
      graft.sources.http.HttpPushRegistry.remove(port)
      receiver.stop(0)
    }
  }

  test("8 text ingest epochs: no process from the checkpoint logs, the rest bounded per epoch") {
    val epochs = 8
    val tmp = Files.createTempDirectory("graft-proc-ingest").toString
    val batches = IngestFixtures.kindBatches(spark, "text", epochs)
    val inDir = IngestFixtures.stageFiles(tmp, batches)
    val table = "graft_spec_proc_text"
    val kind = IndexKind.textPostings()
    kind.init(spark, table, s"$tmp/idx")
    val step = EpochIngest.step(kind, table, s"$tmp/out")
    val ran = new AtomicLong()
    val starts = during {
      Streams.start(spark.readStream.schema(batches.head.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir))(_
        .option("checkpointLocation", s"$tmp/ck")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) => step(b, id); ran.incrementAndGet(); () }
      ).awaitTermination()
    }
    spark.sql(s"DROP TABLE IF EXISTS $table")
    assert(ran.get == epochs)
    val logFrames = Seq("CheckpointFileManager", "HDFSMetadataLog")
    val fromLogs = starts.filter(e => frames(e).exists(f => logFrames.exists(f.contains)))
    info(s"${starts.size} processes in $epochs epochs: ${describe(starts)}")
    assert(fromLogs.size == 0, s"processes started by the checkpoint logs: ${describe(fromLogs)}")
    // what is left is `chmod` from writes through Hadoop's `FileSystem` API
    // (Parquet task files, the output committer's job setup and commit, the
    // epoch markers), Spark's session-artifact cleanup (`rm`) and one
    // `getconf`: measured 291 and 292 in 8 epochs
    assert(starts.size <= epochs * 40,
      s"${starts.size} processes in $epochs epochs: ${describe(starts)}")
  }
}
