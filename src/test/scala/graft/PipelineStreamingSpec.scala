package graft

import graft.config.GraftConfig
import graft.event.Event
import graft.streaming.{BatchSemantics, EpochIngest, IndexKind, Pipeline, SinkPlugin,
  SourcePlugin}

import java.nio.file.Files

/** FQCN-loadable source: a finite in-memory stream (reference extensibility
  * contract — any user class reachable on the classpath, Source.scala:123-149). */
class TestSourcePlugin(cfg: GraftConfig) extends SourcePlugin {
  override def build(spark: org.apache.spark.sql.SparkSession,
                     sc: GraftConfig): org.apache.spark.sql.Dataset[Event] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders.product[Event]
    val ms = MemoryStream[Event]
    val n = sc.getInt("n-events", 3)
    ms.addData((1 to n).map(i => Event(s"plugin-$i", Map("i" -> i.toString))))
    ms.toDS()
  }
}

/** FQCN-loadable media source for the config-declared ingest DAG: streams a
  * `(id, payload)` parquet directory as Events — payload bytes ride base64
  * in the body (the reference's opaque-bytes event contract), the id in a
  * header. One file per micro-batch so epochs match the fixture batches. */
class MmPayloadSourcePlugin(cfg: GraftConfig) extends SourcePlugin {
  override def build(spark: org.apache.spark.sql.SparkSession,
                     sc: GraftConfig): org.apache.spark.sql.Dataset[Event] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    implicit val enc = org.apache.spark.sql.Encoders.product[Event]
    spark.readStream
      .schema(StructType(Seq(StructField("id", LongType),
                             StructField("payload", BinaryType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(sc.getString("path"))
      .select(base64(col("payload")).as("body"),
              map(lit("id"), col("id").cast("string")).as("headers"))
      .as[Event]
  }
}

/** FQCN-loadable vector source for the embed-ingest config test: `(vec_id,
  * embedding)` parquet files arrive as Events with the vector as a JSON
  * float array in the body — the EmbedIngestSink default wire format. */
class VecPayloadSourcePlugin(cfg: GraftConfig) extends SourcePlugin {
  override def build(spark: org.apache.spark.sql.SparkSession,
                     sc: GraftConfig): org.apache.spark.sql.Dataset[Event] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    implicit val enc = org.apache.spark.sql.Encoders.product[Event]
    spark.readStream
      .schema(StructType(Seq(StructField("id", LongType),
                             StructField("vec", ArrayType(FloatType)))))
      .option("maxFilesPerTrigger", 1)
      .parquet(sc.getString("path"))
      .select(to_json(col("vec")).as("body"),
              map(lit("id"), col("id").cast("string")).as("headers"))
      .as[Event]
  }
}

/** FQCN-loadable document source for the dedup-ingest config test:
  * `(doc_id, text)` parquet files arrive as Events with the text in the
  * body — the DedupIngestSink default wire format. */
class DocPayloadSourcePlugin(cfg: GraftConfig) extends SourcePlugin {
  override def build(spark: org.apache.spark.sql.SparkSession,
                     sc: GraftConfig): org.apache.spark.sql.Dataset[Event] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    implicit val enc = org.apache.spark.sql.Encoders.product[Event]
    spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
                             StructField("text", StringType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(sc.getString("path"))
      .select(col("text").as("body"),
              map(lit("id"), col("doc_id").cast("string")).as("headers"))
      .as[Event]
  }
}

/** FQCN-loadable sink: collects bodies into a static buffer. */
class TestSinkPlugin extends SinkPlugin {
  override def build(cfg: GraftConfig): org.apache.spark.sql.DataFrame => Unit =
    batch => TestSinkPlugin.received.addAll(
      java.util.Arrays.asList(batch.collect().map(_.getString(0)): _*))
}
object TestSinkPlugin {
  val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

class PipelineStreamingSpec extends SparkSpec {

  test("FQCN plugin source and sink assemble from config by class name") {
    TestSinkPlugin.received.clear()
    val work = Files.createTempDirectory("graft-plugin")
    val conf = GraftConfig.parse(s"""
      graft {
        source { s1 { fqcn = "graft.TestSourcePlugin", n-events = 4,
                      sinks = [collector] } }
        sink { collector { fqcn = "graft.TestSinkPlugin" } }
      }""")
    val ps = Pipeline.start(spark, conf, work.resolve("ck").toString)
    ps.foreach(_.query.processAllAvailable())
    ps.foreach(_.query.stop())
    import scala.jdk.CollectionConverters._
    assert(TestSinkPlugin.received.asScala.toSet ==
      Set("plugin-1", "plugin-2", "plugin-3", "plugin-4"))
  }

  test("config-assembled pipeline: directory source → chain → file sink") {
    val work = Files.createTempDirectory("graft-pipe")
    val in = work.resolve("in"); Files.createDirectories(in)
    Files.write(in.resolve("a.txt"), "one\nERROR two\nthree\n".getBytes)
    val conf = GraftConfig.parse(s"""
      graft {
        source { s1 { type = directory, path = "$in",
                      interceptors = [noerr], sinks = [out] } }
        interceptor { noerr { fqcn = "graft.interceptor.Transparent" } }
        sink { out { type = file, path = "${work.resolve("out")}" } }
      }""")
    val ps = Pipeline.start(spark, conf, work.resolve("ck").toString)
    ps.foreach(_.query.processAllAvailable())
    ps.foreach(_.query.stop())
    val out = spark.read.parquet(work.resolve("out").toString)
    assert(out.count() == 3)
    assert(out.columns.toSet == Set("body", "headers"))
  }

  test("line-offsets directory source emits per-line byte offset (off) headers") {
    val work = Files.createTempDirectory("graft-off")
    val in = work.resolve("in"); Files.createDirectories(in)
    // multi-byte chars so byte offsets differ from char offsets; CRLF line;
    // trailing newline must not produce an empty final event
    val content = "aé\nb\r\n日本語\nlast\n"
    Files.write(in.resolve("a.txt"), content.getBytes("UTF-8"))
    val conf = GraftConfig.parse(s"""
      graft {
        source { s1 { type = directory, path = "$in", line-offsets = true,
                      sinks = [out] } }
        sink { out { type = file, path = "${work.resolve("out")}" } }
      }""")
    val ps = Pipeline.start(spark, conf, work.resolve("ck").toString)
    ps.foreach(_.query.processAllAvailable())
    ps.foreach(_.query.stop())
    val rows = spark.read.parquet(work.resolve("out").toString)
      .collect()
      .map(r => r.getString(0) -> r.getMap[String, String](1)("off").toLong)
      .sortBy(_._2)
    // "aé" = 3 bytes + \n -> next at 4; "b\r\n" -> next at 4+3=7;
    // "日本語" = 9 bytes + \n -> next at 7+10=17
    assert(rows.toSeq == Seq(("aé", 0L), ("b", 4L), ("日本語", 7L), ("last", 17L)))
    val fn = spark.read.parquet(work.resolve("out").toString)
      .collect().head.getMap[String, String](1)("fn")
    assert(fn.endsWith("a.txt"))
  }

  test("multi-sink routing fan-out delivers disjoint slices") {
    val work = Files.createTempDirectory("graft-route")
    val in = work.resolve("in"); Files.createDirectories(in)
    Files.write(in.resolve("a.txt"), "apple\nbanana\navocado\ncherry\n".getBytes)
    val conf = GraftConfig.parse(s"""
      graft {
        source { s1 { type = directory, path = "$in", sinks = [a_sink, rest] } }
        sink {
          a_sink { type = file, path = "${work.resolve("a")}",
                   accept = "body LIKE 'a%'" }
          rest   { type = file, path = "${work.resolve("rest")}" }
        }
      }""")
    val ps = Pipeline.start(spark, conf, work.resolve("ck").toString)
    ps.foreach(_.query.processAllAvailable())
    ps.foreach(_.query.stop())
    val a = spark.read.parquet(work.resolve("a").toString)
      .collect().map(_.getString(0)).toSet
    val rest = spark.read.parquet(work.resolve("rest").toString)
      .collect().map(_.getString(0)).toSet
    assert(a == Set("apple", "avocado"))
    assert(rest == Set("banana", "cherry"))
  }

  test("restart from checkpoint processes only new files (at-least-once recovery)") {
    val work = Files.createTempDirectory("graft-recover")
    val in = work.resolve("in"); Files.createDirectories(in)
    Files.write(in.resolve("a.txt"), "a1\na2\n".getBytes)
    val conf = GraftConfig.parse(s"""
      graft {
        source { s1 { type = directory, path = "$in", sinks = [out] } }
        sink { out { type = file, path = "${work.resolve("out")}" } }
      }""")
    val ck = work.resolve("ck").toString
    val p1 = Pipeline.start(spark, conf, ck)
    p1.foreach(_.query.processAllAvailable())
    p1.foreach(_.query.stop())
    // second batch of input arrives while the query is down
    Files.write(in.resolve("b.txt"), "b1\n".getBytes)
    val p2 = Pipeline.start(spark, conf, ck)
    p2.foreach(_.query.processAllAvailable())
    p2.foreach(_.query.stop())
    val bodies = spark.read.parquet(work.resolve("out").toString)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(bodies == Seq("a1", "a2", "b1")) // no loss, no duplication
  }

  test("events-parquet source type replays the driver corpus as a stream") {
    val work = Files.createTempDirectory("graft-events-src")
    val conf = GraftConfig.parse(s"""
      graft {
        source { s1 { type = events-parquet,
                      path = "/root/testdata/sf0.001/events.parquet",
                      sinks = [out] } }
        sink { out { type = file, path = "${work.resolve("out")}" } }
      }""")
    val ps = Pipeline.start(spark, conf, work.resolve("ck").toString)
    ps.foreach(_.query.processAllAvailable())
    ps.foreach(_.query.stop())
    val out = spark.read.parquet(work.resolve("out").toString)
    assert(out.count() == 1000) // sf0.001 events rows
    val sample = out.limit(1).collect()(0)
    assert(sample.getMap[String, String](1).keys.toSet ==
      Set("event_type", "user_id", "event_id"))
  }

  test("batch semantics config validation (reference parity)") {
    intercept[IllegalArgumentException](BatchSemantics.Config(1, 1000))
    intercept[IllegalArgumentException](BatchSemantics.Config(0, 0))
    BatchSemantics.Config(0, 1000) // timeout-only ok
    BatchSemantics.Config(16, 0)   // size-only ok
  }

  test("static batching splits per tag at the size boundary in order") {
    val df = spark.createDataFrame(
      (1 to 7).map(i => ("A", s"a$i", i)) ++ (1 to 3).map(i => ("B", s"b$i", i)))
      .toDF("tag", "body", "ord")
    val out = BatchSemantics.batchByTagStatic(df, "tag", "body", "ord", batchSize = 3)
      .collect().map(r => (r.getAs[String]("tag"), r.getAs[Long]("batch_idx")) ->
        (r.getAs[Long]("batch_n"), r.getAs[String]("batch_body"))).toMap
    assert(out(("A", 0L)) == (3L, "a1\na2\na3"))
    assert(out(("A", 1L)) == (3L, "a4\na5\na6"))
    assert(out(("A", 2L)) == (1L, "a7"))
    assert(out(("B", 0L)) == (3L, "b1\nb2\nb3"))
  }

  test("unknown source/sink names fail at assembly (reference parity)") {
    val conf = GraftConfig.parse("""
      graft { source { s1 { type = devzero, sinks = [nope] } } sink { } }""")
    intercept[IllegalArgumentException](
      Pipeline.start(spark, conf, Files.createTempDirectory("x").toString))
  }

  test("line-offsets source truncates over-length lines in BYTES at a char boundary") {
    val work = Files.createTempDirectory("graft-trunc")
    val in = work.resolve("in"); Files.createDirectories(in)
    // "日本語xyz" = 12 bytes; a 7-byte cap lands INSIDE 語 (bytes 6..8), so
    // the cut must back up to the char boundary at 6 — not cut mid-char,
    // and not keep 7 *characters* (which would be 15 bytes here)
    Files.write(in.resolve("a.txt"), "日本語xyz\nok\n".getBytes("UTF-8"))
    val conf = GraftConfig.parse(s"""
      graft {
        source { s1 { type = directory, path = "$in", line-offsets = true,
                      max-line-length = 7, sinks = [out] } }
        sink { out { type = file, path = "${work.resolve("out")}" } }
      }""")
    val ps = Pipeline.start(spark, conf, work.resolve("ck").toString)
    ps.foreach(_.query.processAllAvailable())
    ps.foreach(_.query.stop())
    val bodies = spark.read.parquet(work.resolve("out").toString)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(bodies == Seq("ok", "日本"))
    bodies.foreach(b => assert(b.getBytes("UTF-8").length <= 7))
  }

  test("drop-mode line guard bounds BYTES, not characters") {
    import graft.sources.Sources
    val work = Files.createTempDirectory("graft-drop")
    val in = work.resolve("in"); Files.createDirectories(in)
    // "日本" = 2 chars but 6 bytes: a 4-byte cap must DROP it
    Files.write(in.resolve("a.txt"), "日本\nab\n".getBytes("UTF-8"))
    val kept = Sources.directoryBatch(spark, in.toString,
        maxLineLength = 4, truncateOverLength = false)
      .collect().map(_.body).toSeq
    assert(kept == Seq("ab"))
  }

  test("a section declaring both type and fqcn fails loudly (fqcn is the selector)") {
    val srcConf = GraftConfig.parse(s"""
      graft {
        source { s1 { type = devzero, fqcn = "graft.TestSourcePlugin",
                      sinks = [out] } }
        sink { out { type = devnull } }
      }""")
    val e1 = intercept[IllegalArgumentException](
      Pipeline.start(spark, srcConf, Files.createTempDirectory("x1").toString))
    assert(e1.getMessage.contains("both type") && e1.getMessage.contains("fqcn"))
    val sinkConf = GraftConfig.parse(s"""
      graft {
        source { s1 { type = devzero, sinks = [out] } }
        sink { out { type = devnull, fqcn = "graft.TestSinkPlugin" } }
      }""")
    val e2 = intercept[IllegalArgumentException](
      Pipeline.start(spark, sinkConf, Files.createTempDirectory("x2").toString))
    assert(e2.getMessage.contains("both type") && e2.getMessage.contains("fqcn"))
  }

  test("kafka projections run inside a live stream: null-value skip + topic routing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.Sources
    import graft.sinks.Sinks
    import org.apache.spark.sql.DataFrame
    implicit val sqlCtx = spark.sqlContext
    implicit val enc =
      org.apache.spark.sql.Encoders.product[(Array[Byte], Array[Byte], String, Int)]
    // the kafka connector's output shape (key, value, topic, partition)
    val ms = MemoryStream[(Array[Byte], Array[Byte], String, Int)]
    ms.addData(Seq(
      (null, "v1".getBytes("UTF-8"), "t-a", 0),
      (null, null, "t-a", 0), // tombstone: null value must be skipped
      ("k".getBytes("UTF-8"), "v2".getBytes("UTF-8"), "t-b", 1)))
    val kafkaShaped = ms.toDF().toDF("key", "value", "topic", "partition")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]()
    val q = Sources.kafkaRecordsAsEvents(kafkaShaped).toDF().writeStream
      .option("checkpointLocation", Files.createTempDirectory("kck").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // sink-side projection under the same epoch barrier: per-event
        // topic header beats the static topic; uuid keys fill in
        Sinks.kafkaRecords(batch, staticTopic = Some("fallback"),
            topicHeader = Some(Event.Headers.KafkaTopic))
          .collect().foreach(r => got.add((r.getAs[String]("value"),
            r.getAs[String]("topic"), r.getAs[String]("key"))))
      }.start()
    q.processAllAvailable(); q.stop()
    import scala.jdk.CollectionConverters._
    val rows = got.asScala.toVector.sortBy(_._1)
    assert(rows.map(r => (r._1, r._2)) == Vector("v1" -> "t-a", "v2" -> "t-b"))
    assert(rows.map(_._3).distinct.size == 2, "uuid keys must be distinct")
  }

  test("stream-stream interval join: live pairing across batches, late rows dropped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.DataFrame
    import graft.streaming.StreamJoins
    implicit val sqlCtx = spark.sqlContext
    implicit val enc =
      org.apache.spark.sql.Encoders.product[(Long, Long, java.sql.Timestamp)]
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val msP = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val msV = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = StreamJoins.intervalJoin(
      msP.toDF().toDF("user_id", "purchase_id", "p_ts"), "p_ts", "10 minutes",
      msV.toDF().toDF("user_id", "view_id", "v_ts"), "v_ts", "10 minutes",
      "user_id", lowerMs = -1800000L, upperMs = 0L)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = joined.writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("sjck").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.collect().foreach(r => got.add(
          (r.getAs[Long]("purchase_id"), r.getAs[Long]("view_id"))))
      }.start()
    // batch A at ~t=600min: view 15 min before the purchase pairs; a view
    // 45 min before is outside the 30-minute interval
    msP.addData(Seq((1L, 100L, ts(600))))
    msV.addData(Seq((1L, 200L, ts(585)), (1L, 201L, ts(555))))
    q.processAllAvailable()
    // batch B at ~t=720min advances the watermark to ~710min
    msP.addData(Seq((2L, 101L, ts(720))))
    msV.addData(Seq((2L, 202L, ts(700))))
    q.processAllAvailable()
    // batch C: hours behind the watermark on both sides — must be dropped,
    // even though the pair satisfies the join condition
    msP.addData(Seq((3L, 102L, ts(100))))
    msV.addData(Seq((3L, 203L, ts(90))))
    q.processAllAvailable()
    q.stop()
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet == Set(100L -> 200L, 101L -> 202L),
      s"got ${got.asScala.toSet}")
  }

  test("stream-stream LEFT OUTER interval join: null rows flush after the watermark passes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.DataFrame
    import graft.streaming.StreamJoins
    implicit val sqlCtx = spark.sqlContext
    implicit val enc =
      org.apache.spark.sql.Encoders.product[(Long, Long, java.sql.Timestamp)]
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val msP = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val msV = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = StreamJoins.intervalJoin(
      msP.toDF().toDF("user_id", "purchase_id", "p_ts"), "p_ts", "10 minutes",
      msV.toDF().toDF("user_id", "view_id", "v_ts"), "v_ts", "10 minutes",
      "user_id", lowerMs = -1800000L, upperMs = 0L, joinType = "left_outer")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = joined.writeStream
      .option("checkpointLocation", Files.createTempDirectory("sjlck").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.collect().foreach { r =>
          val v = if (r.isNullAt(r.fieldIndex("view_id"))) -1L
                  else r.getAs[Long]("view_id")
          got.add((r.getAs[Long]("purchase_id"), v))
        }
      }.start()
    // P100 matches V200; P101 has NO view in its window
    msP.addData(Seq((1L, 100L, ts(600)), (4L, 101L, ts(600))))
    msV.addData(Seq((1L, 200L, ts(585))))
    q.processAllAvailable()
    // advance event time far past P101's window on both streams (watermark
    // updates at batch end, applies next batch)
    msP.addData(Seq((5L, 102L, ts(2000))))
    msV.addData(Seq((5L, 203L, ts(1990))))
    q.processAllAvailable()
    // one more batch so the advanced watermark evicts + emits P101's null row
    msP.addData(Seq((6L, 103L, ts(3000))))
    msV.addData(Seq((6L, 204L, ts(2990))))
    q.processAllAvailable()
    q.stop()
    import scala.jdk.CollectionConverters._
    val res = got.asScala.toSet
    assert(res.contains(100L -> 200L) && res.contains(102L -> 203L),
      s"matched pairs missing: $res")
    assert(res.contains(101L -> -1L),
      s"unmatched purchase must emit a null-padded row after the watermark passes: $res")
  }

  test("interval join: right timestamp colliding with an unrelated LEFT column renames to _r") {
    import graft.streaming.StreamJoins
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    // LEFT carries a column literally named "v_ts" (e.g. a pre-joined frame)
    // while its own timestamp is "p_ts"; the right frame's timestamp is also
    // "v_ts". The restore of the internal right-ts name must suffix it.
    val left = Seq((1L, 100L, ts(600), "noise"))
      .toDF("user_id", "purchase_id", "p_ts", "v_ts")
    val right = Seq((1L, 200L, ts(585))).toDF("user_id", "view_id", "v_ts")
    val out = StreamJoins.intervalJoin(
      left, "p_ts", "10 minutes", right, "v_ts", "10 minutes",
      "user_id", lowerMs = -1800000L, upperMs = 0L)
    assert(out.columns.count(_ == "v_ts") == 1, s"dup names: ${out.columns.toSeq}")
    assert(out.columns.contains("v_ts_r"), s"cols: ${out.columns.toSeq}")
    val r = out.collect().head
    assert(r.getAs[String]("v_ts") == "noise" &&
           r.getAs[java.sql.Timestamp]("v_ts_r") == ts(585))
    // and when even the _r fallback is taken, fail loudly instead of
    // emitting duplicate columns
    val eLeft = left.withColumn("v_ts_r", lit("also-taken"))
    val e = intercept[IllegalArgumentException] {
      StreamJoins.intervalJoin(eLeft, "p_ts", "10 minutes",
        right, "v_ts", "10 minutes", "user_id", -1800000L, 0L)
    }
    assert(e.getMessage.contains("v_ts_r"), e.getMessage)
  }

  test("stream-stream FULL OUTER interval join: right-only null rows flush on watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.DataFrame
    import graft.streaming.StreamJoins
    implicit val sqlCtx = spark.sqlContext
    implicit val enc =
      org.apache.spark.sql.Encoders.product[(Long, Long, java.sql.Timestamp)]
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val msP = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val msV = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = StreamJoins.intervalJoin(
      msP.toDF().toDF("user_id", "purchase_id", "p_ts"), "p_ts", "10 minutes",
      msV.toDF().toDF("user_id", "view_id", "v_ts"), "v_ts", "10 minutes",
      "user_id", lowerMs = -1800000L, upperMs = 0L, joinType = "full_outer")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = joined.writeStream
      .option("checkpointLocation", Files.createTempDirectory("sjfck").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.collect().foreach { r =>
          val p = if (r.isNullAt(r.fieldIndex("purchase_id"))) -1L
                  else r.getAs[Long]("purchase_id")
          val v = if (r.isNullAt(r.fieldIndex("view_id"))) -1L
                  else r.getAs[Long]("view_id")
          got.add((p, v))
        }
      }.start()
    // P100 matches V200; P101 has no view (left-only); V201 has no
    // purchase (right-only — the case left_outer would drop)
    msP.addData(Seq((1L, 100L, ts(600)), (4L, 101L, ts(600))))
    msV.addData(Seq((1L, 200L, ts(585)), (7L, 201L, ts(600))))
    q.processAllAvailable()
    // advance the watermark far past both windows, then one more batch so
    // eviction emits the null-padded rows from both sides
    msP.addData(Seq((5L, 102L, ts(2000))))
    msV.addData(Seq((5L, 203L, ts(1990))))
    q.processAllAvailable()
    msP.addData(Seq((6L, 103L, ts(3000))))
    msV.addData(Seq((6L, 204L, ts(2990))))
    q.processAllAvailable()
    q.stop()
    import scala.jdk.CollectionConverters._
    val res = got.asScala.toSet
    assert(res.contains(100L -> 200L) && res.contains(102L -> 203L),
      s"matched pairs missing: $res")
    assert(res.contains(101L -> -1L),
      s"left-only purchase must flush null-padded: $res")
    assert(res.contains(-1L -> 201L),
      s"right-only view must flush null-padded (full_outer): $res")
    // right-only rows must keep their join key (coalesced into the left name)
    assert(!res.contains(-1L -> -1L), s"fully-null row leaked: $res")
  }

  test("stream-stream RIGHT OUTER interval join: right-only flushes, left-only drops") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.DataFrame
    import graft.streaming.StreamJoins
    implicit val sqlCtx = spark.sqlContext
    implicit val enc =
      org.apache.spark.sql.Encoders.product[(Long, Long, java.sql.Timestamp)]
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val msP = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val msV = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = StreamJoins.intervalJoin(
      msP.toDF().toDF("user_id", "purchase_id", "p_ts"), "p_ts", "10 minutes",
      msV.toDF().toDF("user_id", "view_id", "v_ts"), "v_ts", "10 minutes",
      "user_id", lowerMs = -1800000L, upperMs = 0L, joinType = "right_outer")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = joined.writeStream
      .option("checkpointLocation", Files.createTempDirectory("sjrck").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.collect().foreach { r =>
          val p = if (r.isNullAt(r.fieldIndex("purchase_id"))) -1L
                  else r.getAs[Long]("purchase_id")
          val v = if (r.isNullAt(r.fieldIndex("view_id"))) -1L
                  else r.getAs[Long]("view_id")
          got.add((p, v))
        }
      }.start()
    // P100 matches V200; P101 has no view (must NOT flush under
    // right_outer); V201 has no purchase (must flush null-padded)
    msP.addData(Seq((1L, 100L, ts(600)), (4L, 101L, ts(600))))
    msV.addData(Seq((1L, 200L, ts(585)), (7L, 201L, ts(600))))
    q.processAllAvailable()
    msP.addData(Seq((5L, 102L, ts(2000))))
    msV.addData(Seq((5L, 203L, ts(1990))))
    q.processAllAvailable()
    msP.addData(Seq((6L, 103L, ts(3000))))
    msV.addData(Seq((6L, 204L, ts(2990))))
    q.processAllAvailable()
    q.stop()
    import scala.jdk.CollectionConverters._
    val res = got.asScala.toSet
    assert(res.contains(100L -> 200L) && res.contains(102L -> 203L),
      s"matched pairs missing: $res")
    assert(res.contains(-1L -> 201L),
      s"right-only view must flush null-padded (right_outer): $res")
    assert(!res.exists(_._2 == -1L),
      s"left-only purchase must NOT appear under right_outer: $res")
  }

  test("dropDuplicatesWithinWatermark: dedups inside the delay, state evicts after it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.DataFrame
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders.product[(Long, java.sql.Timestamp)]
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val ms = MemoryStream[(Long, java.sql.Timestamp)]
    val deduped = ms.toDF().toDF("k", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = deduped.writeStream
      .option("checkpointLocation", Files.createTempDirectory("ddwck").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.collect().foreach(r => got.add(r.getAs[Long]("k")))
      }.start()
    // k=1 twice in one batch + k=2: dedup within the batch
    ms.addData(Seq((1L, ts(600)), (1L, ts(601)), (2L, ts(600))))
    q.processAllAvailable()
    // k=1 again within the delay → suppressed; k=3 far ahead advances the
    // watermark to ~2990, evicting k=1's state (600+10 < 2990)
    ms.addData(Seq((1L, ts(605)), (3L, ts(3000))))
    q.processAllAvailable()
    // same key long after eviction → emits AGAIN: the dedup guarantee is
    // scoped to the watermark delay, which is what keeps state bounded
    ms.addData(Seq((1L, ts(3500))))
    q.processAllAvailable()
    q.stop()
    import scala.jdk.CollectionConverters._
    val counts = got.asScala.toVector.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts == Map(1L -> 2, 2L -> 1, 3L -> 1), s"got $counts")
  }

  test("kafka source option mapping (seek flags, rate limit, validation)") {
    import graft.sources.Sources
    val (fmt, opts) = Sources.kafkaSourceOptions(GraftConfig.parse("""
      topics = [t1, t2]
      bootstrap-servers = "b:9092"
      seek-to-beginning = true
      max-offsets-per-trigger = 5000"""))
    assert(fmt == "kafka")
    assert(opts("subscribe") == "t1,t2")
    assert(opts("startingOffsets") == "earliest")
    assert(opts("maxOffsetsPerTrigger") == "5000")
    intercept[IllegalArgumentException](Sources.kafkaSourceOptions(GraftConfig.parse(
      """topics = [t], bootstrap-servers = "b", seek-to-beginning = true, seek-to-end = true""")))
  }

  test("streaming dedup ingest: live micro-batches match the static batch twin") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"alt$i").mkString(" ")
    val third = (1 to 40).map(i => s"new$i").mkString(" ")
    val fourth = (1 to 40).map(i => s"fin$i").mkString(" ")
    val b1 = Seq(1L -> base, 2L -> other)
    val b2 = Seq(10L -> (base + " tail1 tail2"), // near-dup of ACCEPTED 1 → dropped
                 11L -> third)                   // novel → kept
    val b3 = Seq(20L -> (other + " x1"),         // near-dup of accepted 2 → dropped
                 21L -> fourth,                  // novel → kept
                 22L -> (fourth + " y1"))        // near-dup of smaller-id 21 SAME batch → dropped
    val tmp = Files.createTempDirectory("graft-ingest").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    // the index must exist (empty) before the first micro-batch probes it —
    // init from a STATIC empty frame (a streaming frame cannot batch-write)
    IndexKind.textPostings("doc_id", "text").init(spark, "graft_spec_ingest_live",
      s"$tmp/idx_live")
    val q = EpochIngest.start(ms.toDF().toDF("doc_id", "text"),
      IndexKind.textPostings("doc_id", "text"), "graft_spec_ingest_live",
      s"$tmp/out", s"$tmp/ckpt")
    try {
      Seq(b1, b2, b3).foreach { b => ms.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val live = spark.read.parquet(s"$tmp/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(live == Set(1L, 2L, 11L, 21L), s"live survivors: $live")
    // the static twin over the identical batch split lands on the same set
    val twin = graft.operators.Dedup.dedupIngest(
        Seq(b1, b2, b3).map(b => b.toDF("doc_id", "text")),
        "doc_id", "text",
        indexTable = "graft_spec_ingest_twin", indexPath = s"$tmp/idx_twin")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(twin == live, s"twin $twin != live $live")
  }


  test("dedup ingest kill-and-restart: replayed epoch rewrites in place, zero dup rows/postings") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"alt$i").mkString(" ")
    val third = (1 to 40).map(i => s"new$i").mkString(" ")
    val fourth = (1 to 40).map(i => s"fin$i").mkString(" ")
    val batches = Seq(
      Seq(1L -> base, 2L -> other),
      Seq(10L -> (base + " tail1 tail2"), 11L -> third),
      Seq(20L -> (other + " x1"), 21L -> fourth, 22L -> (fourth + " y1")))
    val tmp = Files.createTempDirectory("graft-ingest-kill").toString
    val inDir = new java.io.File(s"$tmp/in"); inDir.mkdirs()
    batches.zipWithIndex.foreach { case (b, i) =>
      val part = s"$tmp/b$i"
      b.toDF("doc_id", "text").coalesce(1).write.parquet(part)
      val src = new java.io.File(part).listFiles()
        .find(_.getName.startsWith("part-")).get
      val dst = new java.io.File(inDir, f"b$i%02d.parquet")
      assert(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
    }
    IndexKind.textPostings("doc_id", "text").init(spark, "graft_spec_ingest_kill",
      s"$tmp/idx")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def incoming = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    val step = EpochIngest.step(IndexKind.textPostings("doc_id", "text"),
      "graft_spec_ingest_kill", s"$tmp/out")
    // attempt 1: epoch 1 CRASHES mid-epoch — after the output overwrite,
    // BEFORE the index append (the narrowest replay window: the crashed
    // attempt's rows are on disk but its postings are not)
    var crashed = false
    val q1 = incoming.writeStream
      .option("checkpointLocation", s"$tmp/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (id == 1 && !crashed) {
          val surv = graft.operators.Dedup.incrementalSurvivorsIndexed(
            b, spark.table("graft_spec_ingest_kill")
              .where(col("epoch") < lit(id)),
            "doc_id", "text", 3, 0.5, Long.MaxValue)
          EpochIngest.writeEpoch(surv, s"$tmp/out", id)
          crashed = true
          throw new RuntimeException("injected crash between output and index append")
        } else step(b, id)
      }
      .start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(crashed, "the injected crash never fired")
    // restart from the same checkpoint: epoch 1 REPLAYS through the
    // normal step (probe excludes its own crashed attempt), then epoch 2
    val q2 = incoming.writeStream
      .option("checkpointLocation", s"$tmp/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) => step(b, id) }
      .start()
    q2.awaitTermination()
    val out = spark.read.parquet(s"$tmp/out")
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(ids.distinct.sorted == Seq(1L, 2L, 11L, 21L),
      s"survivors after kill-and-restart: ${ids.sorted.toSeq}")
    assert(ids.length == ids.distinct.length,
      s"duplicate output rows after replay: ${ids.sorted.toSeq}")
    // the replayed epoch's directory is non-empty (the self-drop hazard:
    // a replay that saw its own postings would overwrite epoch=1 empty)
    assert(out.where(col("epoch") === 1).count() == 1L,
      "replayed epoch lost its survivors")
    // and the index carries no duplicate postings
    val dupPostings = spark.table("graft_spec_ingest_kill")
      .groupBy("id", "h").count().where(col("count") > 1).count()
    assert(dupPostings == 0L, s"$dupPostings duplicated postings after replay")
    spark.sql("DROP TABLE IF EXISTS graft_spec_ingest_kill")
  }

  test("ingest resume guard: fresh checkpoint over an accumulated index fails loudly; flat compaction rejected in config") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 1) a configured stream may not pair compact-every with the flat
    //    layout — the in-place rewrite's crash window would let a JVM
    //    loss destroy the index a long-running sink depends on
    intercept[IllegalArgumentException] {
      graft.streaming.MmIngestSink.writer(GraftConfig.parse("""
        s { index-table = t, index-path = "/tmp/x", out-path = "/tmp/y",
            compact-every = 1 }""").getSection("s").get)
    }
    intercept[IllegalArgumentException] {
      graft.streaming.EmbedIngestSink.writer(GraftConfig.parse("""
        s { index-table = t, index-path = "/tmp/x", out-path = "/tmp/y",
            compact-every = 2, layout = flat }""").getSection("s").get)
    }
    // 2) epoch-behind guard: run two epochs, then a NEW writer resuming
    //    at batchId 0 (a wiped/fresh checkpoint over the accumulated
    //    index) must fail instead of silently re-accepting duplicates
    //    and skipping appends through the replay guard
    val tmp = Files.createTempDirectory("graft-resume-guard").toString
    IndexKind.hamming().init(spark, "graft_spec_resume_guard", s"$tmp/idx")
    def payloads(r: Range) = graft.operators.Multimodal
      .renderedImagePayloads(spark.range(r.start, r.end).toDF("doc_id"), "doc_id")
    val run1 = EpochIngest.step(IndexKind.hamming(), "graft_spec_resume_guard", s"$tmp/out")
    run1(payloads(0 until 4), 0L)
    run1(payloads(100 until 104), 1L)
    assert(spark.table("graft_spec_resume_guard")
      .agg(max(col("epoch"))).head().getLong(0) == 1L, "fixture built no epochs")
    // legal resume: replay of the newest epoch passes the guard
    val run2 = EpochIngest.step(IndexKind.hamming(), "graft_spec_resume_guard", s"$tmp/out")
    run2(payloads(100 until 104), 1L)
    // illegal resume: batchId 0 is BEHIND max epoch 1
    val run3 = EpochIngest.step(IndexKind.hamming(), "graft_spec_resume_guard", s"$tmp/out")
    val e = intercept[IllegalArgumentException] {
      run3(payloads(0 until 4), 0L)
    }
    assert(e.getMessage.contains("does not belong"), e.getMessage)
    spark.sql("DROP TABLE IF EXISTS graft_spec_resume_guard")
  }

  test("embed ingest degrades row-level on malformed vectors: null and wrong-dim drop, epoch completes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-embed-malformed").toString
    IndexKind.embedLsh().init(spark, "graft_spec_embed_mal", s"$tmp/idx",
      buckets = 4)
    val good = Array.tabulate(64)(i => i / 64.0f)
    val batch = Seq(
      (1L, good),
      (2L, null.asInstanceOf[Array[Float]]),   // unparseable body upstream
      (3L, Array(1.0f, 2.0f)))                 // wrong dimension
      .toDF("id", "vec")
    // would raise_error inside hyperplaneBucket without the row-level
    // guard — the epoch must complete and keep the good row
    EpochIngest.step(IndexKind.embedLsh(0.95), "graft_spec_embed_mal", s"$tmp/out",
      4)(batch, 0L)
    val ids = spark.read.parquet(s"$tmp/out")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L), s"malformed rows must drop, good row survive: $ids")
    spark.sql("DROP TABLE IF EXISTS graft_spec_embed_mal")
  }

  test("embed ingest kill-and-restart: crash between output and index append, replay converges") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    // the third member of the kill-restart family (text: DedupIngest,
    // fingerprints: MmIngest) — same epoch machinery, semantic dedup
    val emb = spark.read.parquet(sf("embeddings"))
    val tmp = Files.createTempDirectory("graft-embed-kill").toString
    val inDir = new java.io.File(s"$tmp/in"); inDir.mkdirs()
    Seq((0L, 150L), (150L, 400L), (400L, Long.MaxValue)).zipWithIndex
      .foreach { case ((lo, hi), i) =>
        val part = s"$tmp/b$i"
        emb.where(col("vec_id") >= lo && col("vec_id") < hi)
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
          .coalesce(1).write.parquet(part)
        val src = new java.io.File(part).listFiles()
          .find(_.getName.startsWith("part-")).get
        val dst = new java.io.File(inDir, f"b$i%02d.parquet")
        assert(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
      }
    import spark.implicits._
    IndexKind.embedLsh().init(spark, "graft_spec_embed_kill", s"$tmp/idx")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("vec",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    def incoming = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    val step = EpochIngest.step(IndexKind.embedLsh(0.25), "graft_spec_embed_kill", s"$tmp/out")
    // crash epoch 1 AFTER the output overwrite, BEFORE the index append —
    // the narrowest window: the crashed attempt's rows are on disk but
    // its postings are not
    var crashed = false
    val q1 = incoming.writeStream
      .option("checkpointLocation", s"$tmp/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (id == 1 && !crashed) {
          val surv = graft.operators.Dedup.embedSurvivorsIndexed(
            b, spark.table("graft_spec_embed_kill")
              .where(col("epoch") < lit(id)), 0.25)
            .where(col("survives")).select(col("id"), col("vec"))
          EpochIngest.writeEpoch(surv, s"$tmp/out", id)
          crashed = true
          throw new RuntimeException("injected crash between output and index append")
        } else step(b, id)
      }
      .start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(crashed, "the injected crash never fired")
    val q2 = incoming.writeStream
      .option("checkpointLocation", s"$tmp/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) => step(b, id) }
      .start()
    q2.awaitTermination()
    val out = spark.read.parquet(s"$tmp/out")
    val ids = out.select("id").collect().map(_.getLong(0)).toSeq
    assert(ids.length == ids.distinct.length,
      s"duplicate output rows after replay: ${ids.sorted}")
    assert(out.where(col("epoch") === 1).count() > 0L,
      "replayed epoch lost its survivors (self-drop hazard)")
    // the stream's survivors equal the sequential batch-loop truth
    spark.sql("DROP TABLE IF EXISTS graft_spec_embed_kill_twin")
    val twin = graft.operators.Dedup.embedIngest(
        Seq((0L, 150L), (150L, 400L), (400L, Long.MaxValue)).map { case (lo, hi) =>
          emb.where(col("vec_id") >= lo && col("vec_id") < hi)
            .select(col("vec_id").as("id"), col("embedding").as("vec")) },
        "graft_spec_embed_kill_twin", s"$tmp/idx_twin", 8, threshold = 0.25)
      .collect().map(_.getLong(0)).toSet
    assert(ids.toSet == twin,
      s"kill-restart run diverged from the batch loop: ${ids.toSet.diff(twin)} / ${twin.diff(ids.toSet)}")
    // and the index carries no duplicate postings
    val dup = spark.table("graft_spec_embed_kill")
      .groupBy("id", "bucket").count().where(col("count") > 1).count()
    assert(dup == 0L, s"$dup duplicated postings after replay")
    spark.sql("DROP TABLE IF EXISTS graft_spec_embed_kill")
    spark.sql("DROP TABLE IF EXISTS graft_spec_embed_kill_twin")
  }

  test("mm ingest kill-and-restart: crash after full epoch side effects, replay is a no-op") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft-mm-kill").toString
    val inDir = new java.io.File(s"$tmp/in"); inDir.mkdirs()
    // batches of real rendered PNGs: ids 0-3, then 4-7 (ids 4,5 render
    // near-dup twins of 0,1 per the renderer's id spreading — we don't
    // assume which collide, only that replay changes NOTHING)
    Seq(0L until 4L, 4L until 8L).zipWithIndex.foreach { case (r, i) =>
      val part = s"$tmp/b$i"
      graft.operators.Multimodal.renderedImagePayloads(
        spark.range(r.start, r.end).toDF("doc_id"), "doc_id")
        .coalesce(1).write.parquet(part)
      val src = new java.io.File(part).listFiles()
        .find(_.getName.startsWith("part-")).get
      val dst = new java.io.File(inDir, f"b$i%02d.parquet")
      assert(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
    }
    import spark.implicits._
    IndexKind.hamming().init(spark, "graft_spec_mm_kill", s"$tmp/idx")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.BinaryType)))
    def incoming = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    val step = EpochIngest.step(IndexKind.hamming(), "graft_spec_mm_kill", s"$tmp/out")
    // crash AFTER epoch 1's full side effects (output + index) but before
    // the checkpoint commit — exactly the window where the old append-mode
    // sink duplicated rows and a naive re-probe dropped the whole batch
    var crashed = false
    val q1 = incoming.writeStream
      .option("checkpointLocation", s"$tmp/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        step(b, id)
        if (id == 1 && !crashed) {
          crashed = true
          throw new RuntimeException("injected crash after epoch side effects")
        }
      }
      .start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(crashed, "the injected crash never fired")
    val afterCrash = spark.read.parquet(s"$tmp/out")
      .select("id", "phash").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val q2 = incoming.writeStream
      .option("checkpointLocation", s"$tmp/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) => step(b, id) }
      .start()
    q2.awaitTermination()
    val out = spark.read.parquet(s"$tmp/out")
    val rows = out.select("id", "phash").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSet == afterCrash,
      s"replay changed the survivor set: ${rows.toSet} vs $afterCrash")
    assert(rows.length == rows.toSet.size,
      s"duplicate output rows after replay: ${rows.sorted.toSeq}")
    assert(out.where(col("epoch") === 1).count() > 0L,
      "replayed epoch lost its survivors (self-drop hazard)")
    val dupFrags = spark.table("graft_spec_mm_kill")
      .groupBy("id", "bk").count().where(col("count") > 1).count()
    assert(dupFrags == 0L, s"$dupFrags duplicated fragment postings after replay")
    spark.sql("DROP TABLE IF EXISTS graft_spec_mm_kill")
  }

  test("config-declared composed ingest DAG: HOCON boots the flagship through Pipeline.start") {
    import org.apache.spark.sql.functions._
    // the same mixed-modality rendered corpus the gate uses, as two
    // ordered payload batches on disk
    val tmp = Files.createTempDirectory("graft-cfg-mm").toString
    val inDir = new java.io.File(s"$tmp/in"); inDir.mkdirs()
    Seq(0L until 6L, 6L until 12L).zipWithIndex.foreach { case (r, i) =>
      val part = s"$tmp/b$i"
      graft.operators.Multimodal.renderedIngestPayloads(
        spark.range(r.start, r.end).toDF("doc_id"), "doc_id")
        .coalesce(1).write.parquet(part)
      val src = new java.io.File(part).listFiles()
        .find(_.getName.startsWith("part-")).get
      val dst = new java.io.File(inDir, f"b$i%02d.parquet")
      assert(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
    }
    // config-ONLY assembly: fqcn source → (implicit Transparent chain) →
    // the mm-ingest sink; the index auto-initializes on the first batch
    val conf = GraftConfig.parse(s"""
      graft {
        source { media { fqcn = "graft.MmPayloadSourcePlugin",
                         path = "$inDir", available-now = true,
                         sinks = [ingest] } }
        sink { ingest { type = mm-ingest,
                        index-table = graft_spec_cfg_mm,
                        index-path = "$tmp/idx",
                        out-path = "$tmp/out" } }
      }""")
    val ps = Pipeline.start(spark, conf, s"$tmp/ck")
    try ps.foreach(_.query.awaitTermination())
    finally ps.foreach(p => if (p.query.isActive) p.query.stop())
    val got = spark.read.parquet(s"$tmp/out")
      .select("id", "family", "phash").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // code-assembled twin over the identical batches from a fresh index
    import spark.implicits._
    IndexKind.familyHamming().init(spark, "graft_spec_cfg_mm_twin",
      s"$tmp/idx_twin")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.BinaryType)))
    val q = EpochIngest.start(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir.toString),
      IndexKind.familyHamming(), "graft_spec_cfg_mm_twin", s"$tmp/out_twin",
      s"$tmp/ck_twin", availableNow = true)
    q.awaitTermination()
    val twin = spark.read.parquet(s"$tmp/out_twin")
      .select("id", "family", "phash").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got.nonEmpty, "config-declared DAG produced no survivors")
    assert(got == twin, s"config-declared DAG diverged from the code twin:\n$got\nvs\n$twin")
    spark.sql("DROP TABLE IF EXISTS graft_spec_cfg_mm")
    spark.sql("DROP TABLE IF EXISTS graft_spec_cfg_mm_twin")
  }

  test("config-declared embedding ingest: HOCON boots the semantic-dedup loop through Pipeline.start") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(sf("embeddings"))
    val tmp = Files.createTempDirectory("graft-cfg-emb").toString
    val inDir = new java.io.File(s"$tmp/in"); inDir.mkdirs()
    Seq((0L, 150L), (150L, 400L), (400L, Long.MaxValue)).zipWithIndex
      .foreach { case ((lo, hi), i) =>
        val part = s"$tmp/b$i"
        emb.where(col("vec_id") >= lo && col("vec_id") < hi)
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
          .coalesce(1).write.parquet(part)
        val src = new java.io.File(part).listFiles()
          .find(_.getName.startsWith("part-")).get
        val dst = new java.io.File(inDir, f"b$i%02d.parquet")
        assert(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
      }
    val conf = GraftConfig.parse(s"""
      graft {
        source { vectors { fqcn = "graft.VecPayloadSourcePlugin",
                           path = "$inDir", available-now = true,
                           sinks = [ingest] } }
        sink { ingest { type = embed-ingest,
                        index-table = graft_spec_cfg_emb,
                        index-path = "$tmp/idx",
                        out-path = "$tmp/out",
                        threshold = 0.25, layout = gen,
                        compact-every = 1 } }
      }""")
    val ps = Pipeline.start(spark, conf, s"$tmp/ck")
    try ps.foreach(_.query.awaitTermination())
    finally ps.foreach(p => if (p.query.isActive) p.query.stop())
    val got = spark.read.parquet(s"$tmp/out")
      .select("id").collect().map(_.getLong(0)).toSet
    // code-assembled batch-loop twin over the identical batches — the
    // JSON wire format (float -> decimal string -> float) must round-trip
    // and the config path must not change a single survivor decision
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_spec_cfg_emb_twin")
    val twin = graft.operators.Dedup.embedIngest(
        Seq((0L, 150L), (150L, 400L), (400L, Long.MaxValue)).map { case (lo, hi) =>
          emb.where(col("vec_id") >= lo && col("vec_id") < hi)
            .select(col("vec_id").as("id"), col("embedding").as("vec")) },
        "graft_spec_cfg_emb_twin", s"$tmp/idx_twin", 8, threshold = 0.25)
      .collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty, "config-declared embedding ingest accepted nothing")
    assert(got == twin,
      s"config DAG diverged from the code twin: ${got.diff(twin)} / ${twin.diff(got)}")
    // the generational layout compacted each epoch: 3 epochs -> gen-3 live
    assert(graft.operators.GenIndex.liveGen(spark, s"$tmp/idx").contains(3L))
    spark.sql("DROP TABLE IF EXISTS graft_spec_cfg_emb")
    spark.sql("DROP TABLE IF EXISTS graft_spec_cfg_emb_twin")
  }

  test("mm-ingest sink restart: catalog loss re-registers the index — never re-inits over accumulated fingerprints") {
    checkIngestRestart("mm-ingest")
  }

  test("embed-ingest sink restart: catalog loss re-registers the LSH index — never re-inits over accepted vectors") {
    checkIngestRestart("embed-ingest")
  }

  test("dedup-ingest sink restart: catalog loss re-registers the posting index — never re-inits over the accepted corpus") {
    checkIngestRestart("dedup-ingest")
  }

  /** One restart check per ingest sink type, shared by the three specs
    * above: the sink types differ only in their writer and fixtures. */
  private def checkIngestRestart(sinkType: String): Unit = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // drive each CONFIG sink's writer directly, batch by batch, with a
    // simulated JVM restart (catalog wiped, files intact) between epochs:
    // the sink must recover the index from disk, so a row already
    // accepted before the restart is DROPPED after it, not re-accepted —
    // on both layouts (flat re-register; gen open-from-marker).
    def wire(rows: Seq[(Long, String)]): DataFrame = rows.toDF("doc_id", "body")
      .select(col("body"),
        map(lit("id"), col("doc_id").cast("string")).as("headers"))
    def payloads(r: Range) = graft.operators.Multimodal
      .renderedIngestPayloads(
        spark.range(r.start, r.end).toDF("doc_id"), "doc_id")
      .select(col("id").cast("string").as("hid"),
              base64(col("payload")).as("body"))
      .selectExpr("body", "map('id', hid) as headers")
    val mk = (p: String) => (1 to 40).map(i => s"$p$i").mkString(" ")
    val rnd = new java.util.Random(5)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat).mkString("[", ",", "]")
    val (va, vb, vc) = (vec(), vec(), vec())
    // epoch 1 re-sends an epoch-0 row as `resent`; `before`/`after` are
    // the exact survivor sets where the fixture pins them
    case class Case(sinkType: String,
                    writer: GraftConfig => (DataFrame, Long) => Unit,
                    epoch0: DataFrame, epoch1: DataFrame, resent: Long,
                    before: Option[Set[Long]], after: Option[Set[Long]])
    val cases = Seq(
      // payload id=0 re-sent (rendered identically) plus far-away ids (a
      // fresh render group — no twins of 0-5)
      Case("mm-ingest", graft.streaming.MmIngestSink.writer,
        payloads(0 until 6),
        payloads(0 until 1).unionByName(payloads(100 until 106)), 0L,
        None, None),
      // vector 1 re-sent verbatim under a new id, plus a fresh vector
      Case("embed-ingest", graft.streaming.EmbedIngestSink.writer,
        wire(Seq(1L -> va, 2L -> vb)), wire(Seq(10L -> va, 11L -> vc)), 10L,
        Some(Set(1L, 2L)), Some(Set(11L))),
      // doc 1's text re-sent verbatim under a new id, plus a fresh doc
      Case("dedup-ingest", graft.streaming.DedupIngestSink.writer,
        wire(Seq(1L -> mk("tok"), 2L -> mk("alt"))),
        wire(Seq(10L -> mk("tok"), 11L -> mk("new"))), 10L,
        Some(Set(1L, 2L)), Some(Set(11L))))
    val c = cases.find(_.sinkType == sinkType).get
    for (layout <- Seq("flat", "gen")) {
      val tag = s"${c.sinkType.takeWhile(_ != '-')}_$layout"
      val tmp = Files.createTempDirectory(s"graft-cfg-restart-$tag").toString
      val t = s"graft_spec_cfg_restart_$tag"
      // compact-every through the CONFIG surface requires the gen layout
      val ce = if (layout == "gen") 1 else 0
      val cfg = GraftConfig.parse(s"""
        sink-stage { type = ${c.sinkType}, index-table = $t,
                     index-path = "$tmp/idx", out-path = "$tmp/out",
                     layout = $layout, compact-every = $ce }""")
        .getSection("sink-stage").get
      c.writer(cfg)(c.epoch0, 0L)
      val before = spark.read.parquet(s"$tmp/out")
        .select("id").collect().map(_.getLong(0)).toSet
      assert(before.nonEmpty, s"[$tag] epoch 0 accepted nothing")
      c.before.foreach(b => assert(before == b, s"[$tag] epoch 0 accepted $before"))
      // "restart": the session catalog does not survive the JVM, and the
      // sink's build() runs afresh — a NEW writer closure
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      c.writer(cfg)(c.epoch1, 1L)
      val after = spark.read.parquet(s"$tmp/out")
        .where(col("epoch") === 1).select("id")
        .collect().map(_.getLong(0)).toSet
      assert(!after.contains(c.resent),
        s"[$tag] restart forgot the index: re-sent row re-accepted ($after)")
      assert(after.nonEmpty, s"[$tag] epoch 1 accepted nothing at all")
      c.after.foreach(a => assert(after == a, s"[$tag] epoch 1 accepted $after"))
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
    }
  }

  test("compactHammingIndex: file count collapses to <= buckets; probe results byte-identical") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-compact").toString
    IndexKind.hamming().init(spark, "graft_spec_compact", s"$tmp/idx", buckets = 4)
    // 6 micro-batch appends → 6 file sets per touched bucket
    val rnd = new java.util.Random(7)
    (0 until 6).foreach { e =>
      val hs = (0 until 8).map(i => (e * 100L + i, rnd.nextLong()))
      IndexKind.hamming().append(hs.toDF("id", "sh"), "graft_spec_compact", 4,
        e.toLong)
    }
    def parts() = new java.io.File(s"$tmp/idx").listFiles()
      .count(_.getName.startsWith("part-"))
    val filesBefore = parts()
    assert(filesBefore > 4, s"fixture too small to show accumulation: $filesBefore files")
    val probe = (0 until 6).map(i => (1000L + i, rnd.nextLong())) ++
      Seq((2000L, 0L)) // plus a row colliding with nothing
    def probeResult() = graft.operators.Dedup.hammingSurvivorsIndexed(
        probe.toDF("id", "sh"), spark.table("graft_spec_compact"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSet
    val before = probeResult()
    graft.operators.Dedup.compactHammingIndex(
      spark, "graft_spec_compact", s"$tmp/idx", buckets = 4)
    val filesAfter = parts()
    assert(filesAfter <= 4,
      s"compaction must leave one file per non-empty bucket: $filesAfter")
    assert(probeResult() == before, "compaction changed probe results")
    // epoch stamps survive the rewrite (the replay guard depends on them)
    assert(spark.table("graft_spec_compact")
      .select("epoch").distinct().count() == 6L)
    spark.sql("DROP TABLE IF EXISTS graft_spec_compact")
  }

  test("GenIndex compactSwap: marker-committed generations — crash windows, byte-identical probe, bucketed recovery") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.{Dedup, GenIndex}
    val tmp = Files.createTempDirectory("graft-genidx").toString
    val root = s"$tmp/idx"
    val t = "graft_spec_genidx"
    IndexKind.hamming().init(spark, t, root, buckets = 4, gen = true)
    assert(GenIndex.liveGen(spark, root).contains(0L))
    val rnd = new java.util.Random(11)
    (0 until 5).foreach { e =>
      val hs = (0 until 8).map(i => (e * 100L + i, rnd.nextLong()))
      IndexKind.hamming().append(hs.toDF("id", "sh"), t, 4, e.toLong)
    }
    val probe = (0 until 6).map(i => (1000L + i, rnd.nextLong()))
    def probeResult() = Dedup.hammingSurvivorsIndexed(
        probe.toDF("id", "sh"), spark.table(t), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSet
    val before = probeResult()
    // CRASH WINDOW 1: a prior compaction died mid-write — gen-1 exists
    // with data files but NO marker. Readers must ignore it; the live
    // generation (and the probe) are untouched.
    val abandoned = new java.io.File(s"$root/gen-1"); abandoned.mkdirs()
    java.nio.file.Files.write(abandoned.toPath.resolve("part-junk.parquet"),
      Array[Byte](1, 2, 3))
    assert(GenIndex.liveGen(spark, root).contains(0L),
      "uncommitted generation must not be observable")
    assert(probeResult() == before)
    // the next compaction discards the abandoned attempt and succeeds
    GenIndex.compactSwap(spark, t, root, "bk", buckets = 4)
    assert(GenIndex.liveGen(spark, root).contains(1L))
    assert(!new java.io.File(s"$root/gen-0").exists(),
      "superseded generation not swept")
    val liveFiles = new java.io.File(s"$root/gen-1").listFiles()
      .count(_.getName.startsWith("part-"))
    assert(liveFiles <= 4,
      s"compaction must leave one file per non-empty bucket: $liveFiles")
    assert(probeResult() == before, "swap compaction changed probe results")
    // epoch stamps survive the rewrite (the init's -1 stamp rides an
    // empty frame, so only the 5 appended epochs hold rows)
    assert(spark.table(t).select("epoch").distinct().count() == 5L)
    // RECOVERY: a fresh session has no catalog — open() re-registers the
    // live generation from the marker alone, keeping the bucket layout
    // (zero index-side exchange) so the probe plan survives restarts.
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
    GenIndex.open(spark, t, root, "bk", buckets = 4)
    assert(probeResult() == before, "recovery changed probe results")
    locally {
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.exchange.Exchange
      val oldThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try inspectPlan {
        val sp = Dedup.hammingSurvivorsIndexed(
            probe.toDF("id", "sh"), spark.table(t), 3)
          .queryExecution.sparkPlan
        assert(sp.collect {
            case f: FileSourceScanExec if f.bucketedScan => f }.nonEmpty,
          s"re-registered index lost its bucket layout:\n$sp")
        assert(sp.collect { case e: Exchange if e.collectFirst {
            case f: FileSourceScanExec if f.bucketedScan => f }.isDefined => e }
          .isEmpty, s"re-registered index re-shuffled above its scan:\n$sp")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThresh)
    }
    // appends keep flowing through the re-registered table (the live
    // generation is immutable once SUPERSEDED, not while live)
    IndexKind.hamming().append(Seq((900L, rnd.nextLong())).toDF("id", "sh"), t, 4,
      5L)
    assert(spark.table(t).select("epoch").distinct().count() == 6L)
    // a second swap compacts the post-recovery appends too
    GenIndex.compactSwap(spark, t, root, "bk", buckets = 4)
    assert(GenIndex.liveGen(spark, root).contains(2L))
    assert(probeResult() == before)
    spark.sql(s"DROP TABLE IF EXISTS `$t`")
  }

  test("mm ingest on the generational layout: compactEvery routes to compactSwap, survivors match the single-path twin") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.{Dedup, GenIndex}
    val tmp = Files.createTempDirectory("graft-mm-gen").toString
    val batches = Seq(0L until 4L, 4L until 8L).map { r =>
      graft.operators.Multimodal.renderedImagePayloads(
        spark.range(r.start, r.end).toDF("doc_id"), "doc_id")
    }
    // single-path twin (the gate layout, no compaction — flat + periodic
    // compaction is REJECTED below: the in-place rewrite's crash window
    // plus marker loss)
    IndexKind.hamming().init(spark, "graft_spec_mmgen_flat", s"$tmp/flat")
    val flatStep = EpochIngest.step(IndexKind.hamming(), "graft_spec_mmgen_flat", s"$tmp/flat_out")
    batches.zipWithIndex.foreach { case (b, i) => flatStep(b, i.toLong) }
    // compactEvery over the flat layout fails on the FIRST batch, for
    // programmatic callers exactly like the config sinks (the ADVICE
    // hole: a direct API caller could route a long-running stream
    // through the in-place rewrite whose mid-crash window destroys the
    // only durable index copy)
    val rejected = EpochIngest.step(IndexKind.hamming(), "graft_spec_mmgen_flat",
      s"$tmp/flat_out2", indexPath = s"$tmp/flat", compactEvery = 1)
    val eFlat = intercept[IllegalArgumentException] {
      rejected(batches.head, 2L)
    }
    assert(eFlat.getMessage.contains("generational layout"), eFlat.getMessage)
    // generational layout through the SAME entry point
    IndexKind.hamming().init(spark, "graft_spec_mmgen", s"$tmp/gen", gen = true)
    val genStep = EpochIngest.step(IndexKind.hamming(), "graft_spec_mmgen", s"$tmp/gen_out",
      indexPath = s"$tmp/gen", compactEvery = 1)
    batches.zipWithIndex.foreach { case (b, i) => genStep(b, i.toLong) }
    def surv(p: String) = spark.read.parquet(p).select("id", "phash")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(surv(s"$tmp/gen_out") == surv(s"$tmp/flat_out"),
      "generational ingest diverged from the single-path twin")
    // two epochs × compactEvery=1 → two swaps landed
    assert(GenIndex.liveGen(spark, s"$tmp/gen").contains(2L))
    val files = new java.io.File(GenIndex.livePath(spark, s"$tmp/gen"))
      .listFiles().count(_.getName.startsWith("part-"))
    assert(files <= 8, s"live generation not compacted: $files files")
    spark.sql("DROP TABLE IF EXISTS graft_spec_mmgen_flat")
    spark.sql("DROP TABLE IF EXISTS graft_spec_mmgen")
  }

  test("dedup ingest compactEvery: posting-index files bounded, survivors unchanged (gen + flat layouts)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.{Dedup, GenIndex}
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"alt$i").mkString(" ")
    val batches = Seq(
      Seq(1L -> base, 2L -> other),
      Seq(10L -> (base + " tail1"), 11L -> (1 to 40).map(i => s"new$i").mkString(" ")),
      Seq(20L -> (other + " x1"), 21L -> (1 to 40).map(i => s"fin$i").mkString(" ")))
      .map(_.toDF("doc_id", "text"))
    val tmp = Files.createTempDirectory("graft-ingest-compact").toString
    // twin WITHOUT compaction — the survivor truth
    IndexKind.textPostings("doc_id", "text").init(spark, "graft_spec_ic_plain",
      s"$tmp/plain")
    val plain = EpochIngest.step(IndexKind.textPostings("doc_id", "text"),
      "graft_spec_ic_plain", s"$tmp/plain_out")
    batches.zipWithIndex.foreach { case (b, i) => plain(b, i.toLong) }
    def ids(p: String) = spark.read.parquet(p)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val truth = ids(s"$tmp/plain_out")
    // flat layout + in-place compaction is REJECTED on the first batch
    // (the in-place rewrite's crash window + epoch-marker loss) — for
    // programmatic callers exactly like the config sinks
    IndexKind.textPostings("doc_id", "text").init(spark, "graft_spec_ic_flat",
      s"$tmp/flat", buckets = 4)
    val flat = EpochIngest.step(IndexKind.textPostings("doc_id", "text"), "graft_spec_ic_flat",
      s"$tmp/flat_out", 4, indexPath = s"$tmp/flat", compactEvery = 1)
    val eFlat = intercept[IllegalArgumentException] { flat(batches.head, 0L) }
    assert(eFlat.getMessage.contains("generational layout"), eFlat.getMessage)
    // generational layout through the SAME entry point
    IndexKind.textPostings("doc_id", "text").init(spark, "graft_spec_ic_gen",
      s"$tmp/gen", buckets = 4, gen = true)
    val gen = EpochIngest.step(IndexKind.textPostings("doc_id", "text"), "graft_spec_ic_gen",
      s"$tmp/gen_out", 4, indexPath = s"$tmp/gen", compactEvery = 1)
    batches.zipWithIndex.foreach { case (b, i) => gen(b, i.toLong) }
    assert(ids(s"$tmp/gen_out") == truth, "gen compaction changed survivors")
    assert(GenIndex.liveGen(spark, s"$tmp/gen").contains(3L))
    val genFiles = new java.io.File(GenIndex.livePath(spark, s"$tmp/gen"))
      .listFiles().count(_.getName.startsWith("part-"))
    assert(genFiles <= 4, s"gen posting index not compacted: $genFiles files")
    Seq("graft_spec_ic_plain", "graft_spec_ic_flat", "graft_spec_ic_gen")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("dedup ingest kill MID-APPEND: a partial uncommitted epoch is deleted and re-appended on replay") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the one crash the row-existence guard lost: the JVM dies INSIDE the
    // index append job's multi-file commit, leaving a subset of epoch k's
    // posting files visible. A guard keyed on row existence then skips the
    // re-append forever (missing postings admit later duplicates and skew
    // the Jaccard intersection counts); the marker guard must instead
    // detect rows-without-marker, delete the partial files, and re-append.
    val mk = (p: String, n: Int) => (1 to n).map(i => s"$p$i").mkString(" ")
    val batches = Seq(
      Seq(1L -> mk("tok", 40), 2L -> mk("alt", 40)),
      Seq(10L -> mk("new", 40), 11L -> mk("fou", 40)), // BOTH survive ep 1
      Seq(20L -> (mk("tok", 40) + " x1"), 21L -> mk("fin", 40)))
    val tmp = Files.createTempDirectory("graft-midappend").toString
    val inDir = new java.io.File(s"$tmp/in"); inDir.mkdirs()
    batches.zipWithIndex.foreach { case (b, i) =>
      val part = s"$tmp/b$i"
      b.toDF("doc_id", "text").coalesce(1).write.parquet(part)
      val src = new java.io.File(part).listFiles()
        .find(_.getName.startsWith("part-")).get
      val dst = new java.io.File(inDir, f"b$i%02d.parquet")
      assert(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
    }
    IndexKind.textPostings("doc_id", "text").init(spark, "graft_spec_midapp",
      s"$tmp/idx")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def incoming = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    val step = EpochIngest.step(IndexKind.textPostings("doc_id", "text"), "graft_spec_midapp",
      s"$tmp/out")
    var crashed = false
    val q1 = incoming.writeStream
      .option("checkpointLocation", s"$tmp/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (id == 1 && !crashed) {
          val surv = graft.operators.Dedup.incrementalSurvivorsIndexed(
            b, spark.table("graft_spec_midapp")
              .where(col("epoch") < lit(id)),
            "doc_id", "text", 3, 0.5, Long.MaxValue)
          EpochIngest.writeEpoch(surv, s"$tmp/out", id)
          // the injected mid-commit state: the attempt marker is down
          // (the real append writes it first), then ONE of the two
          // survivors' postings land, stamped epoch=1, NO commit marker
          graft.operators.EpochMarkers.markAttempt(spark, "graft_spec_midapp", 1L)
          graft.operators.Dedup.buildPostingIndex(
              surv.where(col("doc_id") === 10L), "doc_id", "text", 3)
            .withColumn("epoch", lit(1L))
            .write.mode("append").format("parquet")
            .bucketBy(8, "h").sortBy("h").saveAsTable("graft_spec_midapp")
          crashed = true
          throw new RuntimeException("injected crash mid index-append commit")
        } else step(b, id)
      }
      .start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(crashed, "the injected crash never fired")
    // partial epoch is visible as rows but NOT committed (refresh: the
    // stream's appends ran in its cloned session — the spec session's
    // relation cache is stale, a test-JVM artifact)
    spark.catalog.refreshTable("graft_spec_midapp")
    assert(spark.table("graft_spec_midapp").where(col("epoch") === 1)
      .count() > 0, "fixture failed to land a partial epoch")
    assert(!graft.operators.Dedup.epochAppended(spark, "graft_spec_midapp", 1L),
      "a partial append must not count as committed")
    val q2 = incoming.writeStream
      .option("checkpointLocation", s"$tmp/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) => step(b, id) }
      .start()
    q2.awaitTermination()
    // never-crashed twin over the identical batch splits
    IndexKind.textPostings("doc_id", "text").init(spark, "graft_spec_midapp_twin",
      s"$tmp/idx_twin")
    val twinStep = EpochIngest.step(IndexKind.textPostings("doc_id", "text"),
      "graft_spec_midapp_twin", s"$tmp/out_twin")
    batches.zipWithIndex.foreach { case (b, i) =>
      twinStep(b.toDF("doc_id", "text"), i.toLong) }
    // the replayed epoch's posting set is COMPLETE and duplicate-free —
    // compared as a multiset against the never-crashed run
    spark.catalog.refreshTable("graft_spec_midapp")
    def postings(t: String) = spark.table(t)
      .select("id", "h", "epoch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(postings("graft_spec_midapp") == postings("graft_spec_midapp_twin"),
      "replayed index diverged from the never-crashed run")
    val ids = spark.read.parquet(s"$tmp/out")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(ids.distinct.sorted == Seq(1L, 2L, 10L, 11L, 21L),
      s"survivors after mid-append kill-and-restart: ${ids.sorted}")
    assert(ids.length == ids.distinct.length, "duplicate output rows")
    spark.sql("DROP TABLE IF EXISTS graft_spec_midapp")
    spark.sql("DROP TABLE IF EXISTS graft_spec_midapp_twin")
  }

  test("partial-epoch repair: embed index deletes unmarked rows and re-appends; mixed-epoch files refuse loudly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-repair").toString
    // --- embed index: the repair path is shared (Dedup.appendEpochIndex),
    // exercised here per-family through the direct API
    IndexKind.embedLsh().init(spark, "graft_spec_repair_emb", s"$tmp/emb",
      buckets = 4)
    def vec(seed: Int) = Array.tabulate(64)(i => (i + seed).toFloat)
    val batch = Seq((1L, vec(1)), (2L, vec(2)), (3L, vec(3))).toDF("id", "vec")
    // simulate the crashed mid-commit append: attempt marker down (the
    // real append writes it first), ONE of the three vectors' postings
    // land stamped epoch=0, no commit marker
    graft.operators.EpochMarkers.markAttempt(spark, "graft_spec_repair_emb", 0L)
    graft.operators.Dedup.buildEmbedPostings(
        batch.where(col("id") === 2L), 8, 64)
      .withColumn("epoch", lit(0L))
      .write.mode("append").format("parquet")
      .bucketBy(4, "bucket").sortBy("bucket")
      .saveAsTable("graft_spec_repair_emb")
    assert(!graft.operators.Dedup.epochAppended(spark, "graft_spec_repair_emb", 0L))
    // the guarded append must repair: delete the partial file, append all
    IndexKind.embedLsh().append(batch, "graft_spec_repair_emb", 4, 0L)
    val rows = spark.table("graft_spec_repair_emb")
      .select("id", "epoch").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows.sorted == Seq((1L, 0L), (2L, 0L), (3L, 0L)),
      s"repair left a wrong posting multiset: ${rows.sorted}")
    assert(graft.operators.Dedup.epochAppended(spark, "graft_spec_repair_emb", 0L))
    // a second replay is now a clean skip
    IndexKind.embedLsh().append(batch, "graft_spec_repair_emb", 4, 0L)
    assert(spark.table("graft_spec_repair_emb").count() == 3L)
    // --- mixed-epoch files: a file holding TWO epochs (possible only if
    // the index was rewritten outside the ingest loop) must REFUSE the
    // delete-repair instead of destroying another epoch's postings
    IndexKind.textPostings("doc_id", "text").init(spark, "graft_spec_repair_mix",
      s"$tmp/mix", buckets = 2)
    val mk = (p: String) => (1 to 30).map(i => s"$p$i").mkString(" ")
    val two = graft.operators.Dedup.buildPostingIndex(
        Seq(1L -> mk("aa")).toDF("doc_id", "text"), "doc_id", "text", 3)
        .withColumn("epoch", lit(0L))
      .unionByName(graft.operators.Dedup.buildPostingIndex(
        Seq(2L -> mk("bb")).toDF("doc_id", "text"), "doc_id", "text", 3)
        .withColumn("epoch", lit(1L)))
      .coalesce(1)
    two.write.mode("append").format("parquet")
      .bucketBy(2, "h").sortBy("h").saveAsTable("graft_spec_repair_mix")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.repairPartialEpoch(spark, "graft_spec_repair_mix", 1L)
    }
    assert(e.getMessage.contains("epoch-per-append-file invariant"), e.getMessage)
    spark.sql("DROP TABLE IF EXISTS graft_spec_repair_emb")
    spark.sql("DROP TABLE IF EXISTS graft_spec_repair_mix")
  }

  test("replay-guard hot path is scan-free: a committed epoch's guard launches zero Spark jobs") {
    import spark.implicits._
    // the review fix's measurable claim: epochAppended + epochAttempted
    // are filesystem stats — the per-batch guard must never run a Spark
    // job over the index (the row-existence guard did, per batch)
    val tmp = Files.createTempDirectory("graft-guard-jobs").toString
    IndexKind.hamming().init(spark, "graft_spec_guardjobs", s"$tmp/idx",
      buckets = 4)
    IndexKind.hamming().append(Seq((1L, 42L)).toDF("id", "sh"),
      "graft_spec_guardjobs", 4, 0L)
    val probeJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val otherJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val group = Option(js.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull
        if (group == "graft-guard-probe") probeJobs.incrementAndGet()
        else otherJobs.incrementAndGet()
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // replayed committed epoch: guard short-circuits, zero jobs. Every
      // job submitted from this thread inside the group carries its id,
      // so the count is immune to however many jobs the sentinel needs.
      spark.sparkContext.setJobGroup("graft-guard-probe", "guard hot path")
      IndexKind.hamming().append(Seq((1L, 42L)).toDF("id", "sh"),
        "graft_spec_guardjobs", 4, 0L)
      assert(graft.operators.Dedup.epochAppended(spark, "graft_spec_guardjobs", 0L))
      assert(!graft.operators.EpochMarkers.epochAttempted(
        spark, "graft_spec_guardjobs", 0L))
      spark.sparkContext.clearJobGroup()
      // the listener bus is async with no latency bound — a fixed sleep
      // could let a late guard-path job event slip past a zero assert.
      // The bus is FIFO, so run a sentinel OUTSIDE the group and wait
      // for its first event: any guard-path job would precede it.
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (otherJobs.get() < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(otherJobs.get() >= 1, "sentinel job event never arrived")
      assert(probeJobs.get() == 0,
        s"the committed-epoch guard path ran ${probeJobs.get()} Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
    spark.sql("DROP TABLE IF EXISTS graft_spec_guardjobs")
  }

  test("maintenance endurance: 12 epochs with periodic swap compaction and output folding stay bounded and exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.streaming.IngestOutput
    // the full maintenance stack composed the way a month-long stream
    // runs it: generational index compaction every 4 epochs, output
    // folding every 5 — survivors must equal the maintenance-free twin,
    // and every growth axis (index files, output dirs, generations,
    // markers) must end bounded
    val mk = (p: String) => (1 to 30).map(i => s"$p$i").mkString(" ")
    val batches = (0 until 12).map { i =>
      if (i == 0) Seq(1L -> mk("t0"), 2L -> mk("u0"))
      else Seq(i * 10L -> mk(s"t$i"),              // fresh -> survives
               i * 10L + 1 -> mk(s"t${i - 1}"))    // dup of prior batch -> drops
    }.map(_.toDF("doc_id", "text"))
    val tmp = Files.createTempDirectory("graft-endurance").toString
    // maintenance-free twin (flat layout, no compaction, no folding)
    IndexKind.textPostings("doc_id", "text").init(spark, "graft_spec_end_plain",
      s"$tmp/plain", buckets = 4)
    val plain = EpochIngest.step(IndexKind.textPostings("doc_id", "text"),
      "graft_spec_end_plain", s"$tmp/plain_out", 4)
    batches.zipWithIndex.foreach { case (b, i) => plain(b, i.toLong) }
    // the maintained run
    IndexKind.textPostings("doc_id", "text").init(spark, "graft_spec_end",
      s"$tmp/gen", buckets = 4, gen = true)
    val step = EpochIngest.step(IndexKind.textPostings("doc_id", "text"), "graft_spec_end",
      s"$tmp/out", 4, indexPath = s"$tmp/gen", compactEvery = 4,
      foldOutputEvery = 5)
    batches.zipWithIndex.foreach { case (b, i) => step(b, i.toLong) }
    def ids(p: String) = IngestOutput.read(spark, p)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val truth = ids(s"$tmp/plain_out")
    assert(truth.size < 24 && truth.size >= 13, s"fixture degenerate: $truth")
    assert(ids(s"$tmp/out") == truth,
      "maintained run diverged from the maintenance-free twin")
    // growth axes, all bounded:
    val liveGen = graft.operators.GenIndex.liveGen(spark, s"$tmp/gen")
    assert(liveGen.contains(3L), s"swap compactions did not run: $liveGen")
    val idxFiles = new java.io.File(
        graft.operators.GenIndex.livePath(spark, s"$tmp/gen"))
      .listFiles().count(_.getName.startsWith("part-"))
    assert(idxFiles <= 4 + 4 * 4, // one compacted set + <= 4 epoch appends since
      s"index files unbounded: $idxFiles")
    val outEpochDirs = new java.io.File(s"$tmp/out").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("epoch="))
    assert(outEpochDirs <= 5, s"output dirs unbounded: $outEpochDirs")
    val outGens = new java.io.File(s"$tmp/out/_graft_folded").listFiles()
      .count(_.isDirectory)
    assert(outGens == 1, s"superseded fold generations not swept: $outGens")
    val markers = new java.io.File(s"$tmp/gen/_graft_epochs").listFiles()
      .map(_.getName).filter(n => n.startsWith("epoch-") || n.startsWith("attempt-"))
    assert(markers.length <= 2, // pruned to the newest at the last swap
      s"markers unbounded: ${markers.mkString(",")}")
    Seq("graft_spec_end_plain", "graft_spec_end")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("epoch markers count toward the resume guard: zero-posting epochs still advance max epoch") {
    import spark.implicits._
    // an epoch whose survivors were ALL duplicates lands zero postings
    // but still commits its marker — a row-derived max would let a wiped
    // checkpoint slip past as "ahead" while the stale markers silently
    // skip its appends (review finding)
    val tmp = Files.createTempDirectory("graft-marker-max").toString
    IndexKind.textPostings("doc_id", "text").init(spark, "graft_spec_mmax",
      s"$tmp/idx")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    IndexKind.textPostings("doc_id", "text").append(empty, "graft_spec_mmax", 8, 0L)
    IndexKind.textPostings("doc_id", "text").append(empty, "graft_spec_mmax", 8, 1L)
    assert(spark.table("graft_spec_mmax").count() == 0L, "fixture landed rows")
    assert(graft.operators.EpochMarkers.maxMarkedEpoch(spark, "graft_spec_mmax") == 1L)
    val e = intercept[IllegalArgumentException] {
      graft.operators.GenIndex.requireEpochAhead(spark, "graft_spec_mmax", 0L)
    }
    assert(e.getMessage.contains("does not belong"), e.getMessage)
    // the true continuation is still ahead
    graft.operators.GenIndex.requireEpochAhead(spark, "graft_spec_mmax", 2L)
    spark.sql("DROP TABLE IF EXISTS graft_spec_mmax")
  }

  test("EpochMarkers.backfill upgrades a pre-marker index: committed epochs recognized, replay append skips") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-backfill").toString
    val mk = (p: String) => (1 to 30).map(i => s"$p$i").mkString(" ")
    IndexKind.textPostings("doc_id", "text").init(spark, "graft_spec_bf",
      s"$tmp/idx")
    // a legacy (row-existence era) index: epochs present as ROWS only
    for (e <- 0 to 1) {
      graft.operators.Dedup.buildPostingIndex(
          Seq((10L * e + 1) -> mk(s"e$e")).toDF("doc_id", "text"),
          "doc_id", "text", 3)
        .withColumn("epoch", lit(e.toLong))
        .write.mode("append").format("parquet")
        .bucketBy(8, "h").sortBy("h").saveAsTable("graft_spec_bf")
    }
    assert(!graft.operators.Dedup.epochAppended(spark, "graft_spec_bf", 1L))
    graft.operators.EpochMarkers.backfill(spark, "graft_spec_bf")
    assert(graft.operators.Dedup.epochAppended(spark, "graft_spec_bf", 0L))
    // the NEWEST epoch is excluded by default: it is the one a resuming
    // checkpoint can replay, and a blanket marker would freeze a crashed
    // legacy partial append as committed forever (review finding) — the
    // resume's first-batch repair settles it instead
    assert(!graft.operators.Dedup.epochAppended(spark, "graft_spec_bf", 1L))
    // opting in (provably-complete newest, e.g. post-compaction) marks it
    graft.operators.EpochMarkers.backfill(spark, "graft_spec_bf",
      includeNewest = true)
    assert(graft.operators.Dedup.epochAppended(spark, "graft_spec_bf", 1L))
    // a replayed append over the backfilled epoch is a clean skip
    val before = spark.table("graft_spec_bf").count()
    IndexKind.textPostings("doc_id", "text").append(
      Seq(11L -> mk("e1")).toDF("doc_id", "text"), "graft_spec_bf", 8, 1L)
    assert(spark.table("graft_spec_bf").count() == before,
      "backfilled epoch was re-appended")
    assert(graft.operators.EpochMarkers.maxMarkedEpoch(spark, "graft_spec_bf") == 1L)
    spark.sql("DROP TABLE IF EXISTS graft_spec_bf")
  }

  test("pre-marker index resume self-heals: the first-batch repair stops a legacy replay from doubling postings") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the review regression this guards: a legacy (row-existence era)
    // index has rows but NEITHER marker; the attempt gate alone would
    // skip the repair and the replayed append would DOUBLE the epoch's
    // postings — validateFirstBatch's one-time probe must repair first
    val tmp = Files.createTempDirectory("graft-legacy-replay").toString
    val mk = (p: String) => (1 to 30).map(i => s"$p$i").mkString(" ")
    IndexKind.textPostings("doc_id", "text").init(spark, "graft_spec_legacy",
      s"$tmp/idx")
    graft.operators.EpochMarkers.reset(spark, s"$tmp/idx") // init markers away
    val b0 = Seq(1L -> mk("aa")).toDF("doc_id", "text")
    val b1 = Seq(2L -> mk("bb")).toDF("doc_id", "text")
    // legacy history: epochs 0 and 1 as ROWS only (raw appends, no markers)
    Seq((b0, 0L), (b1, 1L)).foreach { case (b, e) =>
      graft.operators.Dedup.buildPostingIndex(b, "doc_id", "text", 3)
        .withColumn("epoch", lit(e))
        .write.mode("append").format("parquet")
        .bucketBy(8, "h").sortBy("h").saveAsTable("graft_spec_legacy")
    }
    def postings() = spark.table("graft_spec_legacy")
      .select("id", "h", "epoch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val before = postings()
    // the resumed writer replays batch 1 through the REAL step (fresh
    // closure — validateFirstBatch runs)
    val step = EpochIngest.step(IndexKind.textPostings("doc_id", "text"), "graft_spec_legacy",
      s"$tmp/out")
    step(b1, 1L)
    assert(postings() == before,
      "legacy replay changed the posting multiset (doubling or loss)")
    assert(graft.operators.Dedup.epochAppended(spark, "graft_spec_legacy", 1L),
      "the replayed epoch must end committed under the marker era")
    // and the stream continues cleanly into the marker era
    step(Seq(3L -> mk("cc")).toDF("doc_id", "text"), 2L)
    assert(spark.table("graft_spec_legacy")
      .where(col("epoch") === 2).count() > 0)
    spark.sql("DROP TABLE IF EXISTS graft_spec_legacy")
  }

  test("compactSwap prunes epoch markers below the max: marker count stays bounded over a stream's life") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-prune").toString
    IndexKind.hamming().init(spark, "graft_spec_prune", s"$tmp/idx", buckets = 4,
      gen = true)
    val rnd = new java.util.Random(11)
    (0 until 3).foreach { e =>
      IndexKind.hamming().append(Seq((e * 10L, rnd.nextLong())).toDF("id", "sh"),
        "graft_spec_prune", 4, e.toLong)
    }
    graft.operators.GenIndex.compactSwap(spark, "graft_spec_prune",
      s"$tmp/idx", "bk", 4)
    // markers below the max are pruned; the max survives for the resume
    // guard, and the replay guard still answers for the newest epoch
    assert(graft.operators.EpochMarkers.maxMarkedEpoch(spark, "graft_spec_prune") == 2L)
    assert(graft.operators.Dedup.epochAppended(spark, "graft_spec_prune", 2L))
    assert(!graft.operators.Dedup.epochAppended(spark, "graft_spec_prune", 0L))
    val markerFiles = new java.io.File(s"$tmp/idx/_graft_epochs").listFiles()
      .map(_.getName).filter(_.startsWith("epoch-")).toSeq
    assert(markerFiles == Seq("epoch-2"), markerFiles.mkString(","))
    // rows survived the swap untouched
    assert(spark.table("graft_spec_prune").count() > 0)
    spark.sql("DROP TABLE IF EXISTS graft_spec_prune")
  }

  test("run-affinity guard: a wiped checkpoint over an index whose newest epoch is 0 fails loudly; the true writer's replay passes") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-runaff").toString
    val inDir = new java.io.File(s"$tmp/in"); inDir.mkdirs()
    Seq(1L -> (1 to 40).map(i => s"tok$i").mkString(" "),
        2L -> (1 to 40).map(i => s"alt$i").mkString(" "))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$tmp/b0")
    val src = new java.io.File(s"$tmp/b0").listFiles()
      .find(_.getName.startsWith("part-")).get
    assert(src.renameTo(new java.io.File(inDir, "b00.parquet")))
    IndexKind.textPostings("doc_id", "text").init(spark, "graft_spec_runaff",
      s"$tmp/idx")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def incoming = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
    def startQ() = EpochIngest.start(incoming, IndexKind.textPostings("doc_id", "text"),
      "graft_spec_runaff", s"$tmp/out", s"$tmp/ck", availableNow = true)
    startQ().awaitTermination()
    spark.catalog.refreshTable("graft_spec_runaff")
    assert(spark.table("graft_spec_runaff")
      .agg(max(col("epoch"))).head().getLong(0) == 0L, "fixture built no epoch")
    // the ADVICE hole: wipe the checkpoint — the fresh stream's batch 0
    // EQUALS the index's newest epoch, so arithmetic alone admits it; its
    // probe would see an empty corpus and its append would be skipped by
    // the old run's epoch-0 commit. The run-affinity marker must reject it.
    def rmRf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmRf); f.delete(); () }
    rmRf(new java.io.File(s"$tmp/ck"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      startQ().awaitTermination()
    }
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs(e).contains("not the one that wrote it"), msgs(e))
    // positive control — the TRUE writer's replay: fresh index+checkpoint,
    // crash AFTER epoch 0's full side effects (checkpoint uncommitted),
    // restart with a FRESH writer closure. batchId 0 == max epoch 0, but
    // the stable query id persisted in the checkpoint matches the run
    // marker, so the replay passes and converges.
    IndexKind.textPostings("doc_id", "text").init(spark, "graft_spec_runaff2",
      s"$tmp/idx2")
    val step1 = EpochIngest.step(IndexKind.textPostings("doc_id", "text"), "graft_spec_runaff2",
      s"$tmp/out2")
    var crashed = false
    val q = incoming.writeStream
      .option("checkpointLocation", s"$tmp/ck2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        step1(b, id)
        if (!crashed) { crashed = true
          throw new RuntimeException("injected crash after epoch side effects") }
      }
      .start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    val step2 = EpochIngest.step(IndexKind.textPostings("doc_id", "text"), "graft_spec_runaff2",
      s"$tmp/out2")
    val q2 = incoming.writeStream
      .option("checkpointLocation", s"$tmp/ck2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) => step2(b, id) }
      .start()
    q2.awaitTermination()
    val ids = spark.read.parquet(s"$tmp/out2")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(ids.sorted == Seq(1L, 2L), s"true replay diverged: $ids")
    spark.sql("DROP TABLE IF EXISTS graft_spec_runaff")
    spark.sql("DROP TABLE IF EXISTS graft_spec_runaff2")
  }

  test("ingest output folding: committed base generation, byte-identical reads, bounded directories, idempotent crash windows") {
    import graft.streaming.IngestOutput
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val mk = (p: String) => (1 to 40).map(i => s"$p$i").mkString(" ")
    // four batches, all distinct texts — every doc survives, epochs 0..3
    val batches = Seq(Seq(1L -> mk("aa")), Seq(2L -> mk("bb")),
                      Seq(3L -> mk("cc")), Seq(4L -> mk("dd")))
      .map(_.toDF("doc_id", "text"))
    val tmp = Files.createTempDirectory("graft-outfold").toString
    def runLoop(table: String, idx: String, out: String, fold: Int): Unit = {
      IndexKind.textPostings("doc_id", "text").init(spark, table, idx)
      val step = EpochIngest.step(IndexKind.textPostings("doc_id", "text"), table, out,
        foldOutputEvery = fold)
      batches.zipWithIndex.foreach { case (b, i) => step(b, i.toLong) }
    }
    runLoop("graft_spec_of_plain", s"$tmp/idx_p", s"$tmp/out_plain", 0)
    runLoop("graft_spec_of_fold", s"$tmp/idx_f", s"$tmp/out_fold", 2)
    def rows(p: String) = IngestOutput.read(spark, p)
      .select("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val truth = rows(s"$tmp/out_plain")
    assert(truth.map(_._1) == Seq(1L, 2L, 3L, 4L), s"fixture broke: $truth")
    assert(rows(s"$tmp/out_fold") == truth,
      "folded reader diverged from the unfolded twin")
    // directory shape: folds ran at epochs 1 (upto 0) and 3 (upto 2) —
    // one committed generation left, only epoch=3 unfolded
    def epochDirs() = new java.io.File(s"$tmp/out_fold").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("epoch=")).map(_.getName)
    assert(epochDirs().toSeq == Seq("epoch=3"), epochDirs().mkString(","))
    assert(IngestOutput.liveFold(spark, s"$tmp/out_fold").map(_._2).contains(2L))
    val genDirs = new java.io.File(s"$tmp/out_fold/_graft_folded").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(genDirs == Seq("gen-1"), s"superseded generations not swept: $genDirs")
    // idempotence: a replayed fold with the same upto changes nothing
    IngestOutput.fold(spark, s"$tmp/out_fold", 2L)
    assert(rows(s"$tmp/out_fold") == truth, "replayed fold changed the rows")
    // crash-after-commit-before-sweep: a straggler epoch dir <= upto must
    // be invisible to the reader and swept by the next fold
    Seq(999L -> mk("zz")).toDF("doc_id", "text")
      .write.parquet(s"$tmp/out_fold/epoch=1")
    assert(rows(s"$tmp/out_fold") == truth,
      "reader must ignore straggler epoch dirs at or below the folded upto")
    IngestOutput.fold(spark, s"$tmp/out_fold", 2L)
    assert(!new java.io.File(s"$tmp/out_fold/epoch=1").exists(),
      "the next fold must sweep stragglers")
    assert(rows(s"$tmp/out_fold") == truth)
    // fold the tail: zero unfolded directories, reads still identical
    IngestOutput.fold(spark, s"$tmp/out_fold", 3L)
    assert(epochDirs().isEmpty, epochDirs().mkString(","))
    assert(rows(s"$tmp/out_fold") == truth, "tail fold changed the rows")
    // crash-mid-sweep orphan: a COMMITTED generation below the live one
    // (full corpus copy) must be reclaimed by the next fold, not leak
    // forever (review finding — the GenIndex.sweep(keep) rule)
    val orphan = new java.io.File(s"$tmp/out_fold/_graft_folded/gen-0")
    orphan.mkdirs()
    Seq(888L -> mk("yy")).toDF("doc_id", "text")
      .withColumn("epoch", org.apache.spark.sql.functions.lit(0L))
      .write.mode("overwrite").parquet(orphan.toString)
    assert(new java.io.File(orphan, "_UPTO-0").createNewFile())
    assert(new java.io.File(orphan, "_COMMITTED").createNewFile())
    assert(rows(s"$tmp/out_fold") == truth,
      "reader must ignore superseded committed generations")
    Seq(5L -> mk("ee")).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$tmp/out_fold/epoch=4")
    IngestOutput.fold(spark, s"$tmp/out_fold", 4L)
    val gensAfter = new java.io.File(s"$tmp/out_fold/_graft_folded")
      .listFiles().filter(_.isDirectory).map(_.getName).toSeq.sorted
    assert(gensAfter.size == 1, s"orphaned generations not swept: $gensAfter")
    assert(rows(s"$tmp/out_fold").map(_._1) == (truth.map(_._1) :+ 5L).sorted,
      "post-sweep rows diverged")
    // and a fold whose window holds NO new epochs must STILL reclaim an
    // orphan (the entry-time sweep — the early-return branches used to
    // skip it): manufacture another orphan below the live generation,
    // re-fold the same upto, orphan gone, rows untouched
    val orphan2 = new java.io.File(s"$tmp/out_fold/_graft_folded/gen-1")
    orphan2.mkdirs()
    Seq(777L -> mk("xx")).toDF("doc_id", "text")
      .withColumn("epoch", org.apache.spark.sql.functions.lit(0L))
      .write.mode("overwrite").parquet(orphan2.toString)
    assert(new java.io.File(orphan2, "_UPTO-0").createNewFile())
    assert(new java.io.File(orphan2, "_COMMITTED").createNewFile())
    IngestOutput.fold(spark, s"$tmp/out_fold", 4L) // empty window
    assert(!orphan2.exists(), "empty-window fold left the orphan in place")
    assert(rows(s"$tmp/out_fold").map(_._1) == (truth.map(_._1) :+ 5L).sorted)
    Seq("graft_spec_of_plain", "graft_spec_of_fold")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("ingest output folding LIVE: streaming dedup ingest with per-epoch folds matches the unfolded twin") {
    import graft.streaming.IngestOutput
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val mk = (p: String) => (1 to 40).map(i => s"$p$i").mkString(" ")
    val batches = Seq(
      Seq(1L -> mk("tok"), 2L -> mk("alt")),
      Seq(10L -> (mk("tok") + " t1"), 11L -> mk("new")),
      Seq(20L -> mk("fin")))
    val tmp = Files.createTempDirectory("graft-outfold-live").toString
    val inDir = new java.io.File(s"$tmp/in"); inDir.mkdirs()
    batches.zipWithIndex.foreach { case (b, i) =>
      val part = s"$tmp/b$i"
      b.toDF("doc_id", "text").coalesce(1).write.parquet(part)
      val src = new java.io.File(part).listFiles()
        .find(_.getName.startsWith("part-")).get
      val dst = new java.io.File(inDir, f"b$i%02d.parquet")
      assert(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
    }
    IndexKind.textPostings("doc_id", "text").init(spark, "graft_spec_of_live",
      s"$tmp/idx")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val q = EpochIngest.start(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir.toString),
      IndexKind.textPostings("doc_id", "text"), "graft_spec_of_live", s"$tmp/out",
      s"$tmp/ck", availableNow = true, foldOutputEvery = 1)
    q.awaitTermination()
    val got = IngestOutput.read(spark, s"$tmp/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 10 near-dups 1 (same tok prefix + tail) -> dropped
    assert(got == Set(1L, 2L, 11L, 20L), s"live folded survivors: $got")
    // epochs 0 and 1 folded (fold upto batchId-1 each epoch); epoch 2 live
    assert(IngestOutput.liveFold(spark, s"$tmp/out").map(_._2).contains(1L))
    spark.sql("DROP TABLE IF EXISTS graft_spec_of_live")
  }

  test("embed ingest adversarial corpus: one LSH bucket captures most vectors — survivors stay exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a semantic-dedup corpus is exactly this shape: near-identical
    // embeddings concentrating in one hyperplane bucket. The decision
    // record must stay EXACT under the hot bucket — the documented
    // contract is that cost is bounded UPSTREAM (quality filters), never
    // by pruning the index — so this spec pins correctness at >= 50%
    // single-bucket concentration against a local greedy recompute.
    val dim = 16
    val base = Array.tabulate(dim)(i => (i + 1).toFloat)
    def perturbed(k: Int): Array[Float] = {
      val v = base.clone()
      // absolute bump: every distinct pair differs by >= 1.5 on some
      // coordinate, so no pair's cosine creeps into the copy band
      v(k % dim) += 1.5f * ((k / dim) + 1)
      v
    }
    // 10 corpus vectors; 30-vector batch = 20 fresh perturbations + 5
    // exact copies of corpus vectors + 5 exact copies of smaller-id batch
    // vectors (dup sources are ALL batch members, not just survivors)
    val corpus = (0 until 10).map(k => (k.toLong, perturbed(k)))
    val fresh = (0 until 20).map(k => (100L + k, perturbed(10 + k)))
    val copiesOfCorpus = (0 until 5).map(k => (200L + k, perturbed(k)))
    val copiesOfBatch = (0 until 5).map(k => (300L + k, perturbed(10 + k)))
    val batch = fresh ++ copiesOfCorpus ++ copiesOfBatch
    val corpusDf = corpus.toDF("id", "vec")
    val batchDf = batch.toDF("id", "vec")
    val lshBits = 4
    // actual buckets from the operator's own hashing — the expectation
    // below blocks on them exactly like the operator does
    def buckets(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select(col("id"), graft.operators.Similarity
          .hyperplaneBucket(col("vec"), lshBits, dim).as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cb = buckets(corpusDf); val bb = buckets(batchDf)
    val all = cb.values ++ bb.values
    val hottest = all.groupBy(identity).map(_._2.size).max
    assert(hottest * 2 >= all.size,
      s"fixture lost its skew: hottest bucket $hottest of ${all.size}")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      (0 until dim).foreach { i => d += a(i).toDouble * b(i)
        na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / math.sqrt(na * nb)
    }
    // threshold halfway between the closest DISTINCT pair and the exact
    // copies (cosine 1.0) — self-derived so the margin provably dwarfs
    // any FP noise between the local and the operator's cosine
    val pool = corpus ++ batch
    val distinctMax = (for { (i, vi) <- pool; (j, vj) <- pool
      if i < j && !vi.sameElements(vj) } yield cos(vi, vj)).max
    assert(1.0 - distinctMax > 1e-5,
      s"fixture margin too thin: closest distinct pair at $distinctMax")
    val threshold = (distinctMax + 1.0) / 2
    val vecOf = (corpus ++ batch).toMap
    val expected = batch.map { case (id, v) =>
      val dupCorpus = corpus.exists { case (cid, cv) =>
        cb(cid) == bb(id) && cos(v, cv) >= threshold }
      val dupBatch = batch.exists { case (bid, bv) =>
        bid < id && bb(bid) == bb(id) && cos(v, bv) >= threshold }
      (id, !dupCorpus && !dupBatch)
    }.filter(_._2).map(_._1).toSet
    assert(expected.nonEmpty && expected.size < batch.size,
      s"fixture degenerate: ${expected.size} of ${batch.size} expected")
    val got = graft.operators.Dedup.embedSurvivorsIndexed(
        batchDf, graft.operators.Dedup.buildEmbedPostings(corpusDf, lshBits, dim),
        threshold, lshBits, dim)
      .where(col("survives")).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(got == expected,
      s"hot-bucket survivors diverged: extra=${got.diff(expected)} missing=${expected.diff(got)}")
    assert(vecOf.size == corpus.size + batch.size) // ids unique, fixture sane
  }

  test("config-declared dedup ingest: HOCON boots the text posting-index loop through Pipeline.start") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the HOCON ingest triad's third member: the same three ordered doc
    // batches the code twin sees, declared config-only
    val mk = (p: String) => (1 to 40).map(i => s"$p$i").mkString(" ")
    val batches = Seq(
      Seq(1L -> mk("tok"), 2L -> mk("alt")),
      Seq(10L -> (mk("tok") + " t1 t2"), 11L -> mk("new")),
      Seq(20L -> (mk("alt") + " x1"), 21L -> mk("fin")))
    val tmp = Files.createTempDirectory("graft-cfg-dedup").toString
    val inDir = new java.io.File(s"$tmp/in"); inDir.mkdirs()
    batches.zipWithIndex.foreach { case (b, i) =>
      val part = s"$tmp/b$i"
      b.toDF("doc_id", "text").coalesce(1).write.parquet(part)
      val src = new java.io.File(part).listFiles()
        .find(_.getName.startsWith("part-")).get
      val dst = new java.io.File(inDir, f"b$i%02d.parquet")
      assert(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
    }
    val conf = GraftConfig.parse(s"""
      graft {
        source { crawl { fqcn = "graft.DocPayloadSourcePlugin",
                         path = "$inDir", available-now = true,
                         sinks = [ingest] } }
        sink { ingest { type = dedup-ingest,
                        index-table = graft_spec_cfg_dedup,
                        index-path = "$tmp/idx",
                        out-path = "$tmp/out",
                        threshold = 0.5, layout = gen,
                        compact-every = 1, fold-output-every = 1 } }
      }""")
    val ps = Pipeline.start(spark, conf, s"$tmp/ck")
    try ps.foreach(_.query.awaitTermination())
    finally ps.foreach(p => if (p.query.isActive) p.query.stop())
    val got = graft.streaming.IngestOutput.read(spark, s"$tmp/out")
      .select("id").collect().map(_.getLong(0)).toSet
    // code-assembled twin over the identical batches from a fresh index
    IndexKind.textPostings("doc_id", "text").init(spark,
      "graft_spec_cfg_dedup_twin", s"$tmp/idx_twin")
    val twinStep = EpochIngest.step(IndexKind.textPostings("doc_id", "text"),
      "graft_spec_cfg_dedup_twin", s"$tmp/out_twin")
    batches.zipWithIndex.foreach { case (b, i) =>
      twinStep(b.toDF("doc_id", "text"), i.toLong) }
    val twin = spark.read.parquet(s"$tmp/out_twin")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty, "config-declared dedup ingest accepted nothing")
    assert(got == twin,
      s"config DAG diverged from the code twin: ${got.diff(twin)} / ${twin.diff(got)}")
    // the generational layout compacted each epoch and the output folded
    assert(graft.operators.GenIndex.liveGen(spark, s"$tmp/idx").contains(3L))
    assert(graft.streaming.IngestOutput.liveFold(spark, s"$tmp/out")
      .map(_._2).contains(1L))
    spark.sql("DROP TABLE IF EXISTS graft_spec_cfg_dedup")
    spark.sql("DROP TABLE IF EXISTS graft_spec_cfg_dedup_twin")
  }

  test("streaming funnel: out-of-order buffering, cross-batch chaining, watermark flush") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.FunnelStream
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = org.apache.spark.sql.Encoders.product[(Long, String, Long)]
    val ms = MemoryStream[(Long, String, Long)]
    val reaches = FunnelStream.reaches(
      ms.toDF().toDF("user_id", "event_type", "ts_ms"),
      Seq("A", "B", "C"), windowMs = Some(1000L), quiesceMs = 1000L)
    val sinkDir = Files.createTempDirectory("funnel-out")
    val q = reaches.toDF().writeStream.outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("funnel-ck").toString)
      .format("parquet").option("path", sinkDir.toString).start()
    // batch 1: u1's step events arrive OUT OF ORDER inside the batch
    ms.addData(Seq((1L, "B", 200L), (1L, "A", 100L)))
    q.processAllAvailable()
    // batch 2: u1 completes across batches; u2 only signs up
    ms.addData(Seq((1L, "C", 300L), (2L, "A", 1000L)))
    q.processAllAvailable()
    // two sentinel batches: first pushes the watermark past every real
    // user's quiesce timeout, second triggers the timed-out replay
    ms.addData(Seq((99L, "A", 10000000L))); q.processAllAvailable()
    ms.addData(Seq((98L, "A", 20000000L))); q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(sinkDir.toString)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("step"),
        r.getAs[String]("step_name")))
      .filter(_._1 < 90).toSet
    assert(rows == Set((1L, 1, "A"), (1L, 2, "B"), (1L, 3, "C"), (2L, 1, "A")),
      s"got $rows")
  }

  test("dual-watermark semantics: batch N's late filter lags one batch; eviction is current (SPARK-24634)") {
    // The stream_late_data oracle encodes this exact machine; this spec
    // pins it against Spark upgrades with a minimal controlled stream:
    //   batch 0: one row at hour 10      -> watermark after b0 = 9h-ish
    //   batch 1: rows at hour 1 (deeply late) and hour 10.5
    // If the late filter used the CURRENT watermark, the hour-1 row
    // would be dropped. Under the dual-watermark rule it is ADMITTED
    // (batch 1 filters with batch 0's pre-watermark = 0), then evicted
    // and EMITTED by batch 1's own eviction watermark, while the
    // still-open hour-10 window is held as state at termination.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-wm-spec")
    val in = work.resolve("in"); java.nio.file.Files.createDirectories(in)
    val h = 3600000L
    def write(name: String, rows: Seq[Long], mtime: Long): Unit = {
      val part = work.resolve(name + "_t")
      rows.toDF("ms").select(timestamp_millis(col("ms")).as("ts"), lit(1L).as("v"))
        .coalesce(1).write.parquet(part.toString)
      val src = part.toFile.listFiles().find(_.getName.startsWith("part-")).get
      val dst = in.resolve(name + ".parquet").toFile
      assert(src.renameTo(dst) && dst.setLastModified(mtime))
    }
    write("b0", Seq(10 * h + 5), 1700000000000L)
    write("b1", Seq(1 * h + 5, 10 * h + 1800000), 1700000060000L)
    val incoming = spark.readStream.schema("ts timestamp, v long")
      .option("maxFilesPerTrigger", 1).parquet(in.toString)
    val out = work.resolve("out").toString
    val q = incoming.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("window.start")).as("ws"), col("n"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", work.resolve("ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", out).start()
    q.awaitTermination()
    val got = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("ws") / h -> r.getAs[Long]("n")).toMap
    assert(got == Map(1L -> 1L),
      s"expected only the late hour-1 window emitted (admitted under the " +
      s"lagged filter, evicted by the current watermark); got $got")
  }

  test("first fold over 1000 never-folded epochs: one multi-dir scan, not an O(epochs) union plan") {
    import graft.streaming.IngestOutput
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-widefold").toString
    val out = s"$tmp/out"
    // one real epoch directory written by Spark, then filesystem-level
    // copies — 1000 epoch dirs at file-copy cost, not 1000 write jobs
    Seq(0L -> "seed").toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$out/epoch=0")
    val part = new java.io.File(s"$out/epoch=0").listFiles()
      .find(_.getName.startsWith("part-")).get
    (1 until 1000).foreach { k =>
      val d = new java.io.File(s"$out/epoch=$k"); d.mkdirs()
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(d, part.getName).toPath)
    }
    // count relation leaves in every query analyzed during the fold: the
    // unfolded window must arrive as ONE multi-dir relation (+ at most a
    // base generation), never one relation per epoch directory — the
    // round-15 verdict #1 driver-side analyzer blowup
    val leafCounts = new java.util.concurrent.CopyOnWriteArrayList[Integer]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        leafCounts.add(qe.analyzed.collectLeaves().count(
          _.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      IngestOutput.fold(spark, out, 999L)
      // the execution-listener bus is async — wait for the fold write's
      // entry (the only tracked query with >= 1 relation leaf) to land
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!leafCounts.toArray.exists(_.asInstanceOf[Integer] >= 1) &&
             System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val counts = leafCounts.asScala.map(_.toInt).toSeq
    assert(counts.exists(_ >= 1), "fold ran no tracked write query")
    assert(counts.max <= 2,
      s"fold read the epoch window through ${counts.max} relations — " +
      "the O(epochs) per-dir union is back")
    // the official reader sees all 1000 rows with partition-derived epochs
    val got = IngestOutput.read(spark, out)
      .select("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 1000 &&
           got.map(_._2).sorted.toSeq == (0L until 1000L),
      s"read after the wide fold broke: n=${got.length}")
    assert(new java.io.File(out).listFiles().count(f =>
        f.isDirectory && f.getName.startsWith("epoch=")) == 0,
      "folded epoch dirs not swept")
  }

  test("marker pruning without compaction: 20 guarded appends keep the marker directory bounded") {
    import spark.implicits._
    // STREAMING context (thread-local query id, as inside foreachBatch):
    // only then may appendEpochIndex prune — a streaming writer can
    // never legally revisit an epoch below the max (requireEpochAhead)
    val tmp = Files.createTempDirectory("graft-markerprune20").toString
    IndexKind.textPostings("doc_id", "text").init(spark, "graft_spec_prune20",
      s"$tmp/idx")
    try {
      spark.sparkContext.setLocalProperty("sql.streaming.queryId", "spec-prune-q")
      (0 until 20).foreach { e =>
        IndexKind.textPostings("doc_id", "text").append(
          Seq((e.toLong, s"alpha beta gamma delta epsilon zeta eta doc$e"))
            .toDF("doc_id", "text"),
          "graft_spec_prune20", 8, e.toLong)
      }
    } finally spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
    val markers = new java.io.File(s"$tmp/idx/_graft_epochs").listFiles()
      .map(_.getName)
      .filter(n => n.startsWith("epoch-") || n.startsWith("attempt-")).toSeq
    // the epoch-15 append pruned 0..14; 15..19 remain — the bound is the
    // prune cadence (16), not the stream age (previously one file per
    // epoch forever when compactEvery = 0 / flat layout)
    assert(markers.sorted == (15 to 19).map(e => s"epoch-$e"),
      s"marker cadence bound broken: ${markers.sorted.mkString(",")}")
    assert(graft.operators.EpochMarkers.maxMarkedEpoch(
      spark, "graft_spec_prune20") == 19L)
    // pruning never weakens the guard: the newest epoch still reads as
    // appended, so its replay is still skipped
    assert(graft.operators.Dedup.epochAppended(spark, "graft_spec_prune20", 19L))
    spark.sql("DROP TABLE IF EXISTS `graft_spec_prune20`")
  }

  test("direct (non-streaming) guarded appends never prune: every epoch's replay stays idempotent") {
    import spark.implicits._
    // round-16 ADVICE: a DIRECT caller replaying a driver-sequential loop
    // from epoch 0 relies on every epoch's marker for replay-skip; pruning
    // under it would re-append pruned epochs as duplicates
    val tmp = Files.createTempDirectory("graft-markernoprune").toString
    IndexKind.textPostings("doc_id", "text").init(spark, "graft_spec_noprune",
      s"$tmp/idx")
    def appendAll(): Unit = (0 until 20).foreach { e =>
      IndexKind.textPostings("doc_id", "text").append(
        Seq((e.toLong, s"alpha beta gamma delta epsilon zeta eta doc$e"))
          .toDF("doc_id", "text"),
        "graft_spec_noprune", 8, e.toLong)
    }
    appendAll()
    val markers = new java.io.File(s"$tmp/idx/_graft_epochs").listFiles()
      .map(_.getName).filter(_.startsWith("epoch-")).toSeq
    assert(markers.sorted == (0 to 19).map(e => s"epoch-$e").sorted,
      s"direct appends must keep every marker: ${markers.sorted.mkString(",")}")
    // replaying the whole loop appends NOTHING (every epoch skips)
    val n = spark.table("graft_spec_noprune").count()
    appendAll()
    assert(spark.table("graft_spec_noprune").count() == n,
      "a replayed direct loop must skip every committed epoch, not duplicate it")
    spark.sql("DROP TABLE IF EXISTS `graft_spec_noprune`")
  }

  test("marker-less legacy adoption is loud and one-shot (round-15 verdict #2)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-legacyadopt").toString
    IndexKind.textPostings("doc_id", "text").init(spark, "graft_spec_legacy",
      s"$tmp/idx")
    IndexKind.textPostings("doc_id", "text").append(
      Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"),
      "graft_spec_legacy", 8, 0L)
    // strip every marker: the pre-marker-era index state
    graft.operators.EpochMarkers.reset(spark, s"$tmp/idx")
    val before = graft.operators.GenIndex.legacyAdoptions.get()
    try {
      // a stream at the replayed epoch adopts the marker-less index, but
      // LOUDLY (warning + counter), and records itself as owner
      spark.sparkContext.setLocalProperty("sql.streaming.queryId", "spec-legacy-q1")
      graft.operators.GenIndex.requireEpochAhead(spark, "graft_spec_legacy", 0L)
      assert(graft.operators.GenIndex.legacyAdoptions.get() == before + 1,
        "marker-less adoption must be counted (loud-adoption contract)")
      // one-shot: a SECOND wiped/foreign checkpoint now fails hard
      spark.sparkContext.setLocalProperty("sql.streaming.queryId", "spec-legacy-q2")
      val e = intercept[IllegalArgumentException] {
        graft.operators.GenIndex.requireEpochAhead(spark, "graft_spec_legacy", 0L)
      }
      assert(e.getMessage.contains("not the one that wrote it"), e.getMessage)
      // the recorded owner resumes silently — no new adoption counted
      spark.sparkContext.setLocalProperty("sql.streaming.queryId", "spec-legacy-q1")
      graft.operators.GenIndex.requireEpochAhead(spark, "graft_spec_legacy", 0L)
      assert(graft.operators.GenIndex.legacyAdoptions.get() == before + 1,
        "owner resume must not re-count as adoption")
    } finally
      spark.sparkContext.setLocalProperty("sql.streaming.queryId", null)
    spark.sql("DROP TABLE IF EXISTS `graft_spec_legacy`")
  }
}
