package graft.streaming

import graft.config.GraftConfig
import graft.event.Event
import graft.interceptor.InterceptorChain
import graft.sinks.Sinks
import graft.sources.Sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Config-driven pipeline assembly — the engine's "query lifecycle"
  * (SURVEY.md §3). The reference boots an actor graph from HOCON sections
  * (`AtieshServer.scala:116-164`); here the same declaration builds one
  * Structured Streaming query per source:
  *
  * {{{
  * graft {
  *   source      { s1 { type = directory, path = "/in", interceptors = [i1], sinks = [k1] } }
  *   interceptor { i1 { fqcn = "graft.interceptor.Transparent", priority = 90 } }
  *   sink        { k1 { type = file, path = "/out" } }
  * }
  * }}}
  *
  * Start order is sinks-before-sources like the reference (`AtieshServer
  * .scala:133,151-152`) — trivially satisfied because sinks are passive
  * writers; shutdown = `query.stop()` per source, offsets checkpointed, so
  * the reference's graceful-drain/dump machinery reduces to "uncommitted
  * offsets replay on restart" (at-least-once, same contract).
  */
object Pipeline {

  final case class SinkSpec(name: String, accept: Option[String],
                            writer: DataFrame => Unit)

  final case class SourcePipeline(name: String, query: StreamingQuery)

  /** Assemble and start every `graft.source.*` pipeline in the config. */
  def start(spark: SparkSession, cfg: GraftConfig,
            checkpointRoot: String): Seq[SourcePipeline] = {
    val srcSection = cfg.getSection("graft.source").getOrElse(
      throw new IllegalArgumentException("missing <graft.source> section"))
    // start queries one by one, but NEVER leak the already-started ones if
    // a later source's assembly throws: the caller gets no handles from a
    // thrown start(), so anything left running would be unstoppable
    val started = scala.collection.mutable.ListBuffer.empty[SourcePipeline]
    try {
      srcSection.sectionKeys.foreach { name =>
        val sc = srcSection.getSection(name).get
        started += SourcePipeline(name,
          startOne(spark, cfg, name, sc, s"$checkpointRoot/$name"))
      }
      started.toSeq
    } catch {
      case e: Throwable =>
        started.foreach(p =>
          try p.query.stop() catch { case _: Exception => () })
        throw e
    }
  }

  /** `fqcn =` with no `type` loads a user [[SourcePlugin]] by class name —
    * the reference's reflective extensibility story for sources
    * (`Source.scala:123-149`). */
  private[streaming] def buildSource(spark: SparkSession, sc: GraftConfig)
      : Dataset[Event] = (sc.getStringOpt("type"), sc.getStringOpt("fqcn")) match {
    case (None, Some(fqcn)) =>
      graft.interceptor.ComponentLoader.createPlugin[SourcePlugin](fqcn, sc)
        .build(spark, sc)
    case (Some(t), Some(fqcn)) =>
      // in the reference, fqcn is THE component selector — a migrated config
      // carrying both keys must fail loudly, not silently use the builtin
      throw new IllegalArgumentException(
        s"source section declares both type=<$t> and fqcn=<$fqcn>; use exactly one (MIGRATION.md)")
    case (t, _) => t.getOrElse("devzero") match {
    case "devzero"   => Sources.devZero(spark, sc.getInt("batch-size", 1024))
    case "directory" =>
      if (sc.getBoolean("line-offsets", default = false))
        Sources.directoryWatchWithOffsets(spark, sc.getString("path"),
          sc.getInt("max-files-per-trigger", 16),
          sc.getBytes("max-line-length", 512L * 1024).toInt,
          truncateOverLength = sc.getBoolean("truncate-over-length", default = true),
          charset = sc.getString("file-charset", "UTF-8"))
      else Sources.directoryWatch(spark, sc.getString("path"),
        sc.getInt("max-files-per-trigger", 16),
        sc.getBytes("max-line-length", 512L * 1024).toInt,
        truncateOverLength = sc.getBoolean("truncate-over-length", default = true),
        fileHeaders = sc.getBoolean("enable-file-headers", default = false),
        charset = sc.getString("file-charset", "UTF-8"))
    case "kafka"     =>
      val (fmt, opts) = Sources.kafkaSourceOptions(sc)
      Sources.kafkaRecordsAsEvents(
        spark.readStream.format(fmt).options(opts).load())
    case "http-push" => // embedded HTTP endpoint, DSv2 micro-batch source
      Sources.asEvents(spark.readStream.format("http-push")
        .option("port", sc.getInt("listen-port", 0).toString)
        .option("listen-address", sc.getString("listen-address", "127.0.0.1"))
        .option("delimiter", sc.getString("delimiter", "\n"))
        .option("max-connections", sc.getInt("max-connections", 8).toString)
        .options(sc.getStringOpt("request-header-capture-prefix")
          .map("request-header-capture-prefix" -> _).toMap)
        .load())
    case "events-parquet" => // the driver corpus replayed as a stream
      Sources.eventsTableAsEvents(
        Sources.parquetStream(spark, sc.getString("path"),
                              sc.getInt("max-files-per-trigger", 4)))
    case other => throw new IllegalArgumentException(s"unknown source type <$other>")
    }
  }

  /** `fqcn =` with no `type` loads a user [[SinkPlugin]] or
    * [[EpochSinkPlugin]] by class name (reference `Sink.scala:57-77`);
    * epoch-aware plugins receive the foreachBatch batchId, everything
    * else ignores it. */
  private[streaming] def buildSink(sc: GraftConfig): (DataFrame, Long) => Unit = {
    def plain(w: DataFrame => Unit): (DataFrame, Long) => Unit = (df, _) => w(df)
    (sc.getStringOpt("type"), sc.getStringOpt("fqcn")) match {
      case (None, Some(fqcn)) =>
        graft.interceptor.ComponentLoader.createPlugin[AnyRef](fqcn, sc) match {
          case p: EpochSinkPlugin => p.build(sc)
          case p: SinkPlugin      => plain(p.build(sc))
          case other => throw new IllegalArgumentException(
            s"$fqcn is neither a SinkPlugin nor an EpochSinkPlugin: ${other.getClass}")
        }
      case (Some(t), Some(fqcn)) =>
        throw new IllegalArgumentException(
          s"sink section declares both type=<$t> and fqcn=<$fqcn>; use exactly one (MIGRATION.md)")
      case (t, _) => t.getOrElse("devnull") match {
      case "devnull" | "noop" => plain(Sinks.noopWriter)
      case "file"   => plain(Sinks.fileWriter(sc.getString("path"),
                                        sc.getString("format", "parquet")))
      case "http"   => plain(Sinks.httpWriter(Sinks.HttpSinkConfig.fromConfig(sc),
                                        sc.getInt("batch-size", 128)))
      case "mm-ingest" => // the composed multimodal ingest DAG as a sink
        MmIngestSink.writer(sc)
      case "embed-ingest" => // the embedding semantic-dedup ingest loop
        EmbedIngestSink.writer(sc)
      case "dedup-ingest" => // the text posting-index ingest loop
        DedupIngestSink.writer(sc)
      case "syslog" =>
        val transport = sc.getString("transport", "tcp") match {
          case "udp" => Sinks.SyslogUdp
          case "tls" => Sinks.SyslogTls(sc.getStringOpt("ssl-ca-file"))
          case _     => Sinks.SyslogTcp
        }
        plain(Sinks.syslogWriter(sc.getString("remote-host"),
          sc.getInt("remote-port", 514),
          sc.getInt("facility", 1), sc.getInt("severity", 6),
          sc.getString("app", "graft"),
          transport = Some(transport)))
      case "kafka"  =>
        val topic = sc.getStringOpt("topic")
        val header = sc.getStringOpt("topic-header")
        // fail at assembly like every other sink misconfiguration — not
        // minutes later inside the first non-empty micro-batch
        require(topic.nonEmpty || header.nonEmpty,
          "kafka sink needs <topic> or <topic-header>")
        val opts = Sinks.kafkaSinkOptions(sc)
        plain(batch => { Sinks.kafkaRecords(batch, topic, header)
          .write.format("kafka").options(opts).save(); () })
      case other => throw new IllegalArgumentException(s"unknown sink type <$other>")
      }
    }
  }

  private def startOne(spark: SparkSession, root: GraftConfig, name: String,
                       sc: GraftConfig, checkpoint: String): StreamingQuery = {
    val events = buildSource(spark, sc)
    val chain = InterceptorChain.fromConfig(root, sc.getStringList("interceptors"))
    val transformed = chain(events)

    val sinkSection = root.getSection("graft.sink").getOrElse(GraftConfig.empty)
    val sinkNames = sc.getStringList("sinks")
    require(sinkNames.nonEmpty, s"source <$name> declares no sinks")
    val routes = sinkNames.map { sn =>
      val scfg = sinkSection.getSection(sn).getOrElse(
        throw new IllegalArgumentException(s"undeclared sink <$sn>"))
      // acceptance predicate: SQL expression over (body, headers); default accept-all
      Sinks.Route(sn, scfg.getStringOpt("accept").map(expr).getOrElse(lit(true)))
    }
    val writers = sinkNames.map { sn =>
      sn -> buildSink(sinkSection.getSection(sn).get)
    }.toMap

    val trigger = sc.getDurationOpt("trigger-interval") match {
      case Some(d) => Trigger.ProcessingTime(d)
      case None if sc.getBoolean("available-now", default = false) => Trigger.AvailableNow()
      case None => Trigger.ProcessingTime(0L)
    }

    Streams.start(transformed.toDF())(_
      .queryName(s"graft-$name")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Sinks.fanoutEpoch(batch, routes, writers, epoch = batchId,
          skipAcceptCheckOnSingle =
            sc.getString("sink-select-strategy", "skip-accept-check-on-single") ==
              "skip-accept-check-on-single")
      })
  }
}
