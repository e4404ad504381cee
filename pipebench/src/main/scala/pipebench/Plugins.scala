package pipebench

import graft.config.GraftConfig
import graft.sinks.Sinks
import graft.streaming.{DedupIngestSink, EpochSinkPlugin}

import org.apache.spark.sql.DataFrame

/** Traced runs only: a sink declared as `fqcn = "pipebench.TimedSink"` with
  * `wrap = http | dedup-ingest` builds the stock writer of that type
  * from the same section and records one span per writer call, keyed by
  * the micro-batch it serves. Untraced runs declare the stock `type`. */
class TimedSink extends EpochSinkPlugin {
  override def build(cfg: GraftConfig): (DataFrame, Long) => Unit = {
    val inner: (DataFrame, Long) => Unit = cfg.getString("wrap") match {
      case "http" =>
        val w = Sinks.httpWriter(Sinks.HttpSinkConfig.fromConfig(cfg),
          cfg.getInt("batch-size", 128))
        (df, _) => w(df)
      case "dedup-ingest" => DedupIngestSink.writer(cfg)
      case other => throw new IllegalArgumentException(s"cannot wrap <$other>")
    }
    val name = "sink." + cfg.path.split('.').last
    (df, epoch) => {
      val query = df.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")
      val t0 = Clock.ms
      try inner(df, epoch)
      finally Trace.rec.span(name, s"$query/$epoch", "streaming.addBatch", t0, Clock.ms)
    }
  }
}
