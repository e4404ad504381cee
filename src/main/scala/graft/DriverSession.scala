package graft

import org.apache.spark.sql.SparkSession

/** The local session the driver mains (Verify, Bench, the tools) run on. */
object DriverSession {

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC session
    * time, nanosecond parquet timestamps read as longs (the testdata
    * layout), graft's SQL extensions, AQE on and the UI off; `extra`
    * settings are applied last. Logs at `logLevel`. */
  def apply(appName: String, cpus: String, logLevel: String = "ERROR",
            extra: Map[String, String] = Map.empty): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
    val spark = extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
