package graft

import java.util.Properties

import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

/** `Bench`'s per-job debug lines (`SPARK_GRAFT_BENCH_DEBUG=1`): each job
  * carries its run's description, and the gap before a job is measured from
  * the jobs that had ended when it started. */
class BenchJobLogSpec extends SparkSpec {

  private def start(log: Bench.JobLog, id: Int, t: Long, desc: String): Unit = {
    val props = new Properties()
    props.setProperty("spark.job.description", desc)
    log.onJobStart(SparkListenerJobStart(id, t, Seq.empty, props))
  }
  private def end(log: Bench.JobLog, id: Int, t: Long): Unit =
    log.onJobEnd(SparkListenerJobEnd(id, t, JobSucceeded))

  private def field(line: String, name: String): String =
    s"$name=\\s*(\\S+)".r.findFirstMatchIn(line).get.group(1)

  test("synthetic events: descriptions from the job properties, gaps from ended jobs, overlap for concurrent ones") {
    val log = new Bench.JobLog
    // job 1 runs 0-100 ms; jobs 2 and 3 start together at 250 ms (AQE's
    // query stages) and end at 400 and 300; job 4 starts at 350, while job
    // 2 runs; job 5 starts at 1000, after every other ended (latest 400)
    start(log, 1, 0L, "q pass 1"); end(log, 1, 100L)
    start(log, 2, 250L, "q pass 1"); start(log, 3, 250L, "q pass 1")
    end(log, 3, 300L)
    start(log, 4, 350L, "q pass 1"); end(log, 2, 400L); end(log, 4, 380L)
    start(log, 5, 1000L, "q pass 1"); end(log, 5, 1100L)
    val lines = log.lines()
    assert(lines.map(field(_, "job")) == Seq("1", "2", "3", "4", "5"))
    assert(lines.map(field(_, "gapBefore")) == Seq("-", "0.150s", "overlap", "overlap", "0.600s"))
    assert(lines.forall(_.endsWith("  q pass 1")), lines.mkString("\n"))
    assert(log.lines().isEmpty, "a second call repeats no job")
  }

  test("a described run labels every job it starts, the adaptive query-stage jobs included") {
    val log = new Bench.JobLog
    spark.sparkContext.addSparkListener(log)
    try {
      Bench.described(spark, "probe_gate pass 2") {
        spark.range(0, 20000, 1, 4).groupBy(col("id") % 13 as "k").count()
          .join(spark.range(0, 500).withColumnRenamed("id", "k"), "k").collect()
      }
      val lines = log.drain(spark)
      assert(lines.size >= 2, lines.mkString("\n"))
      assert(lines.forall(_.endsWith("  probe_gate pass 2")), lines.mkString("\n"))
      assert(!lines.exists(l => field(l, "gapBefore").startsWith("-0")), lines.mkString("\n"))
    } finally spark.sparkContext.removeSparkListener(log)
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
  }
}
