package graft.tools

import graft.DriverSession
import graft.gates.GateRegistry

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import scala.collection.mutable

/** Debug main: per-JOB wall-time breakdown of one gate query under the
  * Bench session config — where a multi-job query (ingest loops, iterative
  * graph/MMR operators) actually spends its seconds. Two passes like Bench;
  * the second (warm) pass's jobs are printed.
  * `sbt "runMain graft.tools.QueryProfile <query> [sfDir] [cpus]"` */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q1_agg")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2) else "32"
    val spark = DriverSession("graft-query-profile", cpus)

    case class Job(id: Int, desc: String, t0: Long, var t1: Long = 0L)
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs(e.jobId) = Job(e.jobId, d, e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.t1 = e.time)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    def pass(label: String): Double = graft.util.Materialize.scope {
      jobs.synchronized(jobs.clear())
      val t0 = System.nanoTime()
      GateRegistry(name).build(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // listener bus is async; let job-end events drain
      val snap = jobs.synchronized(jobs.values.toVector)
      println(f"[profile] $label pass: $name total=$dt%.3fs jobs=${snap.size}")
      var prevEnd = 0L
      snap.foreach { j =>
        val gap = if (prevEnd == 0L) 0.0 else (j.t0 - prevEnd) / 1e3
        prevEnd = j.t1
        println(f"[profile]   job=${j.id}%4d ${(j.t1 - j.t0) / 1e3}%7.3fs gapBefore=$gap%6.3fs  ${j.desc.take(110)}")
      }
      dt
    }
    pass("cold")
    pass("warm")
    spark.stop()
  }
}
