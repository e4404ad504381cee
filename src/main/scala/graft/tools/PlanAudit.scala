package graft.tools

import graft.DriverSession

/** Bulk physical-plan audit of every declared query: dumps per-query
  * operator-level red-flag counts (CartesianProduct, SortMergeJoin,
  * Exchange count, BatchEvalPython-style opaque nodes) plus the formatted
  * plan, at a small SF so construction is cheap. Used for the per-round
  * optimization checklist; plans land under `plans/<tag>/`.
  * `sbt "runMain graft.tools.PlanAudit [sfDir] [outDir]"` */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = if (args.length > 1) args(1) else "/tmp/plan_audit"
    val spark = DriverSession("graft-plan-audit", "8")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      try graft.util.Materialize.scope {
        val df = graft.SparkEntry.queries(n)(spark, dir)
        val plan = df.queryExecution.executedPlan.toString
        val counts = Seq(
          "CartesianProduct" -> "CartesianProduct",
          "SortMergeJoin" -> "SortMergeJoin",
          "BroadcastNestedLoopJoin" -> "BroadcastNestedLoopJoin",
          "Exchange" -> "Exchange",
          "mapPartitions" -> "MapPartitions",
          "Scan ExistingRDD" -> "Scan ExistingRDD")
          .map { case (lbl, pat) =>
            s"$lbl=${pat.r.findAllIn(plan).size}" }.mkString(" ")
        println(s"[audit] $n $counts")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$n.txt"), plan)
      } catch { case e: Throwable =>
        println(s"[audit] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
