package graft.tools

import graft.DriverSession

/** Core-scaling spot check at a corpus size where parallelism is
  * measurable (round-16 verdict #7: at sf0.1 every query is 2-7 s and
  * per-task overhead swamps the 4× core ratio, so the driver's 8-core
  * control run cannot demonstrate that any operator parallelizes).
  *
  * Runs a fixed set of heavy documents-only gate queries against the
  * deterministic [[BenchScale]] 10× corpus (≈50 000 docs — big enough
  * that the shuffle/compute stages dominate the fixed per-query session
  * costs) at the core count given on the command line, Bench
  * methodology (noop sink, 2 passes, per-query MIN) and prints one JSON
  * line. Run once with 32 and once with 8 and compare:
  * `sbt "runMain graft.tools.ScalingCheck 32"` then `... 8`. The first
  * invocation synthesizes the corpus if absent (idempotent overwrite
  * with `--synthesize`). */
object ScalingCheck {

  // heavy documents-only gates whose cost is shuffle/compute, not stream
  // machinery: the minhash pipeline + its graph consumers, the exact
  // posting joins, the SNM sorts, the weighted expansion, two tokenizer
  // trainings
  val Queries = Seq(
    "dedup_minhash", "dedup_clusters", "dedup_fuzzy_pipeline",
    "dedup_weighted_minhash", "dedup_ngram_prefix", "dedup_snm_multipass",
    "graph_pagerank", "graph_hits", "text_tokenizer_compare",
    "dedup_sorted_neighborhood")

  private def num(v: Double, d: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${d}f", java.lang.Double.valueOf(v))

  def main(args: Array[String]): Unit = {
    val cpus = args.headOption.getOrElse("32")
    val srcDir = if (args.length > 1 && !args(1).startsWith("--")) args(1)
                 else "/root/testdata/sf0.1"
    val spark = DriverSession("graft-scaling-check", cpus)
    val dir = BenchScale.ScaleDir
    val docsPath = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val fs = docsPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(docsPath) || args.contains("--synthesize")) {
      System.err.println(s"[scaling] synthesizing ${BenchScale.Factor}x corpus at $dir")
      BenchScale.synthesize(spark, srcDir, BenchScale.Factor, dir)
    }
    val chosen = sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(only) => only.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      case None       => Queries
    }
    // self-diagnosis: the same N-thread probe the bench carries — a
    // contended window shows up as pprobe far above the quiet-box value
    // (~2x the serial probe / 4 on this SMT box), so a flat 8c/32c ratio
    // can be told apart from a stolen 32c window
    val nThreads = cpus.toIntOption.getOrElse(32)
    val pprobeBefore = graft.Bench.parallelProbe(nThreads)
    val results = chosen.map { q =>
      val times = (1 to 2).map { _ =>
        graft.util.Materialize.scope {
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(q)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
      }
      System.err.println(f"[scaling] $q%-28s cold=${times.head}%.2fs warm=${times.last}%.2fs")
      q -> times.min
    }
    val pprobeAfter = graft.Bench.parallelProbe(nThreads)
    val qmap = results.map { case (k, v) => "\"" + k + "\":" + num(v, 2) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"scaling_check","cpus":$cpus,"factor":${BenchScale.Factor},"dir":"$dir","queries":$qmap,"total":${num(results.map(_._2).sum, 2)},"pprobe_before_ms":${num(pprobeBefore, 1)},"pprobe_after_ms":${num(pprobeAfter, 1)}}""")
    spark.stop()
  }
}
