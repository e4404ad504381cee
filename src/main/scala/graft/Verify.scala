package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = DriverSession("graft-verify", cpus, logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=a,b,c restricts the dump (local iteration); the
    // driver never sets it, so the gate always runs the full set
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // an empty subset would dump nothing and gate nothing
    require(!only.exists(_.isEmpty), "SPARK_GRAFT_ONLY is set but names no query")
    // a query that throws must still leave a dump: the driver's compare
    // keys off the dumped dirs, so a missing dir silently VANISHES from
    // CORRECTNESS_r{N}.json instead of recording a failure (round 6: nine
    // broken queries shrank the record unnoticed). On error, dump one row
    // with a sentinel `__verify_error` schema — guaranteed to mismatch the
    // oracle and show up as an explicit red row.
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // a SPARK_GRAFT_ONLY run records the requested names, so the compare
    // (tools/compare_oracle.py) holds only those to a dump; a full run
    // removes a record a subset run left in a reused out dir
    val subsetFile = Paths.get(s"$outDir/verify_subset.json")
    only match {
      case Some(names) =>
        Files.writeString(subsetFile, names.toSeq.sorted.map(q).mkString("[", ",", "]"))
      case None => Files.deleteIfExists(subsetFile)
    }
    // oracle_sql.json is written FIRST, before any dump: round 8's
    // CORRECTNESS record came back empty ({}) — consistent with the
    // harness killing a contention-slowed Verify mid-dump, after which
    // the compare had no oracle SQL to key on. Writing it up front makes
    // a partially-killed run degrade to a PARTIAL correctness record
    // (dumped queries compare; missing ones show as declared-but-not-
    // dumped) instead of an empty one.
    // keys sorted by name, so two dumps compare byte for byte
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def flushErrors(): Unit = {
      val errJson = errors
        .map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    }
    flushErrors() // an empty {} marker so its absence means "killed early"
    // Dumps run on a small thread pool (SPARK_GRAFT_VERIFY_PAR, default 4):
    // Spark schedules concurrent jobs fine from one session, the gate
    // queries share no mutable session state (view/table/checkpoint names
    // are per-query, no session-conf mutation on any query path), and
    // Materialize.release() is THREAD-scoped — each worker frees only its
    // own cuts (the ownership tag exists for exactly this shape). Cuts the
    // 183-query dump ~2-3x, which matters because the driver's gate has a
    // wall-time budget that a contended box can blow (round-8's empty
    // correctness record).
    val par = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "4").toInt)
    val work = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }.toSeq
    val queue = new java.util.concurrent.ConcurrentLinkedQueue(
      scala.jdk.CollectionConverters.SeqHasAsJava(work).asJava)
    def runOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        errors.synchronized { errors(name) = msg; flushErrors() }
        try {
          import spark.implicits._
          Seq(msg.take(500)).toDF("__verify_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
      // free THIS thread's materialization-cut blocks before its next
      // query — the long-session shape that otherwise accumulates dead
      // checkpoint blocks (round-3 bench pollution)
      graft.util.Materialize.release()
      // failure-leaked salted cache entries (normal paths already freed
      // theirs) — thread-scoped, so concurrent queries are untouched
      graft.util.CacheSalt.releaseLeaked()
      System.err.println(f"[verify] $name ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    val threads = (1 to par).map { _ =>
      val th = new Thread(() => {
        var next = queue.poll()
        while (next != null) {
          runOne(next._1, next._2)
          next = queue.poll()
        }
      })
      th.setDaemon(true); th.start(); th
    }
    threads.foreach(_.join())
    // owner-agnostic end sweep: a pool thread that died after a failure
    // never ran its own releaseLeaked; with no query in flight the
    // per-thread ownership discipline is vacuous, so free everything
    val endSwept = graft.util.CacheSalt.releaseAll()
    if (endSwept > 0)
      System.err.println(s"[verify] end sweep freed $endSwept leaked cache entries")
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
