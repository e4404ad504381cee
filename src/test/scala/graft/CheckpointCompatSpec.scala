package graft

import graft.streaming.Streams

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** A checkpoint written through [[Streams.start]] (its logs on
  * `graft.streaming.NioLocalFs`) is the checkpoint a raw
  * `writeStream.start()` on Hadoop's `LocalFs` writes: the same files,
  * `.crc` side files included, with the same modes, and either side resumes
  * the other's. */
class CheckpointCompatSpec extends SparkSpec {
  import ProcessStarts._

  private val stockFs = "org.apache.hadoop.fs.local.LocalFs"

  /** Every file and directory under `root`, relative, with its POSIX mode. */
  private def tree(root: String): Map[String, String] = {
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala.filter(_ != base).map { p =>
      base.relativize(p).toString ->
        java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap
  }

  /** Drains `inDir` (one file per micro-batch) into `ck`; returns the
    * (batch id, rows) of each batch run. Raw: the session's conf names
    * Hadoop's `LocalFs` for `file:`, as a caller-set value that the stream
    * keeps, and the query starts through `writeStream.start()`. */
  private def drain(inDir: String, ck: String, raw: Boolean): Seq[(Long, Long)] = {
    val seen = new ConcurrentLinkedQueue[(Long, Long)]()
    val src = spark.readStream.schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    def configure(w: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]) = w
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) => seen.add(id -> b.count()); () }
    if (raw) {
      spark.conf.set(Streams.localFsKey, stockFs)
      try configure(src.writeStream).start().awaitTermination()
      finally spark.conf.unset(Streams.localFsKey)
    } else Streams.start(src)(configure).awaitTermination()
    seen.asScala.toSeq
  }

  test("raw writeStream.start() and Streams.start write the same checkpoint tree; each resumes the other's") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-ck-compat").toString
    val files = (0 until 4).map(i => IngestFixtures.docs(i * 100L, 10 + i).toDF("doc_id", "text"))
    val inDir = IngestFixtures.stageFiles(tmp, files.take(3))
    val (ckRaw, ckGraft) = (s"$tmp/ck-raw", s"$tmp/ck-graft")
    var rawRuns, graftRuns = Seq.empty[(Long, Long)]
    val rawStarts = during { rawRuns = drain(inDir, ckRaw, raw = true) }
    val graftStarts = during { graftRuns = drain(inDir, ckGraft, raw = false) }
    val expected = Seq(0L -> 10L, 1L -> 11L, 2L -> 12L)
    assert(rawRuns == expected && graftRuns == expected)
    // the raw side ran on the stock filesystem, the graft side did not fork
    assert(rawStarts.map(command).count(_.startsWith("chmod")) > 0, describe(rawStarts))
    assert(graftStarts.size == 0, describe(graftStarts))
    assert(tree(ckGraft).keySet.exists(_.endsWith(".crc")))
    assert(tree(ckGraft) == tree(ckRaw))

    // one more file: each side resumes the other's checkpoint at batch 3
    IngestFixtures.stageFiles(s"$tmp/more", files)
    Files.move(Paths.get(s"$tmp/more/in/b03.parquet"), Paths.get(s"$inDir/b03.parquet"))
    assert(drain(inDir, ckRaw, raw = false) == Seq(3L -> 13L))
    assert(drain(inDir, ckGraft, raw = true) == Seq(3L -> 13L))
    assert(tree(ckGraft) == tree(ckRaw))
  }
}
