package graft

import graft.config.GraftConfig
import graft.streaming.{IndexKind, Pipeline}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded epoch inputs for the ingest loop specs, one per [[IndexKind]]. */
object IngestFixtures {

  /** The four index kinds, by the fixture name of their input. */
  def kinds: Seq[(String, IndexKind)] = Seq(
    "text" -> IndexKind.textPostings(),
    "embed" -> IndexKind.embedLsh(threshold = 0.95, lshBits = 4, dim = 16),
    "image" -> IndexKind.hamming(),
    "mm" -> IndexKind.familyHamming())

  /** `n` deterministic 30-word documents with ids from `firstId`; every
    * fourth repeats an earlier document with one word changed. */
  def docs(firstId: Long, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(firstId)
    def fresh() = Seq.fill(30)(s"w${rnd.nextInt(300)}")
    val made = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    (0 until n).map { i =>
      val words =
        if (i % 4 == 3 && made.nonEmpty) made(rnd.nextInt(made.size)).updated(5, "edit")
        else fresh()
      made += words
      (firstId + i, words.mkString(" "))
    }
  }

  /** Input of one index kind: a backfill epoch ten times the size of each
    * of the `epochs - 1` epochs after it. */
  def kindBatches(spark: SparkSession, kind: String, epochs: Int): Seq[DataFrame] = {
    import spark.implicits._
    val sizes = 10 +: Seq.fill(epochs - 1)(1)
    val firsts = sizes.scanLeft(0)(_ + _)
    sizes.zip(firsts).map { case (k, first) =>
      kind match {
        case "text" =>
          // every later epoch also re-crawls near-copies of backfill pages
          val backfill = docs(0L, 400).map(_._2)
          docs(first * 40L, k * 40).map { case (id, t) =>
            if (first > 0 && id % 4 == 1) (id, backfill((id % 400).toInt) + " recrawl")
            else (id, t)
          }.toDF("id", "text")
        case "embed" =>
          val rnd = new scala.util.Random(first)
          (0 until k * 40).map { i =>
            (first * 40L + i,
             Array.fill(16)(if (i % 5 == 4) 0.5f else rnd.nextFloat() - 0.5f))
          }.toDF("id", "vec")
        case "image" => graft.operators.Multimodal.renderedImagePayloads(
          spark.range(first * 6L, (first + k) * 6L).toDF("doc_id"), "doc_id")
        case "mm" => graft.operators.Multimodal.renderedIngestPayloads(
          spark.range(first * 8L, (first + k) * 8L).toDF("doc_id"), "doc_id")
      }
    }
  }

  /** Writes each batch as one parquet file under `dir/in`, in order (a
    * file stream with `maxFilesPerTrigger = 1` reads one per epoch), and
    * returns that directory. */
  def stageFiles(dir: String, batches: Seq[DataFrame]): String = {
    val inDir = new java.io.File(s"$dir/in"); inDir.mkdirs()
    batches.zipWithIndex.foreach { case (b, i) =>
      val part = s"$dir/b$i"
      b.coalesce(1).write.parquet(part)
      val src = new java.io.File(part).listFiles()
        .find(_.getName.startsWith("part-")).get
      val dst = new java.io.File(inDir, f"b$i%02d.parquet")
      assert(src.renameTo(dst) && dst.setLastModified(1700000000000L + i * 60000L))
    }
    inDir.toString
  }

  /** Two ordered 40-document `(doc_id, text)` files under `dir/in`. */
  def docFiles(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    stageFiles(dir, Seq(docs(1L, 40), docs(100L, 40)).map(_.toDF("doc_id", "text")))
  }

  /** Drains `inDir` through a config dedup-ingest pipeline with its
    * checkpoint, output and index under `run`. */
  def drainDedupIngest(spark: SparkSession, inDir: String, run: String,
                       table: String): Unit = {
    val conf = GraftConfig.parse(s"""
      graft {
        source { crawl { fqcn = "graft.DocPayloadSourcePlugin",
                         path = "$inDir", available-now = true,
                         sinks = [ingest] } }
        sink { ingest { type = dedup-ingest, index-table = $table,
                        index-path = "$run/idx", out-path = "$run/out" } }
      }""")
    val ps = Pipeline.start(spark, conf, s"$run/ck")
    try ps.foreach(_.query.awaitTermination())
    finally ps.foreach(p => if (p.query.isActive) p.query.stop())
  }
}
