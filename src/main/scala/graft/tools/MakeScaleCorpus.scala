package graft.tools

import graft.DriverSession

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Fixture maker for the scale suites: a seed-free DETERMINISTIC `factor`×
  * copy of the sf0.1 documents, events and embeddings under
  * [[dir]]`(factor)`, made by self-union with id remap. Each variant passes
  * through an exact bijection of its table (see the three synthesizers), so
  * lengths and intra-variant duplicate structure are preserved EXACTLY while
  * cross-variant pairs share nothing: the workload grows linearly by
  * construction, and any superlinear runtime over the copy is the
  * operator's own scaling behavior, not a synthetic pair blow-up.
  *
  * Run: `sbt "runMain graft.tools.MakeScaleCorpus <factor>"`; prints the
  * corpus directory, which `graft.Bench` reads through `SPARK_GRAFT_SF_DIR`
  * and [[BenchScale]] makes itself. Idempotent overwrite. */
object MakeScaleCorpus {

  val Source = "/root/testdata/sf0.1"

  def dir(factor: Int): String = s"${graft.util.Scratch.base}/graft_scale_${factor}x"

  def main(args: Array[String]): Unit = {
    val factor = args match {
      case Array(f) if f.toIntOption.exists(_ > 1) => f.toInt
      case _ => sys.error("usage: MakeScaleCorpus <factor>")
    }
    val spark = DriverSession("graft-scale-corpus",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    println(make(spark, factor))
    spark.stop()
  }

  /** Writes all three tables at `factor`× and returns their directory. */
  def make(spark: SparkSession, factor: Int): String = {
    val out = dir(factor)
    synthesize(spark, Source, factor, out)
    synthesizeEvents(spark, Source, factor, out)
    synthesizeEmbeddings(spark, Source, factor, out)
    out
  }

  /** Variant k's letter bijection: the AFFINE map `x → a·x + b (mod 26)`
    * with `gcd(a, 26) = 1` — 312 distinct bijections, enumerated as
    * `a = units[k / 26], b = k % 26`. For k < 26 this is the plain
    * rotation the 10× record has always used (a = 1); factors beyond 26
    * NEED the affine family: rotations repeat mod 26, so variants k and
    * k+26 would carry IDENTICAL text under different ids — cross-variant
    * exact duplicates that inflate every dup group ~(factor/26)× and make
    * the dedup workload quadratic in the overlap instead of linear by
    * construction. Distinct affine maps share (essentially) no shingles,
    * preserving the linear-by-construction property at any factor ≤ 312. */
  private val AffineUnits = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
  private def affineAlphabet(k: Int): String = {
    require(k < AffineUnits.size * 26, s"affine variant family exhausted at $k")
    val a = AffineUnits(k / 26)
    val b = k % 26
    (0 until 26).map(x => ('a' + (a * x + b) % 26).toChar).mkString
  }

  /** factor× documents: variant k's text through [[affineAlphabet]]`(k)`. */
  def synthesize(spark: SparkSession, srcDir: String,
                 factor: Int, outDir: String): Unit = {
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val variants = (0 until factor).map { k =>
      val m = affineAlphabet(k)
      docs.select(
        (col("doc_id") + lit(k.toLong * 10000000L)).as("doc_id"),
        translate(col("text"), alpha + alpha.toUpperCase,
                  m + m.toUpperCase).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    variants.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  /** factor× events: disjoint user/event-id ranges per variant (user
    * population grows, per-user history depth stays constant — the shape
    * an event firehose actually scales in), timestamps untouched so the
    * day/cohort dimensions don't grow. */
  def synthesizeEvents(spark: SparkSession, srcDir: String,
                       factor: Int, outDir: String): Unit = {
    val ev = spark.read.parquet(s"$srcDir/events.parquet")
    val variants = (0 until factor).map { k =>
      ev.select(
        (col("event_id") + lit(k.toLong * 1000000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(k.toLong * 1000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }
    variants.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
  }

  /** factor× embeddings: variant k's vectors pass through an EXACT
    * isometry — coordinate rotation by `k % 64`, plus a first-half sign
    * flip for `k >= 64` — the embedding analogue of the documents'
    * letter bijection: permutation and negation are exact per COORDINATE
    * in IEEE, so every intra-variant dot product, norm, cosine, and
    * duplicate pair is preserved exactly UP TO FP SUMMATION ORDER (a
    * rotation reorders the dot product's accumulation, so intra-variant
    * cosines can move in the last ulp and a knife-edge near-threshold pair
    * could in principle flip — timing-only noise; the sign flip alone
    * preserves per-coordinate products in original order). Cross-variant
    * cosines decorrelate to noise either way. A verbatim copy instead
    * gives every vector `factor` exact clones: dedup/ingest pair counts
    * and IVF cell sizes then grow quadratically BY CONSTRUCTION and any
    * scale point on them measures the synthetic blow-up, not the operator.
    * (Corpus dim is 64, the testdata schema every embedding gate assumes.) */
  def synthesizeEmbeddings(spark: SparkSession, srcDir: String,
                           factor: Int, outDir: String): Unit = {
    // 64 rotations × 2 sign patterns = 128 distinct transforms; a larger
    // factor would silently reuse one and reintroduce the exact
    // cross-variant clones this synthesis exists to avoid
    require(factor <= 128,
      s"synthesizeEmbeddings: isometry family has 128 members, factor=$factor")
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val variants = (0 until factor).map { k =>
      val r = k % 64
      val vec =
        if (k == 0) col("embedding")
        else transform(sequence(lit(0), lit(63)), i => {
          val rot = element_at(col("embedding"), ((i + lit(r)) % 64) + 1)
          if (k >= 64) rot * when(i < 32, lit(-1.0f)).otherwise(lit(1.0f))
          else rot
        })
      emb.select((col("vec_id") + lit(k.toLong * 10000000L)).as("vec_id"),
        vec.as("embedding"), col("label"))
    }
    variants.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }
}
