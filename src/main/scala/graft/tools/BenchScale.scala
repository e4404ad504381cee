package graft.tools

import graft.DriverSession

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup-family scale check (round-7 item 5): the largest corpus on disk is
  * sf0.1 (5 000 docs) — thin evidence for 100 TB claims. This main
  * synthesizes a seed-free DETERMINISTIC `factor`× corpus from sf0.1 by
  * self-union with id remap, where variant k's text is passed through a
  * letter-rotation bijection (`translate` by alphabet rotated k): lengths
  * and intra-variant duplicate structure are preserved EXACTLY (the same
  * bijection hits both members of every original dup pair) while
  * cross-variant shingles share nothing, so the workload grows linearly by
  * construction — any superlinear runtime is the operator's own scaling
  * behavior, not a synthetic pair blow-up. It then runs the heaviest
  * document-dedup gate queries at sf0.1 and at the synthesized corpus
  * (two passes each, steady-state reported) and writes `BENCH_SCALE.json`
  * with per-query ratios, flagging any query whose steady-state grew more
  * than `SUPERLINEAR_SLACK` × factor.
  *
  * Run: `sbt "runMain graft.tools.BenchScale"` (quiet box). */
object BenchScale {

  val Factor = 10
  val SuperlinearSlack = 1.5 // log-factors + constant offsets allowance
  val ScaleDir: String = s"${graft.util.Scratch.base}/graft_scale_sf1"

  // heaviest gate queries that read ONLY the documents table
  val Queries = Seq(
    "dedup_exact", "dedup_minhash", "dedup_minhash_verified",
    "dedup_clusters", "dedup_fuzzy_pipeline", "dedup_spans_applied",
    "dedup_lines", "dedup_boilerplate",
    // round-9: SNM's O(n*window) candidate bound, the k-core peel loop,
    // and the two narrow text reports should all be exactly linear
    "dedup_sorted_neighborhood", "graph_kcore",
    "text_lang_mixture", "text_quality_calibrated",
    // round-9b: the weighted-sketch family (expansion multiplies postings
    // by <= capWeight — a constant), multi-pass SNM (2x linear passes),
    // and the posting-table novelty report
    "dedup_weighted_minhash", "dedup_weighted_minhash_verified",
    "dedup_snm_multipass", "text_novelty",
    // round-9c: LPA is CC-shaped (slim per-round join + two combinable
    // aggregates × fixed rounds); the token-budget cut is the two-pass
    // prefix sum; media dedup is one digest aggregate over 2x the corpus
    "graph_labelprop", "curation_token_budget", "mm_dedup_exact",
    // round-9d: the two masking plans are shuffle-free scans (only
    // selected positions survive), link prediction is the capped-pivot
    // self-join (fan-out <= cap per pivot), and the perceptron is a fixed
    // number of combinable aggregates
    "text_mlm_masks", "text_span_corruption", "text_span_corruption_apply",
    "graph_link_pred", "text_perceptron",
    // round-9e: HITS is fixed rounds of slim equi-joins over a linearly
    // growing edge list; BFS/landmarks are frontier walks bounded by
    // edges-touched (per-variant components are disjoint copies, so the
    // state space grows linearly); the unigram encode is the EM over the
    // O(vocabulary) word table plus one scan
    "graph_hits", "graph_bfs", "graph_landmark_est", "text_unigram_apply",
    // round-10: the Bloom build is a scan + fixed-size per-group state;
    // the decontamination probe is scan-bound (bench side is variant 0
    // only, so the sketch is constant and 10x corpus means 10x probes);
    // the HLL-intersect registers are one linear scan + fixed pair math
    // (the exact overlay joins per-variant-disjoint shingle postings);
    // phash is a scan (the NEAR-DUP stage is deliberately absent: chance
    // 16-bit band collisions grow quadratically-in-expectation once n
    // approaches the band space — the standard LSH regime boundary;
    // production sizing widens bands with corpus, and the skew cap
    // bounds the worst bucket meanwhile); ppr is fixed rounds of slim
    // equi-joins like pagerank/hits; systematic sampling is the two-pass
    // prefix sum + a narrow filter
    "text_bloom_sketch", "text_bloom_decontaminate", "text_hll_intersect",
    "mm_phash", "graph_ppr", "curation_systematic",
    // round-11: the bottom-k quantile sketch is one scan with 16k bytes of
    // per-group state (the exact overlay's per-group sort is the linear
    // validation arm a production run drops); the rollup adds one slim
    // per-(lang, source) sketch shuffle
    "text_length_sketch", "text_length_sketch_rollup",
    // round-11b: FIM is a pure narrow scan projection
    "text_fim_apply",
    // round-12: mm_phash is now 10x REAL ImageIO encode+decode roundtrips
    // (it was already in the list; the real-codec path keeps its slot);
    // the audio fingerprint is the same scan shape over javax.sound
    // encodes + byte-level PCM decodes; the mixed-codec fault corpus adds
    // the JPEG encoder and the per-row failure path at scale. Their
    // NEAR-DUP stages stay excluded like phash's (the fixed-16-bit
    // fragment regime note above).
    "mm_audio_fingerprint", "mm_phash_decode_faults",
    // round-12b: the video family is the same scan shape again — one AVI
    // container write + walk + ~7 DIB frame decodes per row, fingerprints
    // 8 bytes out; frame hashes add a ~7x narrow explode, the meta walk
    // parses headers only. NEAR-DUP stays excluded per the fragment
    // regime note above.
    "mm_video_meta", "mm_video_frame_hashes", "mm_video_fingerprint",
    // round-13: motion-JPEG — the same one-scan shape with the real
    // ImageIO JPEG encoder AND decoder inside (~7 of each per row); the
    // one-scan decode report replaces a meta + fingerprint double pass
    "mm_video_mjpeg",
    // format sniffing and the unicode/markup text transforms are pure
    // narrow scans (one classification / normalization / regex chain per
    // row, nothing shuffles)
    // clip-reuse: exact 64-bit frame-hash postings (no fragment-collision
    // regime — unlike the 16-bit pigeonhole near-dup stages), inverted-
    // index bound, df-pruned
    "mm_video_shared_frames",
    "mm_sniff", "text_normalize_unicode", "text_html_extract",
    // sentence manifest: one regexp pass + a per-row explode, no shuffle
    "text_sentences")

  // behavioral-analytics gate queries that read ONLY the events table;
  // the synthesized corpus multiplies the USER population (not per-user
  // history depth), which is how an event firehose actually grows — every
  // per-user stage should scale linearly
  val EventQueries = Seq(
    "events_funnel", "events_retention", "events_sessions",
    "events_transitions", "events_dau_mau", "events_anomaly",
    "events_windowed_topk",
    // round-9: the Holt fold is per-type sequential over a TIME-bounded
    // series; user-population growth must not grow it superlinearly
    "events_holt", "events_winsorized",
    // round-9c: attribution is one user-keyed window + a vocabulary-keyed
    // rollup; RFM is one combinable per-user aggregate + a broadcast max
    "events_attribution", "events_rfm",
    // round-9d: the A/B report is two combinable aggregates plus the
    // two-pass distinct-revenue ranking; the LTV triangle is combinable
    // rollups plus a time-bounded per-cohort window; the forecast
    // backtest is the Holt fold with error accumulators
    "events_ab_test", "events_cohort_ltv", "events_forecast_eval",
    "events_cusum",
    // round-9e: trigram mining is the same one user-keyed window
    "events_seq_patterns",
    // round-10: per-day HLL registers are fixed-size state over a 10x
    // user population — a pure scan + combinable merge
    "events_dau_hll",
    // round-11: LIVE streaming twins under the scale record for the first
    // time — per-window state is FIXED-SIZE (HLL registers / bottom-k
    // buffer / plain sums), so 10x events through the same micro-batch
    // plan must scale linearly with no state blow-up; these run the full
    // watermarked append-mode machinery (staging, state store, eviction)
    "stream_hour_window", "stream_hourly_hll", "stream_hourly_value_sketch")

  private def num(v: Double, d: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${d}f", java.lang.Double.valueOf(v))

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

  /** Build the factor× corpus under `outDir` (idempotent overwrite). */
  def synthesize(spark: SparkSession, srcDir: String,
                 factor: Int = Factor, outDir: String = ScaleDir): Unit = {
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
                       factor: Int = Factor, outDir: String = ScaleDir): Unit = {
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

  /** factor× embeddings: id-remapped copies (identical vectors — fine for
    * timing; the knn scale point scales the CELL COUNT with the corpus,
    * which is the actual IVF contract at 100 TB). */
  /** Variant k's vectors pass through an EXACT isometry — coordinate
    * rotation by `k % 64`, plus a first-half sign flip for `k >= 64` —
    * the embedding analogue of the documents' letter-rotation bijection:
    * permutation and negation are exact per COORDINATE in IEEE, so every
    * intra-variant dot product, norm, cosine, and duplicate pair is
    * preserved exactly UP TO FP SUMMATION ORDER (a rotation reorders the
    * dot product's accumulation, so intra-variant cosines can move in
    * the last ulp and a knife-edge near-threshold pair could in
    * principle flip — timing-only noise; the sign flip alone preserves
    * per-coordinate products in original order). Cross-variant cosines
    * decorrelate to noise either way. A verbatim copy instead gives
    * every vector `factor` exact
    * clones: dedup/ingest pair counts and IVF cell sizes then grow
    * quadratically BY CONSTRUCTION and any scale point on them measures
    * the synthetic blow-up, not the operator. (Corpus dim is 64, the
    * testdata schema every embedding gate assumes.) */
  def synthesizeEmbeddings(spark: SparkSession, srcDir: String,
                           factor: Int = Factor, outDir: String = ScaleDir): Unit = {
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

  private def runOnce(spark: SparkSession, name: String, dir: String): Double = {
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    val t = (System.nanoTime() - t0) / 1e9
    graft.util.Materialize.release()
    t
  }

  def main(args: Array[String]): Unit = {
    val sf01 = "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = DriverSession("graft-bench-scale", cpus)

    synthesize(spark, sf01)
    val nSmall = spark.read.parquet(s"$sf01/documents.parquet").count()
    val nBig = spark.read.parquet(s"$ScaleDir/documents.parquet").count()
    System.err.println(s"[scale] corpus: $nSmall -> $nBig docs")

    // steady state: two passes per (query, dir), warm reported
    def steady(name: String, dir: String): Double = {
      runOnce(spark, name, dir); runOnce(spark, name, dir)
    }
    val rows = Queries.map { q =>
      val small = steady(q, sf01)
      val big = steady(q, ScaleDir)
      val ratio = if (small > 0) big / small else Double.PositiveInfinity
      System.err.println(f"[scale] $q%-24s sf0.1=$small%6.2fs ${Factor}x=$big%6.2fs ratio=$ratio%5.2f")
      (q, small, big, ratio)
    }
    // ---- behavioral analytics over a user-scaled event firehose --------
    synthesizeEvents(spark, sf01)
    synthesizeEmbeddings(spark, sf01)
    val evSmall = spark.read.parquet(s"$sf01/events.parquet").count()
    val evBig = spark.read.parquet(s"$ScaleDir/events.parquet").count()
    System.err.println(s"[scale] events: $evSmall -> $evBig rows")
    val evRows = EventQueries.map { q =>
      val small = steady(q, sf01)
      val big = steady(q, ScaleDir)
      val ratio = if (small > 0) big / small else Double.PositiveInfinity
      System.err.println(f"[scale] $q%-24s sf0.1=$small%6.2fs ${Factor}x=$big%6.2fs ratio=$ratio%5.2f")
      (q, small, big, ratio)
    }
    // round-9: the int8 quantization report is a pure narrow projection
    // over embeddings — the flattest line in the file, by construction
    // (rrf fuses two fixed-quantizer retrievers with 5 fixed queries:
    // candidate scoring is queries × corpus-fraction — linear in corpus)
    // round-9d: the Hamming scan reads only packed codes (corpus-linear);
    // the NCM probe is one combinable centroid aggregate + a broadcast
    // argmin fold per row
    // round-11: the indexed IVF probe is one bucketed-table write (linear)
    // + a 5-query broadcast probe over constant cell fractions — linear
    // round-12: the LIVE twin adds the streaming machinery (checkpointed
    // file source, two micro-batches) around the same per-batch plan
    val embRows = Seq("sim_int8_quant", "sim_rrf_fusion",
        "sim_hamming_topk", "sim_centroid_classifier",
        "sim_ivf_indexed", "stream_ivf_probe").map { q =>
      val small = steady(q, sf01)
      val big = steady(q, ScaleDir)
      val ratio = if (small > 0) big / small else Double.PositiveInfinity
      System.err.println(f"[scale] $q%-24s sf0.1=$small%6.2fs ${Factor}x=$big%6.2fs ratio=$ratio%5.2f")
      (q, small, big, ratio)
    }

    // knn graph: the IVF contract at scale is cells ∝ corpus (constant
    // expected cell size) with a TRAINED quantizer — balanced cells are
    // what keeps within-cell candidate cost flat. (The first cut of this
    // scale point used fixed RANDOM centroids at 160 cells and measured
    // 394 s / ratio 147×: random centroids in 64-dim leave most vectors
    // in a few hot cells and the quadratic within-cell cost explodes —
    // exactly the failure mode knnGraph's scaladoc + maxCellSize guard
    // now document.) Training cost (driver k-means on a 2048 sample) is
    // included in the timing.
    def knnOnce(dir: String, cells: Int): Double = {
      val t0 = System.nanoTime()
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Similarity.knnGraph(emb, "vec_id", "embedding", k = 5,
          nCentroids = cells, nProbe = 4)
        .write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      graft.util.Materialize.release()
      t
    }
    def knnSteady(dir: String, cells: Int): Double = {
      knnOnce(dir, cells); knnOnce(dir, cells)
    }
    val knnSmall = knnSteady(sf01, 16)
    val knnBig = knnSteady(ScaleDir, 160)
    val knnRatio = if (knnSmall > 0) knnBig / knnSmall else Double.PositiveInfinity
    System.err.println(f"[scale] sim_knn_graph(cells 16->160) sf0.1=$knnSmall%6.2fs ${Factor}x=$knnBig%6.2fs ratio=$knnRatio%5.2f")

    // embedding ingest loop: the LSH contract at scale is bits ∝
    // log2(corpus) — constant expected bucket size keeps the per-batch
    // candidate join linear, exactly the knnGraph cells-∝-corpus rule.
    // Fixed bits at 10x the vectors would put 10x the rows in every
    // bucket and grow candidate pairs 100x by construction.
    val eiSmall = BenchScaleKernels.embedIngestSteady(spark, sf01, bits = 8)
    val eiBig = BenchScaleKernels.embedIngestSteady(spark, ScaleDir, bits = 12)
    val eiRatio = if (eiSmall > 0) eiBig / eiSmall else Double.PositiveInfinity
    System.err.println(f"[scale] dedup_embed_ingest(bits 8->12) sf0.1=$eiSmall%6.2fs ${Factor}x=$eiBig%6.2fs ratio=$eiRatio%5.2f")

    val allRows = rows ++ evRows ++ embRows ++
      Seq(("sim_knn_graph_scaled_cells", knnSmall, knnBig, knnRatio),
          ("dedup_embed_ingest_scaled_bits", eiSmall, eiBig, eiRatio))
    val superlinear = allRows.collect {
      case (q, _, _, r) if r > SuperlinearSlack * Factor => q }
    val json =
      s"""{"factor":$Factor,"docs_small":$nSmall,"docs_big":$nBig,""" +
      s""""events_small":$evSmall,"events_big":$evBig,"slack":${num(SuperlinearSlack, 2)},""" +
      s""""queries":{${allRows.map { case (q, s, b, r) =>
            s""""$q":{"sf01_sec":${num(s, 3)},"scaled_sec":${num(b, 3)},"ratio":${num(r, 2)}}"""
          }.mkString(",")}},""" +
      s""""superlinear":[${superlinear.map("\"" + _ + "\"").mkString(",")}]}"""
    Files.writeString(Paths.get("BENCH_SCALE.json"), json + "\n")
    println(json)
    if (superlinear.nonEmpty)
      System.err.println(s"[scale] SUPERLINEAR: ${superlinear.mkString(", ")}")
    spark.stop()
  }
}

/** Two-orders scale record (round-11 verdict item 1): the ~flagship kernels
  * whose 100 TB shape IS the product claim, run at 100× sf0.1 — 500k docs
  * / 10M events / 50k vectors, synthesized with the same
  * linear-by-construction variant scheme as [[BenchScale]] (the affine
  * letter-bijection family keeps cross-variant shingles disjoint at
  * factors beyond the 26 rotations). Writes `BENCH_SCALE_100X.json` with
  * per-query sf0.1→100× ratios and the superlinear flag line.
  *
  * What is DELIBERATELY absent: the fixed-16-bit-fragment hamming
  * NEAR-DUP joins (dedup_simhash / mm_phash_neardup pairs stages). Chance
  * fragment collisions grow ~n²/2^16 in expectation, and 500k hashes sit
  * far past that regime boundary — production sizing widens fragments
  * with corpus (maxHamming 1 → 32-bit fragments holds to ~10^8 rows) and
  * the skew cap bounds the damage meanwhile; the LINEAR stage of that
  * family (the fingerprint scan, `mm_phash` — now real ImageIO decodes —
  * and the packed-code hamming retrieval `sim_hamming_topk`) is measured
  * here instead. This is the documented LSH regime note from the 10×
  * record, applied two orders up.
  *
  * Run: `sbt "runMain graft.tools.BenchScale100"` (quiet box). */
/** Kernels shared by the 10x and 100x suites that need a scale-dependent
  * parameter (the production contract under test, not a fudge). */
object BenchScaleKernels {

  /** One embedding-ingest run: the three fixed vec_id batch cuts the gate
    * uses (growth lands ~entirely in the last batch), persisted LSH index,
    * `bits` hyperplanes — callers scale bits with log2(corpus). */
  def embedIngestOnce(spark: SparkSession, dir: String, bits: Int): Double = {
    val t0 = System.nanoTime()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val batches = Seq((0L, 150L), (150L, 400L), (400L, Long.MaxValue)).map {
      case (lo, hi) =>
        emb.where(col("vec_id") >= lo && col("vec_id") < hi)
          .select(col("vec_id").as("id"), col("embedding").as("vec")) }
    spark.sql("DROP TABLE IF EXISTS graft_scale_embingest")
    graft.operators.Dedup.embedIngest(batches, "graft_scale_embingest",
        s"${graft.util.Scratch.base}/graft_scale_embingest_idx",
        buckets = 8, threshold = 0.25, lshBits = bits)
      .write.format("noop").mode("overwrite").save()
    val t = (System.nanoTime() - t0) / 1e9
    graft.util.Materialize.release()
    t
  }

  def embedIngestSteady(spark: SparkSession, dir: String, bits: Int): Double = {
    embedIngestOnce(spark, dir, bits); embedIngestOnce(spark, dir, bits)
  }

  /** One [[graft.operators.GenIndex.compactSwap]] over a multi-epoch
    * accumulated POSTING index (the heaviest of the three ingest indexes:
    * O(shingles) rows, not O(docs)): init the generational layout, append
    * four epoch-stamped posting sets (disjoint doc_id quarters — the
    * state a stream reaches after four micro-batches), then time ONLY the
    * swap. The swap is O(index) by design and lands MID-STREAM, so this
    * kernel pins that it stays linear in index size — a superlinear swap
    * would stall a live ingest at the worst possible moment. Timed
    * portion excludes the fixture build. */
  def compactSwapOnce(spark: SparkSession, dir: String, tag: String): Double = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val table = s"graft_scale_genswap_$tag"
    val root = s"${graft.util.Scratch.base}/graft_scale_genswap_$tag"
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val kind = graft.streaming.IndexKind.textPostings("doc_id", "text")
    kind.init(spark, table, root, gen = true)
    (0 until 4).foreach { e =>
      kind.append(docs.where(pmod(col("doc_id"), lit(4)) === e), table, 8,
        e.toLong)
    }
    val t0 = System.nanoTime()
    graft.operators.GenIndex.compactSwap(spark, table, root, "h", 8)
    val t = (System.nanoTime() - t0) / 1e9
    graft.util.Materialize.release()
    t
  }

  def compactSwapSteady(spark: SparkSession, dir: String, tag: String): Double = {
    compactSwapOnce(spark, dir, tag); compactSwapOnce(spark, dir, tag)
  }

  /** One [[graft.streaming.IngestOutput.fold]] over a four-epoch survivor
    * output — the output-side twin of [[compactSwapOnce]]: O(accepted
    * corpus) rewrite of the per-epoch directories into one committed base
    * generation, paid at production cadence. Timed portion excludes the
    * fixture build (the four epoch writes). */
  def outputFoldOnce(spark: SparkSession, dir: String, tag: String): Double = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val out = s"${graft.util.Scratch.base}/graft_scale_outfold_$tag"
    val p = new org.apache.hadoop.fs.Path(out)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    (0 until 4).foreach { e =>
      graft.streaming.EpochIngest.writeEpoch(
        docs.where(pmod(col("doc_id"), lit(4)) === e), out, e.toLong)
    }
    val t0 = System.nanoTime()
    graft.streaming.IngestOutput.fold(spark, out, 3L)
    val t = (System.nanoTime() - t0) / 1e9
    graft.util.Materialize.release()
    t
  }

  def outputFoldSteady(spark: SparkSession, dir: String, tag: String): Double = {
    outputFoldOnce(spark, dir, tag); outputFoldOnce(spark, dir, tag)
  }
}

object BenchScale100 {

  val Factor = 100
  val SuperlinearSlack = 1.5
  val ScaleDir: String = s"${graft.util.Scratch.base}/graft_scale_100x"

  // the flagship inventory the verdict names, keyed by which table grows
  val DocQueries = Seq(
    "dedup_exact",               // hash-groupBy floor: the trivial-linear control
    "dedup_minhash",             // MinHash+LSH banded candidate join
    "dedup_clusters",            // + pointer-jumping connected components
    "dedup_fuzzy_pipeline",      // the full composed dedup pipeline
    "dedup_incremental_indexed", // bucketed posting-index probe (index fixed, batch grows)
    "text_packing_apply",        // two-pass distributed prefix-sum packing
    "text_winnow",               // rolling-hash winnowing fingerprints
    "text_length_sketch",        // bottom-k quantile sketch, one scan
    "text_length_sketch_rollup", // + slim per-(lang, source) sketch shuffle
    "mm_phash",                  // 500k REAL ImageIO encode+decode roundtrips
    "mm_audio_fingerprint",      // 500k javax.sound encodes + PCM decodes
                                 // (the 10x record flagged this one: the
                                 // per-call provider-registry lock in
                                 // AudioSystem.write serialized all
                                 // threads; fixed by the once-per-
                                 // partition SPI hoist — this 100x point
                                 // is the proof the fix holds two orders up)
    "mm_video_fingerprint",      // 500k real AVI container writes + walks
                                 // + ~3.5M DIB frame decodes + majority
                                 // votes — the third modality's genuine-
                                 // decode claim, two orders up
    "mm_sniff",                  // 500k mixed-format classifications: every
                                 // parser accepts its own class / rejects
                                 // the rest at the full corpus scale
    "mm_video_shared_frames",    // round-13 (verdict item 4): clip-reuse at
                                 // two orders — exact 64-bit frame-hash
                                 // postings (no 16-bit fragment-collision
                                 // regime), ~3.5M decoded frames through
                                 // the df-pruned inverted-index join whose
                                 // hot keys (test cards, black frames) are
                                 // exactly what the prune bounds
    "mm_video_mjpeg",            // round-13: the compressed codec two
                                 // orders up — 500k MJPG containers,
                                 // ~3.5M real ImageIO JPEG encodes AND
                                 // decodes, scan shape like mm_phash
    "mm_ingest_loop",            // round-14 (verdict item 6): the
                                 // fingerprint ingest loop two orders up —
                                 // per-batch cost claim is O(batch)
                                 // postings against a zero-exchange index
                                 // scan; the fixed id-range bounds put
                                 // ~all growth in the last batch, so the
                                 // point measures exactly that claim
    "dedup_ingest_compacted")    // round-14: the other most-expensive gate
                                 // — posting-index ingest with per-batch
                                 // O(index) df compaction; linear because
                                 // index size tracks corpus size
  val EventQueries = Seq(
    "events_dau_hll",            // per-day HLL registers over 10M events
    "stream_hourly_hll")         // the same, LIVE through watermarked append mode
  val EmbQueries = Seq(
    "sim_ivf_indexed",           // persisted bucketed IVF probe
    "sim_hamming_topk")          // packed-code hamming retrieval scan

  private def num(v: Double, d: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${d}f", java.lang.Double.valueOf(v))

  def main(args: Array[String]): Unit = {
    val sf01 = "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = DriverSession("graft-bench-scale-100x", cpus)

    BenchScale.synthesize(spark, sf01, Factor, ScaleDir)
    BenchScale.synthesizeEvents(spark, sf01, Factor, ScaleDir)
    BenchScale.synthesizeEmbeddings(spark, sf01, Factor, ScaleDir)
    val nSmall = spark.read.parquet(s"$sf01/documents.parquet").count()
    val nBig = spark.read.parquet(s"$ScaleDir/documents.parquet").count()
    val evSmall = spark.read.parquet(s"$sf01/events.parquet").count()
    val evBig = spark.read.parquet(s"$ScaleDir/events.parquet").count()
    System.err.println(s"[scale100] docs $nSmall -> $nBig, events $evSmall -> $evBig")

    def runOnce(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      graft.util.Materialize.release()
      graft.util.CacheSalt.releaseLeaked()
      t
    }
    def steady(name: String, dir: String): Double = {
      runOnce(name, dir); runOnce(name, dir)
    }
    val gateRows = (DocQueries ++ EventQueries ++ EmbQueries).map { q =>
      val small = steady(q, sf01)
      val big = steady(q, ScaleDir)
      val ratio = if (small > 0) big / small else Double.PositiveInfinity
      System.err.println(f"[scale100] $q%-28s sf0.1=$small%7.2fs ${Factor}x=$big%8.2fs ratio=$ratio%6.2f")
      (q, small, big, ratio)
    }
    // embedding ingest two orders up, bits ∝ log2(corpus) (8 -> 15):
    // constant expected bucket size is the production LSH contract —
    // see the 10x suite's dedup_embed_ingest_scaled_bits note
    val eiSmall = BenchScaleKernels.embedIngestSteady(spark, sf01, bits = 8)
    val eiBig = BenchScaleKernels.embedIngestSteady(spark, ScaleDir, bits = 15)
    val eiRatio = if (eiSmall > 0) eiBig / eiSmall else Double.PositiveInfinity
    System.err.println(f"[scale100] dedup_embed_ingest(bits 8->15) sf0.1=$eiSmall%7.2fs ${Factor}x=$eiBig%8.2fs ratio=$eiRatio%6.2f")
    // the generational swap itself, two orders up: O(index) rewrite of a
    // four-epoch accumulated posting index — the maintenance cost a live
    // stream pays mid-run, so it must stay linear in index size
    val csSmall = BenchScaleKernels.compactSwapSteady(spark, sf01, "s")
    val csBig = BenchScaleKernels.compactSwapSteady(spark, ScaleDir, "b")
    val csRatio = if (csSmall > 0) csBig / csSmall else Double.PositiveInfinity
    System.err.println(f"[scale100] gen_compact_swap sf0.1=$csSmall%7.2fs ${Factor}x=$csBig%8.2fs ratio=$csRatio%6.2f")
    // the output-side fold, two orders up: same O(corpus) rewrite shape
    val ofSmall = BenchScaleKernels.outputFoldSteady(spark, sf01, "s")
    val ofBig = BenchScaleKernels.outputFoldSteady(spark, ScaleDir, "b")
    val ofRatio = if (ofSmall > 0) ofBig / ofSmall else Double.PositiveInfinity
    System.err.println(f"[scale100] ingest_output_fold sf0.1=$ofSmall%7.2fs ${Factor}x=$ofBig%8.2fs ratio=$ofRatio%6.2f")
    val rows = gateRows :+
      (("dedup_embed_ingest_scaled_bits", eiSmall, eiBig, eiRatio)) :+
      (("gen_compact_swap", csSmall, csBig, csRatio)) :+
      (("ingest_output_fold", ofSmall, ofBig, ofRatio))
    val superlinear = rows.collect {
      case (q, _, _, r) if r > SuperlinearSlack * Factor => q }
    val json =
      s"""{"factor":$Factor,"docs_small":$nSmall,"docs_big":$nBig,""" +
      s""""events_small":$evSmall,"events_big":$evBig,"slack":${num(SuperlinearSlack, 2)},""" +
      s""""queries":{${rows.map { case (q, s, b, r) =>
            s""""$q":{"sf01_sec":${num(s, 3)},"scaled_sec":${num(b, 3)},"ratio":${num(r, 2)}}"""
          }.mkString(",")}},""" +
      s""""superlinear":[${superlinear.map("\"" + _ + "\"").mkString(",")}]}"""
    Files.writeString(Paths.get("BENCH_SCALE_100X.json"), json + "\n")
    println(json)
    if (superlinear.nonEmpty)
      System.err.println(s"[scale100] SUPERLINEAR: ${superlinear.mkString(", ")}")
    spark.stop()
  }
}
