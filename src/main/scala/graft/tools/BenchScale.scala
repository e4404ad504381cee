package graft.tools

import graft.DriverSession

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale suite driver: makes the deterministic `factor`× corpus
  * ([[MakeScaleCorpus]]), runs the suite's gate queries and kernels at
  * sf0.1 and at that corpus (two passes each, steady-state reported) and
  * writes the suite's record with per-query ratios, flagging any query
  * whose steady-state grew more than [[SuperlinearSlack]] × factor.
  *
  * Run: `sbt "runMain graft.tools.BenchScale <factor>"` with a factor of
  * [[Suites]] (quiet box). */
object BenchScale {

  val SuperlinearSlack = 1.5 // log-factors + constant offsets allowance

  /** A timed run outside the gate catalogue whose parameter scales with the
    * corpus: its steady seconds over a corpus directory, at sf0.1 (`small`)
    * and at the scaled corpus (`scaled`). */
  final case class Kernel(name: String,
                          small: (SparkSession, String) => Double,
                          scaled: (SparkSession, String) => Double)

  /** One scale record: gate queries, then kernels, written to `record`. */
  final case class Suite(factor: Int, record: String, queries: Seq[String],
                         kernels: Seq[Kernel])

  // ---- 10×: the dedup family and its neighbours -------------------------
  // heaviest gate queries that read ONLY the documents table
  private val DocQueries10 = Seq(
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
  private val EventQueries10 = Seq(
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

  // embedding gates: the int8 quantization report is a pure narrow
  // projection (the flattest line in the file, by construction); rrf fuses
  // two fixed-quantizer retrievers with 5 fixed queries (candidate scoring
  // is queries × corpus-fraction — linear in corpus); the Hamming scan
  // reads only packed codes; the NCM probe is one combinable centroid
  // aggregate + a broadcast argmin fold per row; the indexed IVF probe is
  // one bucketed-table write + a 5-query broadcast probe over constant cell
  // fractions; the LIVE twin adds the streaming machinery (checkpointed
  // file source, two micro-batches) around the same per-batch plan
  private val EmbQueries10 = Seq("sim_int8_quant", "sim_rrf_fusion",
    "sim_hamming_topk", "sim_centroid_classifier",
    "sim_ivf_indexed", "stream_ivf_probe")

  private val K = BenchScaleKernels

  private val TenX = Suite(10, "BENCH_SCALE.json",
    DocQueries10 ++ EventQueries10 ++ EmbQueries10, Seq(
      // knn graph: the IVF contract at scale is cells ∝ corpus (constant
      // expected cell size) with a TRAINED quantizer — balanced cells are
      // what keeps within-cell candidate cost flat. (Fixed RANDOM
      // centroids at 160 cells measured 394 s / ratio 147×: random
      // centroids in 64-dim leave most vectors in a few hot cells — the
      // failure mode knnGraph's scaladoc + maxCellSize guard document.)
      // Training cost (driver k-means on a 2048 sample) is in the timing.
      Kernel("sim_knn_graph_scaled_cells",
        (s, d) => K.steady(K.knnGraphOnce(s, d, cells = 16)),
        (s, d) => K.steady(K.knnGraphOnce(s, d, cells = 160))),
      // embedding ingest loop: the LSH contract at scale is bits ∝
      // log2(corpus) — constant expected bucket size keeps the per-batch
      // candidate join linear, the knnGraph cells-∝-corpus rule. Fixed bits
      // at 10x the vectors would put 10x the rows in every bucket and grow
      // candidate pairs 100x by construction.
      Kernel("dedup_embed_ingest_scaled_bits",
        (s, d) => K.steady(K.embedIngestOnce(s, d, bits = 8)),
        (s, d) => K.steady(K.embedIngestOnce(s, d, bits = 12)))))

  // ---- 100×: the flagship kernels whose 100 TB shape IS the product claim
  // (500k docs / 10M events / 50k vectors). DELIBERATELY absent: the
  // fixed-16-bit-fragment hamming NEAR-DUP joins (dedup_simhash /
  // mm_phash_neardup pairs stages). Chance fragment collisions grow
  // ~n²/2^16 in expectation, and 500k hashes sit far past that regime
  // boundary — production sizing widens fragments with corpus (maxHamming
  // 1 → 32-bit fragments holds to ~10^8 rows); the LINEAR stage of that
  // family (the fingerprint scan `mm_phash` and the packed-code retrieval
  // `sim_hamming_topk`) is measured here instead.
  private val DocQueries100 = Seq(
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
  private val EventQueries100 = Seq(
    "events_dau_hll",            // per-day HLL registers over 10M events
    "stream_hourly_hll")         // the same, LIVE through watermarked append mode
  private val EmbQueries100 = Seq(
    "sim_ivf_indexed",           // persisted bucketed IVF probe
    "sim_hamming_topk")          // packed-code hamming retrieval scan

  private val HundredX = Suite(100, "BENCH_SCALE_100X.json",
    DocQueries100 ++ EventQueries100 ++ EmbQueries100, Seq(
      // bits ∝ log2(corpus) (8 -> 15), as in the 10× suite
      Kernel("dedup_embed_ingest_scaled_bits",
        (s, d) => K.steady(K.embedIngestOnce(s, d, bits = 8)),
        (s, d) => K.steady(K.embedIngestOnce(s, d, bits = 15))),
      // the generational swap: O(index) rewrite of a four-epoch accumulated
      // posting index — the maintenance cost a live stream pays mid-run,
      // so it must stay linear in index size
      Kernel("gen_compact_swap",
        (s, d) => K.steady(K.compactSwapOnce(s, d, "s")),
        (s, d) => K.steady(K.compactSwapOnce(s, d, "b"))),
      // the output-side fold: the same O(corpus) rewrite shape
      Kernel("ingest_output_fold",
        (s, d) => K.steady(K.outputFoldOnce(s, d, "s")),
        (s, d) => K.steady(K.outputFoldOnce(s, d, "b")))))

  val Suites: Map[Int, Suite] = Seq(TenX, HundredX).map(s => s.factor -> s).toMap

  private def num(v: Double, d: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${d}f", java.lang.Double.valueOf(v))

  def main(args: Array[String]): Unit = {
    val suite = args match {
      case Array(f) if f.toIntOption.exists(Suites.contains) => Suites(f.toInt)
      case _ => sys.error(
        s"usage: BenchScale <factor: ${Suites.keys.toSeq.sorted.mkString(" | ")}>")
    }
    val factor = suite.factor
    val small = MakeScaleCorpus.Source
    val spark = DriverSession(s"graft-bench-scale-${factor}x",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val big = MakeScaleCorpus.make(spark, factor)
    def count(dir: String, table: String) =
      spark.read.parquet(s"$dir/$table.parquet").count()
    val (nSmall, nBig) = (count(small, "documents"), count(big, "documents"))
    val (evSmall, evBig) = (count(small, "events"), count(big, "events"))
    System.err.println(s"[scale] docs $nSmall -> $nBig, events $evSmall -> $evBig")

    def gate(name: String)(s: SparkSession, dir: String): Double =
      K.steady(K.timed(graft.SparkEntry.queries(name)(s, dir)
        .write.format("noop").mode("overwrite").save()))
    val runs = suite.queries.map(q => Kernel(q, gate(q), gate(q))) ++ suite.kernels
    val rows = runs.map { k =>
      val (s, b) = (k.small(spark, small), k.scaled(spark, big))
      val ratio = if (s > 0) b / s else Double.PositiveInfinity
      System.err.println(
        f"[scale] ${k.name}%-30s sf0.1=$s%7.2fs ${factor}x=$b%8.2fs ratio=$ratio%6.2f")
      (k.name, s, b, ratio)
    }
    val superlinear = rows.collect {
      case (q, _, _, r) if r > SuperlinearSlack * factor => q }
    val json =
      s"""{"factor":$factor,"docs_small":$nSmall,"docs_big":$nBig,""" +
      s""""events_small":$evSmall,"events_big":$evBig,"slack":${num(SuperlinearSlack, 2)},""" +
      s""""queries":{${rows.map { case (q, s, b, r) =>
            s""""$q":{"sf01_sec":${num(s, 3)},"scaled_sec":${num(b, 3)},"ratio":${num(r, 2)}}"""
          }.mkString(",")}},""" +
      s""""superlinear":[${superlinear.map("\"" + _ + "\"").mkString(",")}]}"""
    Files.writeString(Paths.get(suite.record), json + "\n")
    println(json)
    if (superlinear.nonEmpty)
      System.err.println(s"[scale] SUPERLINEAR: ${superlinear.mkString(", ")}")
    spark.stop()
  }
}

/** The scale suites' timed runs. Each `*Once` runs in its own
  * `Materialize.scope` and returns its seconds. */
object BenchScaleKernels {

  /** Seconds of `body` in a fresh scope, which frees what it persisted. */
  def timed(body: => Unit): Double = graft.util.Materialize.scope {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Steady state: the second of two runs. */
  def steady(run: => Double): Double = { run; run }

  /** One k-NN graph over the corpus embeddings at `cells` IVF cells. */
  def knnGraphOnce(spark: SparkSession, dir: String, cells: Int): Double = timed {
    graft.operators.Similarity.knnGraph(
        spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
        k = 5, nCentroids = cells, nProbe = 4)
      .write.format("noop").mode("overwrite").save()
  }

  /** One embedding-ingest run: the three fixed vec_id batch cuts the gate
    * uses (growth lands ~entirely in the last batch), persisted LSH index,
    * `bits` hyperplanes — callers scale bits with log2(corpus). */
  def embedIngestOnce(spark: SparkSession, dir: String, bits: Int): Double = timed {
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
  def compactSwapOnce(spark: SparkSession, dir: String, tag: String): Double =
    graft.util.Materialize.scope {
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
      timed(graft.operators.GenIndex.compactSwap(spark, table, root, "h", 8))
    }

  /** One [[graft.streaming.IngestOutput.fold]] over a four-epoch survivor
    * output — the output-side twin of [[compactSwapOnce]]: O(accepted
    * corpus) rewrite of the per-epoch directories into one committed base
    * generation, paid at production cadence. Timed portion excludes the
    * fixture build (the four epoch writes). */
  def outputFoldOnce(spark: SparkSession, dir: String, tag: String): Double =
    graft.util.Materialize.scope {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val out = s"${graft.util.Scratch.base}/graft_scale_outfold_$tag"
      val p = new org.apache.hadoop.fs.Path(out)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      (0 until 4).foreach { e =>
        graft.streaming.EpochIngest.writeEpoch(
          docs.where(pmod(col("doc_id"), lit(4)) === e), out, e.toLong)
      }
      timed(graft.streaming.IngestOutput.fold(spark, out, 3L))
    }
}
