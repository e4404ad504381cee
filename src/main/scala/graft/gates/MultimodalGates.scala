package graft.gates

import graft.OracleXX
import graft.operators.{Dedup, Multimodal}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import GateSupport._

/** Multimodal gates: image/audio/video decode, perceptual hashes,
  * near-duplicate search and the fingerprint ingest pipelines. */
object MultimodalGates {
  private val family = "multimodal"

  val gates: Seq[GateQuery] = Seq(
    GateQuery("mm_decode", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents").withColumn("kind",
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio").otherwise("video"))
        val media = Multimodal.withBinaryPayload(docs, "doc_id", "text", col("kind"))
        Multimodal.decodeMeta(media).toDF().orderBy("id")
      },
      oracleSql = """
      WITH m AS (
        SELECT doc_id AS id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
               octet_length(encode(text))::BIGINT AS byteLen, md5(text) AS payload_md5
        FROM documents)
      SELECT id, kind, byteLen,
             (byteLen % 640 + 16)::INT AS width,
             ((byteLen * 31) % 480 + 16)::INT AS height,
             CASE WHEN kind = 'audio' THEN 16000 ELSE 0 END::INT AS sampleRateHz,
             CASE WHEN kind = 'video' THEN (byteLen % 300 + 1) ELSE 1 END::INT AS nFrames,
             payload_md5
      FROM m ORDER BY id"""),
    GateQuery("mm_frames", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents").withColumn("kind", lit("video"))
        val media = Multimodal.withBinaryPayload(docs, "doc_id", "text", col("kind"))
        Multimodal.sampleFrames(Multimodal.decodeMeta(media), everyN = 10)
          .orderBy("id", "frame_idx")
      },
      oracleSql = """
      WITH m AS (
        SELECT doc_id AS id, octet_length(encode(text))::BIGINT AS len
        FROM documents),
      f AS (SELECT id, (len % 300 + 1)::INT AS nFrames FROM m)
      SELECT id, nFrames, unnest(range(0, nFrames, 10))::INT AS frame_idx
      FROM f ORDER BY id, frame_idx"""),
    /** Window/hop framing manifest over the audio third of the corpus:
      * 25 ms / 10 ms frame grid at 16 kHz from decoded metadata only. */
    GateQuery("mm_audio_frames", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents").withColumn("kind",
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio").otherwise("video"))
        val media = Multimodal.withBinaryPayload(docs, "doc_id", "text", col("kind"))
        // gate corpus clips are short (stub n_samples 28..276): a 64/25 grid
        // exercises multi-frame expansion AND the too-short-clip drop; real
        // speech runs keep the 400/160 defaults (25 ms / 10 ms at 16 kHz)
        Multimodal.audioFrames(Multimodal.decodeMeta(media),
            windowSamples = 64, hopSamples = 25)
          .orderBy("id", "frame_idx")
      },
      // stub PCM sample count (byteLen // 2), full windows only; frame grid
      // = range over (n - win) // hop + 1
      oracleSql = """
      WITH m AS (
        SELECT doc_id AS id,
               octet_length(encode(text))::BIGINT // 2 AS n_samples
        FROM documents WHERE doc_id % 3 = 1),
      f AS (SELECT id, unnest(range(0, (n_samples - 64) // 25 + 1)) AS fi
            FROM m WHERE n_samples >= 64)
      SELECT id, fi::BIGINT AS frame_idx, (fi * 25)::BIGINT AS start_sample,
             64::BIGINT AS win_samples, 16000::BIGINT AS sr
      FROM f ORDER BY id, frame_idx"""),
    /** Exact media dedup by content digest — the first pass of every
      * multimodal pipeline: decode once (digest extracted at the decode
      * stage, bytes never shuffle), group by digest, min-id survivor. */
    GateQuery("mm_dedup_exact", family,
      build = (s, dir) => {
        // the corpus holds near-dups but no byte-exact ones — plant them (a
        // re-keyed full copy), so every digest group is a genuine 2-way dup
        // and the survivor cut actually cuts
        val base = t(s, dir, "documents")
        val docs = base.unionByName(
            base.withColumn("doc_id", col("doc_id") + 1000000L))
          .withColumn("kind", lit("image"))
        val media = Multimodal.withBinaryPayload(docs, "doc_id", "text", col("kind"))
        Multimodal.decodeMeta(media).toDF()
          .groupBy("payload_md5")
          .agg(min(col("id")).as("survivor_id"), count(lit(1)).as("dup_count"),
               sum(col("byteLen")).as("total_bytes"))
          .select("survivor_id", "dup_count", "total_bytes", "payload_md5")
          .orderBy("survivor_id")
      },
      oracleSql = """
      WITH d AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id + 1000000, text FROM documents),
      m AS (
        SELECT doc_id AS id, octet_length(encode(text))::BIGINT AS b,
               md5(text) AS h
        FROM d)
      SELECT min(id) AS survivor_id, count(*)::BIGINT AS dup_count,
             sum(b)::BIGINT AS total_bytes, h AS payload_md5
      FROM m GROUP BY h ORDER BY survivor_id"""),
    /** Perceptual dHash over REAL PIXELS at corpus scale: every doc_id maps
      * to a real PNG ([[Multimodal.RenderSpec]] — rendered and encoded by
      * the JDK's actual ImageIO encoder inside the query, the stand-in for
      * payloads off object storage), and [[Multimodal.perceptualHash]]
      * ImageIO-decodes each one back to pixels. The oracle is a full
      * codec-free replica of the render arithmetic
      * (`OracleXX.renderDhashOracle`): the spec makes every resample cell a
      * constant 4×4 block, so the expected hash is pure integer math —
      * agreement proves 500 (sf0.01) / 5000 (sf0.1) genuine decodes. */
    GateQuery("mm_phash", family,
      build = (s, dir) =>
        Multimodal.perceptualHash(
            Multimodal.renderedImagePayloads(t(s, dir, "documents"), "doc_id"))
          .orderBy("id"),
      // digest replica: DuckDB md5(VARCHAR) hashes the UTF-8 bytes, exactly
      // the payload the engine digests at its decode stage
      oracleSql = OracleXX.renderDhashOracle),
    /** The stub-grid dHash path (non-image payloads — these corpus payloads
      * are text bytes): keeps the documented byte-probe fallback oracled by
      * the exact DuckDB replay (`OracleXX.dhashOracle`) now that the main
      * `mm_phash` rows run real pixels. */
    GateQuery("mm_phash_stub", family,
      build = (s, dir) =>
        Multimodal.perceptualHash(
            Multimodal.withBinaryPayload(t(s, dir, "documents"), "doc_id",
              "text", "image"))
          .orderBy("id"),
      oracleSql = OracleXX.dhashOracle),
    /** dHash over GENUINELY DECODED pixels of the committed real-image
      * fixtures (ImageIO decode → raster luma → 9×8 box resample →
      * gradient bits). Only the two fixtures whose stored samples are
      * derivable from the render spec WITHOUT any codec are gated — lossless
      * PNGs of exact RGB/RGBA pixels, so the VALUES oracle's expected hashes
      * come from a pure-integer replica of render + luma + resample with no
      * ImageIO anywhere (MultimodalSpec additionally pins engine == replica
      * in-process). The gray PNG (its stored samples embed the JDK's
      * sRGB→gray conversion applied at fixture-encode time) and the lossy
      * JPEGs have no codec-free expected value; their decode behavior is
      * spec'd instead (recompression lands within hamming ≤ 3). */
    GateQuery("mm_phash_images", family,
      build = (s, dir) => {
        val files = s.read.format("binaryFile")
          .load(new java.io.File("fixtures/images").getAbsolutePath)
          .select(element_at(split(col("path"), "/"), -1).as("name"),
                  col("content").as("payload"))
          .where(col("name").isin("img0_rgb.png", "img1_rgba.png"))
          .withColumn("id", when(col("name") === "img0_rgb.png", 0L).otherwise(1L))
        Multimodal.perceptualHash(files)
          .select(when(col("id") === 0L, lit("img0_rgb.png"))
            .otherwise(lit("img1_rgba.png")).as("name"), col("phash"))
          .orderBy("name")
      },
      // expected hashes derived OUTSIDE the engine by a pure-integer replica
      // of render-spec + BT.601 luma + 9×8 floor-bound box resample + dHash
      // (no ImageIO in the derivation — see `mm_phash_images` scaladoc); DuckDB
      // cannot decode PNG, so the independent derivation IS the oracle
      oracleSql = """
      SELECT * FROM (VALUES
        ('img0_rgb.png',  7879695356602505833::BIGINT),
        ('img1_rgba.png', -1232109759397829069::BIGINT))
        AS t(name, phash)
      ORDER BY name"""),
    /** Image near-duplicates via the pigeonhole hamming join over REAL
      * decoded-pixel dHash fingerprints — payloads decode once to 8 bytes,
      * only fingerprints shuffle (see [[Multimodal.perceptualNearDup]]).
      * The render spec guarantees work at every SF: each 5-doc group holds
      * a hamming-0 pair (uniform +1 brightness shift — dHash's designed
      * invariance) and small-hamming bumped variants. */
    GateQuery("mm_phash_neardup", family,
      build = (s, dir) =>
        Multimodal.perceptualNearDup(
            Multimodal.renderedImagePayloads(t(s, dir, "documents"), "doc_id"),
            maxHamming = 3)
          .orderBy("id_a", "id_b"),
      oracleSql = OracleXX.renderDhashNearDupOracle(maxHamming = 3)),
    /** Blocking-recall diagnostic twin of `mm_phash_neardup`: every banded
      * candidate pair with its exact hamming, unthresholded — the join
      * machinery exercised on >0 rows at every SF the driver runs. */
    GateQuery("mm_phash_candidates", family,
      build = (s, dir) =>
        Multimodal.perceptualNearDup(
            Multimodal.renderedImagePayloads(t(s, dir, "documents"), "doc_id"),
            maxHamming = 3, keepAllCandidates = true)
          .orderBy("id_a", "id_b"),
      oracleSql = OracleXX.renderDhashNearDupOracle(maxHamming = 3,
        keepAllCandidates = true)),
    GateQuery("mm_phash_decode_faults", family,
      build = (s, dir) =>
        // kind re-derived from the id arithmetic rather than joined back from
        // the render stage — the payloads render+decode exactly once
        Multimodal.perceptualHash(
            Multimodal.renderedMixedPayloads(t(s, dir, "documents"), "doc_id"))
          .select(col("id"),
                  when(col("id") % 17 === 5, lit("corrupt_png"))
                    .when(col("id") % 5 === 4, lit("jpeg"))
                    .otherwise(lit("png")).as("kind"),
                  when(col("phash").isNotNull, lit(1)).otherwise(lit(0)).as("decoded"))
          .orderBy("id"),
      oracleSql = """
      SELECT doc_id AS id,
             CASE WHEN doc_id % 17 = 5 THEN 'corrupt_png'
                  WHEN doc_id % 5 = 4 THEN 'jpeg'
                  ELSE 'png' END AS kind,
             CASE WHEN doc_id % 17 = 5 THEN 0 ELSE 1 END AS decoded
      FROM documents ORDER BY id"""),
      /** Codec fault handling at gate scale: a mixed real-codec corpus (PNG /
        * JPEG / PNG-truncated-after-IHDR per [[Multimodal.renderedMixedPayloads]])
        * through the real decode path. A corrupt body behind a valid magic
        * must yield a NULL hash — a row-level degradation, never a task kill
        * (the 100 TB contract) — and JPEG rows prove the second codec's full
        * encode/decode runs at scale (their lossy hash values are spec'd in
        * MultimodalSpec, not oracled; here the gate pins decodability). */
    /** 64-bit audio fingerprint over REAL decoded PCM at corpus scale: every
      * doc_id maps to a real WAV ([[Multimodal.AudioRenderSpec]] — synth
      * sawtooth through the actual `javax.sound` WAVE encoder inside the
      * query), decoded back byte-level and fingerprinted by the lag-energy
      * filterbank ([[Multimodal.audioFingerprint64]]). The oracle replays
      * decode + fingerprint from the formula alone
      * (`OracleXX.audioFpOracle`) — agreement pins the whole encode →
      * parse → mono-mix → energy → gradient-bit pipeline per row. */
    GateQuery("mm_audio_fingerprint", family,
      build = (s, dir) =>
        Multimodal.audioFingerprint(
            Multimodal.renderedAudioPayloads(t(s, dir, "documents"), "doc_id"))
          .orderBy("id"),
      oracleSql = OracleXX.audioFpOracle),
    /** Audio near-duplicates via the pigeonhole hamming join over the
      * fingerprints — the same kernel reuse as the image path
      * ([[Multimodal.audioNearDup]]). Each 5-doc group guarantees pairs:
      * polarity inversion is hamming 0 BY CONSTRUCTION, amplitude halving
      * and a 160-sample shift land within a few bits. */
    GateQuery("mm_audio_neardup", family,
      build = (s, dir) =>
        Multimodal.audioNearDup(
            Multimodal.renderedAudioPayloads(t(s, dir, "documents"), "doc_id"),
            maxHamming = 3)
          .orderBy("id_a", "id_b"),
      oracleSql = OracleXX.audioFpNearDupOracle(maxHamming = 3)),
    /** Format sniffing at corpus scale — the ingest router's decision over
      * a mixed corpus where every class goes through its REAL encoder
      * ([[Multimodal.renderedSniffPayloads]]: ImageIO PNG + JPEG,
      * javax.sound WAV, the AVI writer, GZIPOutputStream, UTF-8 text, and
      * a deliberate non-UTF-8 byte string). [[Multimodal.sniffKind]] must
      * classify all seven — each parser accepting its own format and
      * rejecting the other six is exactly what the magic/chunk-walk
      * strictness claims. Oracle is pure id arithmetic. */
    GateQuery("mm_sniff", family,
      build = (s, dir) =>
        Multimodal.sniff(
            Multimodal.renderedSniffPayloads(t(s, dir, "documents"), "doc_id"))
          .orderBy("id"),
      oracleSql = """
      SELECT doc_id AS id,
             CASE doc_id % 7 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                             WHEN 2 THEN 'wav' WHEN 3 THEN 'avi'
                             WHEN 4 THEN 'gzip' WHEN 5 THEN 'text'
                             ELSE 'binary' END AS kind
      FROM documents ORDER BY id"""),
    /** Real VIDEO container decode at corpus scale — the third modality's
      * genuine-decode gate beside `mm_phash` (ImageIO) and
      * `mm_audio_fingerprint` (javax.sound): every doc_id maps to a real
      * single-stream uncompressed AVI ([[Multimodal.VideoRenderSpec]]), and
      * [[Multimodal.videoMeta]] walks the RIFF list tree back out
      * ([[graft.functions.AviHeader]]). Ids with `id % 11 == 3` are
      * truncated mid-way into their LAST frame chunk — the parser must
      * report one frame fewer than declared (clamp-to-present), never
      * throw. The oracle replays the frame-count draw and the truncation
      * rule as pure id arithmetic. */
    GateQuery("mm_video_meta", family,
      build = (s, dir) =>
        Multimodal.videoMeta(
            Multimodal.renderedVideoPayloads(t(s, dir, "documents"), "doc_id",
              truncateMod = 11L))
          .toDF().orderBy("id"),
      oracleSql = OracleXX.videoMetaOracle(truncateMod = 11L)),
    /** Per-frame dHash over GENUINELY decoded DIB pixels: AVI walk →
      * bottom-up BGR decode → integer luma → the shared [[Multimodal
      * .dhashFromGray]] resample kernel, one row per (video, frame). The
      * oracle is the codec-free render-formula replica
      * (`OracleXX.videoFrameDhashOracle`) — agreement pins ~7 real frame
      * decodes per corpus doc. */
    GateQuery("mm_video_frame_hashes", family,
      build = (s, dir) =>
        Multimodal.videoFrameHashes(
            Multimodal.renderedVideoPayloads(t(s, dir, "documents"), "doc_id"))
          .orderBy("id", "frame_idx"),
      oracleSql = OracleXX.videoFrameDhashOracle),
    /** Majority-vote 64-bit video fingerprint ([[Multimodal
      * .videoFingerprint64]]) per payload — parse + per-frame hash +
      * combine in one scan stage; the frame-count spread (6–8 per group)
      * exercises both tie parities of the vote. */
    GateQuery("mm_video_fingerprint", family,
      build = (s, dir) =>
        Multimodal.videoFingerprint(
            Multimodal.renderedVideoPayloads(t(s, dir, "documents"), "doc_id"))
          .orderBy("id"),
      oracleSql = OracleXX.videoFpOracle),
    /** Video near-duplicates via the same pigeonhole hamming kernel as the
      * image/audio paths: each 5-doc group guarantees a hamming-0 pair
      * (uniform +1 brightness on every frame — dHash invariance composed
      * with the tie-stable majority vote) and a one-frame-edit variant
      * within a couple of bits. */
    GateQuery("mm_video_neardup", family,
      build = (s, dir) =>
        Multimodal.videoNearDup(
            Multimodal.renderedVideoPayloads(t(s, dir, "documents"), "doc_id"),
            maxHamming = 3)
          .orderBy("id_a", "id_b"),
      oracleSql = OracleXX.videoFpNearDupOracle(maxHamming = 3)),
    /** Clip/scene-reuse report ([[Multimodal.videoSharedFrames]]): video
      * pairs sharing exact per-frame dHashes, frame-position independent —
      * each 5-doc render group pairs members 0–3 richly (the +1-brightness
      * twin shares EVERY frame hash; single/two-frame edits share all but
      * the edited ones) while the independent member 4 pairs with nothing.
      * The inverted-index join shape of `dedup_ngram`, over frames. */
    GateQuery("mm_video_shared_frames", family,
      build = (s, dir) =>
        Multimodal.videoSharedFrames(
            Multimodal.renderedVideoPayloads(t(s, dir, "documents"), "doc_id"),
            minShared = 2)
          .orderBy("id_a", "id_b"),
      oracleSql = OracleXX.videoSharedFramesOracle(minShared = 2, maxFrameFreq = 4096L)),
    /** COMPRESSED-codec video decode at corpus scale: the same render-spec
      * frames, each through the REAL ImageIO JPEG encoder into a 'MJPG' AVI
      * ([[Multimodal.renderedMjpegPayloads]]), decoded back frame-by-frame
      * by the real ImageIO JPEG reader inside the one-scan
      * [[Multimodal.videoDecodeReport]]. JPEG is lossy, so the hash VALUES
      * are spec'd by hamming tolerance in MultimodalSpec (the
      * `mm_phash_images` pattern); the gate oracles what is exact — codec
      * id, frame counts, decode survival, fingerprint presence. Ids with
      * `id % 9 == 3` carry one truncated JPEG stream inside a valid
      * container: exactly that frame must drop (n_decoded = n_present − 1),
      * never a task kill. */
    GateQuery("mm_video_mjpeg", family,
      build = (s, dir) =>
        Multimodal.videoDecodeReport(
            Multimodal.renderedMjpegPayloads(t(s, dir, "documents"), "doc_id",
              corruptMod = 9L))
          .toDF()
          .select(col("id"), col("codec"), col("n_frames_present"),
                  col("n_frames_decoded"),
                  when(col("vfp").isNotNull, lit(1)).otherwise(lit(0))
                    .as("fp_nonnull"))
          .orderBy("id"),
      oracleSql = OracleXX.videoMjpegDecodeOracle(corruptMod = 9L)),
    /** The COMPOSED multimodal ingest DAG run end to end as ONE dataflow —
      * mixed real-codec corpus ([[Multimodal.renderedIngestPayloads]]: PNG /
      * WAV / AVI / text, plus truncated-PNG corrupt rows) → magic-byte sniff
      * routes each payload → the matching decoder runs ONCE in the same scan
      * → per-modality fingerprints → ONE family-keyed pigeonhole near-dup
      * join → per-family curation data-card. Where every other mm_* gate
      * proves one operator, this proves they compose into the pipeline shape
      * the reference actually is (source → interceptors → sinks as one
      * graph). The oracle is a pure composition of the three modality
      * formula replicas plus the keyed fragment join
      * ([[OracleXX.ingestCardOracle]]). */
    GateQuery("pipeline_mm_ingest", family,
      build = (s, dir) =>
        Multimodal.ingestPipeline(
            Multimodal.renderedIngestPayloads(t(s, dir, "documents"), "doc_id"))
          ._1.orderBy("family"),
      oracleSql = OracleXX.ingestCardOracle(maxHamming = 3)),
    /** The composed DAG's unified near-dup PAIR table — image, audio, and
      * video pairs out of one grouped blocked join (the family rides in the
      * bucket key; [[Dedup.hammingPairs64Keyed]]), hash-gated row by row.
      *
      * Deliberately re-runs the pipeline rather than sharing state with the
      * card gate: cross-query result sharing is exactly the CacheManager
      * coupling this repo abolished (`Materialize.persist` salting — a shared entry freed
      * by whichever query finishes first corrupted results at 1-in-7 sweep
      * odds), and within ONE gate the extra cost is a 4-row data-card
      * checkpoint over the already-persisted slim fingerprint projection
      * (~0.3 s) — the payload decode runs once per gate either way. */
    GateQuery("pipeline_mm_ingest_pairs", family,
      build = (s, dir) =>
        Multimodal.ingestPipeline(
            Multimodal.renderedIngestPayloads(t(s, dir, "documents"), "doc_id"))
          ._2.select(col("grp").as("family"), col("id_a"), col("id_b"),
                     col("hamming"))
          .orderBy("family", "id_a", "id_b"),
      oracleSql = OracleXX.ingestPairsOracle(maxHamming = 3)),
    /** Incremental fingerprint near-dup against the PERSISTED fragment
      * index ([[Dedup.hammingSurvivorsIndexed]]) — the modality twin of
      * `dedup_incremental_indexed`: the corpus split members 0–1 of every
      * render group are fingerprinted ONCE into the bucketed fragment index;
      * the incoming members 2–4 probe it with zero index-side exchange
      * (PlanSpec-pinned). Every render group guarantees cross-boundary work:
      * member 3 (the +1-brightness twin) sits at hamming 0 from corpus
      * member 0, member 4 (independent) survives. The oracle replays the
      * render formula + fragment join + the greedy keep-first rule. */
    GateQuery("mm_neardup_incremental", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents")
        val tag = layoutTag(dir)
        def fp(d: DataFrame) = Multimodal.perceptualHash(
            Multimodal.renderedImagePayloads(d, "doc_id"))
          .where(col("phash").isNotNull)
          .select(col("id"), col("phash").as("sh"))
        val idx = graft.operators.Relational.bucketMaterialize(
          Dedup.buildHammingPostings(fp(docs.where(col("doc_id") % 5 < 2)),
            maxHamming = 3),
          s"graft_b_mmidx_$tag", "bk", 8,
          s"${graft.util.Scratch.base}/graft_bucketed_$tag/mmidx")
        Dedup.hammingSurvivorsIndexed(fp(docs.where(col("doc_id") % 5 >= 2)),
            idx, maxHamming = 3)
          .select("id", "n_dup_corpus", "n_dup_batch", "survives")
          .orderBy("id")
      },
      oracleSql = OracleXX.hammingIncrementalOracle(maxHamming = 3)),
    /** Fingerprint ingest loop over the bucketed fragment index
      * ([[Dedup.hammingIngest]]) — ordered batches of real rendered PNGs,
      * each decoded once, probed against the fingerprints ACCEPTED so far,
      * survivors extending the index before the next batch probes it. */
    GateQuery("mm_ingest_loop", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents")
        val tag = layoutTag(dir)
        val batches = mmIngestBounds.map { case (lo, hi) =>
          Multimodal.perceptualHash(
              Multimodal.renderedImagePayloads(
                docs.where(col("doc_id") >= lo && col("doc_id") < hi), "doc_id"))
            .where(col("phash").isNotNull)
            .select(col("id"), col("phash").as("sh")) }
        Dedup.hammingIngest(batches, s"graft_b_mmingest_$tag",
            s"${graft.util.Scratch.base}/graft_bucketed_$tag/mmingest",
            buckets = 8, maxHamming = 3)
          .select(col("id"), col("sh").as("phash"))
          .orderBy("id")
      },
      oracleSql = OracleXX.hammingIngestOracle(mmIngestBounds, maxHamming = 3)),
    GateQuery("mm_image_headers", family,
      build = (s, dir) =>
        // Real bytes-to-metadata work over committed real image files (encoded
        // once by ImageIO — see tools/MakeImageFixtures): the oracle is the
        // fixture spec itself as a VALUES literal, independent knowledge of
        // what the bytes must parse to.
        Multimodal.imageHeaders(
            s.read.format("binaryFile")
             .load(new java.io.File("fixtures/images").getAbsolutePath))
          .toDF().orderBy("name"),
      // the expected table IS the fixture generation spec
      // (tools/MakeImageFixtures.scala): ImageIO writes TYPE_INT_RGB PNGs as
      // truecolor (3ch), TYPE_INT_ARGB as RGBA (4ch), TYPE_BYTE_GRAY as
      // grayscale (1ch); JPEG SOF declares 3 (YCbCr) / 1 (gray) components
      oracleSql = """
      SELECT * FROM (VALUES
        ('img0_rgb.png',  'png',  23, 17, 3, 8),
        ('img1_rgba.png', 'png',  16, 16, 4, 8),
        ('img2_gray.png', 'png',  31,  9, 1, 8),
        ('img3_rgb.jpg',  'jpeg', 40, 25, 3, 8),
        ('img4_gray.jpg', 'jpeg', 12, 34, 1, 8))
        AS t(name, format, width, height, channels, bit_depth)
      ORDER BY name"""),
    /** Real audio decode over committed WAV fixtures (encoded once by the
      * JDK's own javax.sound writer — tools/MakeAudioFixtures): fmt/data
      * chunks parsed by the pure [[graft.functions.WavHeader]], frame grid
      * derived from GENUINELY decoded sample counts. The oracle is the
      * fixture spec itself as a VALUES literal — independent knowledge of
      * what the bytes must parse to, the `mm_image_headers` pattern. */
    GateQuery("mm_wav_frames", family,
      build = (s, dir) =>
        Multimodal.wavFrames(
            s.read.format("binaryFile")
             .load(new java.io.File("fixtures/audio").getAbsolutePath))
          .toDF().orderBy("name"),
      // fixture-spec VALUES: channels/rate/bits/frames from MakeAudioFixtures'
      // declaration; duration = frames*1000 DIV rate; STFT grid =
      // (frames - 400) DIV 160 + 1 — independent knowledge of what the
      // committed WAV bytes must decode to
      oracleSql = """
      SELECT * FROM (VALUES
        ('aud0_mono16k.wav',  1, 16000, 16, 2000::BIGINT, 125::BIGINT, 11::BIGINT),
        ('aud1_stereo8k.wav', 2,  8000, 16, 1200::BIGINT, 150::BIGINT,  6::BIGINT),
        ('aud2_mono44k.wav',  1, 44100, 16,  441::BIGINT,  10::BIGINT,  1::BIGINT))
        AS t(name, channels, sample_rate_hz, bit_depth, n_samples,
             duration_ms, n_frames)
      ORDER BY name""")
  )
}
