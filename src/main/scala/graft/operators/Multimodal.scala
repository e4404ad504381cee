package graft.operators

import graft.util.Materialize
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ImageHeader

/** Multimodal column handling: image/audio/video payloads are opaque
  * `BINARY` columns with a typed metadata struct beside them. The
  * Spark-side plumbing — schema, partition sizing, batch-shaped decode API —
  * is real and tested; the codec itself is a clearly-marked deterministic
  * STUB (`StubCodec`) because no image/audio libraries exist in this
  * environment. Swapping in a real decoder is a one-function change that
  * does not touch the distributed plan.
  *
  * Scale design: payload bytes dominate row size, so the decode stage
  * (a) runs `mapPartitions` (one codec init per partition, not per row),
  * (b) never shuffles the binary column (metadata is extracted first,
  * payloads are dropped before any wide stage), and (c) callers should size
  * `spark.sql.files.maxPartitionBytes` so a partition of payloads fits the
  * executor (documented, not hard-coded).
  */
object Multimodal {

  /** Typed media-metadata row produced by decode. */
  final case class MediaMeta(id: Long, kind: String, byteLen: Long,
                             width: Int, height: Int, sampleRateHz: Int,
                             nFrames: Int, payload_md5: String)

  val mediaSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("kind", StringType),
    StructField("payload", BinaryType),
    StructField("meta", MapType(StringType, StringType))))

  /** ==== STUB ====
    * Deterministic fake decoder: derives plausible media properties purely
    * from the payload bytes (so tests and oracles are reproducible). A real
    * implementation would call an image/audio codec here — the signature
    * (bytes in, metadata out, one call per record, codec state reusable
    * across a partition) is the real contract. */
  object StubCodec {
    def decode(id: Long, kind: String, payload: Array[Byte]): MediaMeta = {
      val len = payload.length.toLong
      // the field NAME states the algorithm: a hash column called "sha"
      // holding an MD5 is a trap for every consumer and future codec
      val md5 = java.security.MessageDigest.getInstance("MD5").digest(payload)
        .map("%02x".format(_)).mkString
      MediaMeta(id, kind, len,
        width = (len % 640).toInt + 16,       // len >= 0: no abs needed
        height = ((len * 31) % 480).toInt + 16,
        sampleRateHz = if (kind == "audio") 16000 else 0,
        nFrames = if (kind == "video") (len % 300).toInt + 1 else 1,
        payload_md5 = md5)
    }
  }

  /** Slim id projection hash-spread across the cluster BEFORE an encode
    * stage: the gate corpus tables are single parquet files (one input
    * split), which would serialize the per-row codec loop onto one core —
    * measured on `mm_video_mjpeg`: 8.8–14.5 s per gate pass vs ~0.6 s for
    * the identical ~70k ImageIO ops across 32. At 100 TB payloads arrive
    * pre-partitioned off object storage; this models that shape and costs
    * one shuffle of 8-byte ids.
    *
    * The partition count is EXPLICIT, which is load-bearing: a bare
    * `repartition(col)` is fair game for AQE partition coalescing, which
    * sizes by SHUFFLE BYTES — 5000 ids are ~40 KB, so AQE merged them
    * back into ONE partition and re-serialized the codec stage (measured:
    * encode-only 0.55 s → 2.9 s). Explicit-N repartition is exempt from
    * coalescing; the general rule: a slim-row shuffle feeding CPU-heavy
    * per-row work must pin its partition count. */
  private def spreadIds(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("id"))

  /** Attach a binary payload column to any table (here: utf-8 bytes of a
    * text column — the plumbing stand-in for real image/audio bytes). */
  def withBinaryPayload(df: DataFrame, idCol: String, textCol: String,
                        kind: String): DataFrame =
    withBinaryPayload(df, idCol, textCol, lit(kind))

  def withBinaryPayload(df: DataFrame, idCol: String, textCol: String,
                        kind: org.apache.spark.sql.Column): DataFrame =
    df.select(col(idCol).cast("long").as("id"), kind.as("kind"),
              to_binary(col(textCol), lit("utf-8")).as("payload"),
              map(lit("origin"), col(idCol).cast("string")).as("meta"))

  /** Batch-shaped decode: mapPartitions over the typed Dataset — one codec
    * instance per partition, rows streamed through it. Output drops the
    * payload (never carry bytes past the decode stage). Payloads that ARE
    * real images (PNG/JPEG magic) get their true header metadata via
    * `ImageHeader`; everything else falls back to the stub codec. */
  def decodeMeta(df: DataFrame): Dataset[MediaMeta] = {
    implicit val enc = Encoders.product[MediaMeta]
    df.select("id", "kind", "payload").as(Encoders.row(StructType(mediaSchema.take(3))))
      .mapPartitions { rows =>
        // real codecs would init native state here, once per partition
        def md5Of(bytes: Array[Byte]): String =
          java.security.MessageDigest.getInstance("MD5").digest(bytes)
            .map("%02x".format(_)).mkString
        rows.map { r =>
          val (id, kind, bytes) = (r.getLong(0), r.getString(1), r.getAs[Array[Byte]](2))
          ImageHeader.parse(bytes) match {
            case Some(info) =>
              MediaMeta(id, info.format, bytes.length.toLong, info.width,
                        info.height, sampleRateHz = 0, nFrames = 1,
                        payload_md5 = md5Of(bytes))
            case None => graft.functions.WavHeader.parse(bytes) match {
              case Some(w) =>
                // real decoded audio metadata: rate from the fmt chunk,
                // nFrames = PCM sample frames actually present
                MediaMeta(id, "wav", bytes.length.toLong, width = 0,
                          height = 0, sampleRateHz = w.sampleRateHz,
                          nFrames = math.min(w.nFrames, Int.MaxValue).toInt,
                          payload_md5 = md5Of(bytes))
              case None => graft.functions.AviHeader.parse(bytes) match {
                case Some(a) =>
                  // real parsed video metadata: dims from avih, nFrames =
                  // frame chunks actually present (clamp-to-present)
                  MediaMeta(id, "avi", bytes.length.toLong, width = a.width,
                            height = a.height, sampleRateHz = 0,
                            nFrames = a.framesPresent, payload_md5 = md5Of(bytes))
                case None => StubCodec.decode(id, kind, bytes)
              }
            }
          }
        }
      }
  }

  /** Parsed header row for real image files; see `mm_image_headers`. */
  final case class ImageHeaderRow(name: String, format: String, width: Int,
                                  height: Int, channels: Int, bit_depth: Int)

  /** Header-parse a `binaryFile`-sourced DataFrame (path, content) into
    * per-file image metadata. Non-image files are dropped. Bytes never
    * leave the scan stage: the output is a handful of scalar columns. */
  def imageHeaders(binaryFiles: DataFrame): Dataset[ImageHeaderRow] = {
    implicit val enc = Encoders.product[ImageHeaderRow]
    binaryFiles.select(
        element_at(split(col("path"), "/"), -1).as("name"), col("content"))
      .as(Encoders.row(StructType(Seq(
        StructField("name", StringType), StructField("content", BinaryType)))))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          ImageHeader.parse(r.getAs[Array[Byte]](1)).map(i =>
            ImageHeaderRow(r.getString(0), i.format, i.width, i.height,
                           i.channels, i.bitDepth))
        }
      }
  }

  /** Parsed PCM-WAV row for real audio files; see `mm_wav_frames`. */
  final case class WavRow(name: String, channels: Int, sample_rate_hz: Int,
                          bit_depth: Int, n_samples: Long, duration_ms: Long,
                          n_frames: Long)

  /** Real audio-decode plumbing over a `binaryFile`-sourced DataFrame —
    * the audio twin of [[imageHeaders]]: parse each WAV's fmt/data chunks
    * ([[graft.functions.WavHeader]] — pure bytes, PCM only, truncation
    * clamped) and derive the STFT frame-grid size the feature extractor
    * would execute (`(n_samples − window) DIV hop + 1`, trailing partial
    * window dropped — the same arithmetic as [[audioFrames]], here over
    * GENUINELY decoded sample counts instead of the stub's byteLen DIV 2).
    * Non-WAV files are dropped; bytes never leave the scan stage. */
  def wavFrames(binaryFiles: DataFrame, windowSamples: Int = 400,
                hopSamples: Int = 160): Dataset[WavRow] = {
    require(windowSamples >= 1 && hopSamples >= 1,
      s"window/hop must be >= 1, got $windowSamples/$hopSamples")
    implicit val enc = Encoders.product[WavRow]
    binaryFiles.select(
        element_at(split(col("path"), "/"), -1).as("name"), col("content"))
      .as(Encoders.row(StructType(Seq(
        StructField("name", StringType), StructField("content", BinaryType)))))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          graft.functions.WavHeader.parse(r.getAs[Array[Byte]](1)).map { w =>
            val frames =
              if (w.nFrames < windowSamples) 0L
              else (w.nFrames - windowSamples) / hopSamples + 1L
            WavRow(r.getString(0), w.channels, w.sampleRateHz,
                   w.bitsPerSample, w.nFrames, w.durationMs, frames)
          }
        }
      }
  }

  /** STFT-style audio framing manifest — the window/hop plan every speech
    * feature extractor (fbank/MFCC/wav2vec) executes: each audio row
    * expands into its frame grid (default 400-sample window, 160-sample
    * hop = 25 ms / 10 ms at 16 kHz). Sample count derives from the
    * decoded metadata (STUB: 16-bit mono PCM, `n_samples = byteLen DIV 2`
    * — a real codec would report it; the manifest arithmetic is the real
    * contract). The trailing partial window is dropped (standard framing;
    * padding policy belongs to the feature extractor).
    *
    * Scale shape: metadata-only input (bytes never reach this operator),
    * one narrow explode of `(n_samples − window) DIV hop + 1` rows per
    * clip — no shuffle, no state. */
  def audioFrames(meta: Dataset[MediaMeta], windowSamples: Int = 400,
                  hopSamples: Int = 160): DataFrame = {
    require(windowSamples >= 1, s"windowSamples must be >= 1, got $windowSamples")
    require(hopSamples >= 1, s"hopSamples must be >= 1, got $hopSamples")
    meta.toDF().where(col("kind") === "audio")
      .select(col("id"), col("sampleRateHz").cast("long").as("sr"),
        expr("byteLen DIV 2").as("n_samples"))
      .where(col("n_samples") >= windowSamples)
      .select(col("id"), col("sr"),
        explode(sequence(lit(0L),
          expr(s"(n_samples - $windowSamples) DIV $hopSamples"))).as("frame_idx"))
      .select(col("id"), col("frame_idx"),
        (col("frame_idx") * hopSamples).as("start_sample"),
        lit(windowSamples.toLong).as("win_samples"), col("sr"))
  }

  /** Frame sampling plumbing: expand each video row into every `everyN`-th
    * frame index (no bytes attached in the stub; a real impl would emit one
    * decoded frame per row). Demonstrates the explode-then-process batch
    * shape without carrying payloads through the explode. */
  def sampleFrames(meta: Dataset[MediaMeta], everyN: Int = 10): DataFrame = {
    require(everyN >= 1, s"everyN must be >= 1, got $everyN")
    meta.toDF().where(col("kind") === "video")
      .select(col("id"), col("nFrames"),
        explode(sequence(lit(0), col("nFrames") - 1, lit(everyN))).as("frame_idx"))
  }

  /** ==== STUB (non-image payloads only) ====
    * Deterministic fake "decoded grayscale grid" for the perceptual hash
    * of payloads that are NOT decodable images (audio/video stand-ins,
    * text-byte plumbing fixtures): an 8-row x 9-column sample of the
    * payload bytes at strided positions `idx(p) = (p * 131 + 7) mod len`
    * (131 coprime to small lengths, so the 72 probes spread across the
    * buffer). Real image payloads do NOT come through here — they take the
    * genuine ImageIO decode → luma → area-resample path below. */
  private def stubGray(payload: Array[Byte], p: Int): Int = {
    val n = payload.length
    payload(((p * 131 + 7) % n + n) % n) & 0xFF
  }

  /** 64-bit dHash over an arbitrary W×H grayscale grid accessor: 9×8
    * integer box-average area-resample (floor cell bounds, truncating
    * mean — every step exact integer math, so the hash is a pure function
    * of the pixel grid), then bit `r*8 + c` set iff the resampled grid
    * brightens left-to-right at `(r, c)`. Shared by the real decode path
    * and the render-spec replica in the spec/oracle (which derives the
    * expected fixture hashes WITHOUT ImageIO — the independence that keeps
    * the `mm_phash_images` VALUES oracle honest). */
  def dhashFromGray(w: Int, h: Int, gray: (Int, Int) => Int): Long = {
    require(w >= 1 && h >= 1, s"dhashFromGray: empty grid ${w}x$h")
    val cell = Array.ofDim[Long](8, 9)
    var ry = 0
    while (ry < 8) {
      var cx = 0
      while (cx < 9) {
        val x0 = cx * w / 9
        val x1 = math.min(math.max((cx + 1) * w / 9, x0 + 1), w)
        val y0 = ry * h / 8
        val y1 = math.min(math.max((ry + 1) * h / 8, y0 + 1), h)
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { sum += gray(x, y); x += 1 }
          y += 1
        }
        cell(ry)(cx) = sum / ((x1 - x0).toLong * (y1 - y0))
        cx += 1
      }
      ry += 1
    }
    var hh = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (cell(r)(c) < cell(r)(c + 1)) hh |= (1L << (r * 8 + c))
        c += 1
      }
      r += 1
    }
    hh
  }

  /** Render spec for the DETERMINISTIC REAL-IMAGE corpus that backs the
    * at-scale perceptual-hash gates (`mm_phash`, `mm_phash_neardup`,
    * `mm_phash_candidates`): every corpus doc_id maps to a real PNG,
    * encoded by the JDK's own ImageIO encoder at render time and decoded
    * back through the genuine pixel path in [[perceptualHash]] — so the
    * 500/5000-row gate pipelines exercise real codec throughput, not the
    * stub grid.
    *
    * The pattern is designed so the EXPECTED dHash is derivable without
    * any codec, purely from integer arithmetic the DuckDB oracle replays
    * (`OracleXX.renderDhashOracle`):
    *  - 36×32 px, so each of the 9×8 dHash resample cells is exactly a
    *    4×4 pixel block (no floor irregularity in the box bounds);
    *  - gray value CONSTANT within each cell — the box mean of a constant
    *    block is that constant, exactly;
    *  - pixels are (v, v, v) in TYPE_INT_RGB (stored samples = rendered
    *    values; BT.601 luma of (v,v,v) = 1000v/1000 = v exactly) and the
    *    container is PNG (lossless), so ImageIO must hand back the very
    *    cell values the formula names — agreement proves a genuine
    *    decode, cell by cell.
    *
    * Near-dup structure: docs come in groups of [[GroupSize]] sharing a
    * base pattern `v0 = mix64(grp*72 + cell) mod Mod + Lo`, with members
    *  0: the base; 1: one cell bumped (+24 at r2c3 — flips ≤2 gradient
    *  bits); 2: two cells bumped (+30 at r5c1, r6c7 — flips ≤4 bits);
    *  3: +1 everywhere (a uniform brightness shift — hamming 0 vs member
    *  0 BY CONSTRUCTION, dHash's core invariance); 4: an independent
    *  pattern (negative control, ~32 expected hamming). So every group
    *  contributes hamming-0 and small-hamming pairs, and the pigeonhole
    *  join always has real work at every SF. */
  object RenderSpec {
    val W = 36
    val H = 32
    val GroupSize = 5L
    val Mod = 200L
    val Lo = 26      // base in [26, 225]; largest bump +30 → 255, no clipping,
                     // so the stored byte samples equal the formula exactly
    val Seed = 0x6d6d5f7068617368L // "mm_phash"
    val AltOffset = 1000000007L

    /** Gray value of dHash cell (r, c) for doc `docId` — the single source
      * of truth shared by the renderer, the in-process spec replica, and
      * (transcribed to SQL) the DuckDB oracle. */
    def cellValue(docId: Long, r: Int, c: Int): Int = {
      val grp = docId / GroupSize
      val member = docId % GroupSize
      val b = r * 9 + c
      def v0(off: Long): Int =
        (Math.floorMod(graft.util.SplitMix64.at(Seed, grp * 72L + b + off), Mod) + Lo).toInt
      member match {
        case 1L => v0(0L) + (if (r == 2 && c == 3) 24 else 0)
        case 2L => v0(0L) + (if ((r == 5 && c == 1) || (r == 6 && c == 7)) 30 else 0)
        case 3L => v0(0L) + 1
        case 4L => v0(AltOffset)
        case _  => v0(0L)
      }
    }

    /** Expected dHash from the formula alone — written out directly (not
      * via [[dhashFromGray]]) so the spec's engine==replica assertion
      * exercises the real resample kernel against independent arithmetic. */
    def expectedDhash(docId: Long): Long = {
      var h = 0L
      var r = 0
      while (r < 8) {
        var c = 0
        while (c < 8) {
          if (cellValue(docId, r, c) < cellValue(docId, r, c + 1))
            h |= (1L << (r * 8 + c))
          c += 1
        }
        r += 1
      }
      h
    }
  }

  private def renderSpecImage(docId: Long): java.awt.image.BufferedImage = {
    import RenderSpec._
    val img = new java.awt.image.BufferedImage(
      W, H, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < H) {
      var x = 0
      while (x < W) {
        val v = cellValue(docId, y / 4, x / 4)
        img.setRGB(x, y, (v << 16) | (v << 8) | v | 0xff000000)
        x += 1
      }
      y += 1
    }
    img
  }

  /** The deterministic real-image corpus: one REAL PNG per input id,
    * rendered from [[RenderSpec]] and encoded by ImageIO inside
    * `mapPartitions` (one encoder context per partition — the codec
    * contract). Output is `(id, payload BINARY)`; at 100 TB the payloads
    * would come off object storage instead, and everything downstream of
    * this stage is identical. */
  def renderedImagePayloads(df: DataFrame, idCol: String): DataFrame = {
    implicit val enc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    spreadIds(df, idCol)
      .as(Encoders.row(StructType(Seq(StructField("id", LongType)))))
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val id = r.getLong(0)
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(renderSpecImage(id), "png", bos)
          (id, bos.toByteArray)
        }
      }.toDF("id", "payload")
  }

  /** Mixed-codec corpus for the decode-fault gate (`mm_phash_decode_faults`):
    * per id, `kind` and payload are
    *  - `corrupt_png` (id % 17 == 5): a real PNG TRUNCATED to 26 bytes —
    *    valid magic + full IHDR (so header parse succeeds and the real
    *    decode path is entered) but no pixel data; the decode MUST yield a
    *    null hash, never a task kill;
    *  - `jpeg` (id % 5 == 4): the render-spec image through the real JPEG
    *    encoder — exercises the second codec's full encode/decode at gate
    *    scale (its lossy hash value is spec'd, not oracled);
    *  - `png` otherwise: as [[renderedImagePayloads]]. */
  def renderedMixedPayloads(df: DataFrame, idCol: String): DataFrame = {
    implicit val enc =
      Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.BINARY)
    spreadIds(df, idCol)
      .as(Encoders.row(StructType(Seq(StructField("id", LongType)))))
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val id = r.getLong(0)
          val img = renderSpecImage(id)
          def encode(fmt: String): Array[Byte] = {
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, fmt, bos)
            bos.toByteArray
          }
          if (id % 17L == 5L) (id, "corrupt_png", encode("png").take(26))
          else if (id % 5L == 4L) (id, "jpeg", encode("jpg"))
          else (id, "png", encode("png"))
        }
      }.toDF("id", "kind", "payload")
  }

  /** Integer ITU-R BT.601 luma of a decoded image via RASTER samples —
    * never `getRGB`, whose colorspace conversion (gray→sRGB) would make
    * the pixel values JDK-version-dependent and underivable from the
    * source pixels. Band layouts: 1 = gray, 2 = gray+alpha, >= 3 = R,G,B
    * (+ignored alpha). */
  private def rasterLuma(img: java.awt.image.BufferedImage): (Int, Int) => Int = {
    val raster = img.getRaster
    val bands = raster.getNumBands
    if (bands <= 2) (x, y) => raster.getSample(x, y, 0)
    else (x, y) => (299 * raster.getSample(x, y, 0) +
                    587 * raster.getSample(x, y, 1) +
                    114 * raster.getSample(x, y, 2)) / 1000
  }

  /** The genuine image decode step behind [[perceptualHash]]: ImageIO
    * decode → raster luma → [[dhashFromGray]]. Any decode failure — IO,
    * EOF on a truncated body, or a reader-internal error on adversarial
    * bytes — is a NULL, never a thrown task failure. Callers are inside
    * `mapPartitions` with `ImageIO.setUseCache(false)` applied. */
  private def imageDhashOrNull(bytes: Array[Byte]): java.lang.Long = {
    val img = try javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null || img.getWidth < 1 || img.getHeight < 1)
      null // corrupt body behind a valid magic
    else dhashFromGray(img.getWidth, img.getHeight, rasterLuma(img))
  }

  /** 64-bit dHash (difference hash, Krawetz's classic perceptual hash):
    * gradient-sign structure survives recompression and resizing, which is
    * what makes dHash the standard cheap image near-dup fingerprint.
    *
    * Payloads with a real image header (PNG/JPEG magic) take the GENUINE
    * pixel path: ImageIO decode → integer luma over raster samples →
    * 9×8 box-average resample → gradient bits ([[dhashFromGray]]). A
    * payload whose header parses but whose body is corrupt yields a NULL
    * hash rather than failing the task — at 100 TB one truncated image
    * must never kill a scan, and a null is honest where a fallback
    * fingerprint would be dangerous: byte-probe hashes of two unrelated
    * corrupt images are byte-similar, so feeding them to the near-dup
    * join would fabricate false pairs ([[perceptualNearDup]] therefore
    * drops nulls before blocking). Non-image payloads use the documented
    * stub grid (byte probes), which the DuckDB oracle replays exactly
    * (`OracleXX.dhashOracle`); decoded-pixel hashes are gated against the
    * render-spec replica oracles (`mm_phash_images`, `mm_phash`) instead,
    * since DuckDB cannot decode images.
    *
    * Runs in `mapPartitions` per the codec contract (decoder state
    * initializable once per partition); payload bytes never leave the
    * stage — the output is `(id, phash LONG nullable)`. Empty payloads
    * hash to 0. */
  def perceptualHash(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.tuple(Encoders.scalaLong, Encoders.LONG)
    df.select("id", "payload")
      .as(Encoders.row(StructType(Seq(
        StructField("id", LongType), StructField("payload", BinaryType)))))
      .mapPartitions { rows =>
        // ImageIO scans for plugin readers per call; disabling the on-disk
        // cache here keeps the per-partition decode loop allocation-only
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val h: java.lang.Long =
            if (bytes == null || bytes.isEmpty) 0L
            else ImageHeader.parse(bytes) match {
              case Some(_) => imageDhashOrNull(bytes)
              case None    => stubDhash(bytes)
            }
          (id, h)
        }
      }.toDF("id", "phash")
  }

  /** The stub-grid dHash (see [[stubGray]]) — byte-probe grid through the
    * same gradient-bit rule. */
  private def stubDhash(bytes: Array[Byte]): Long = {
    var h = 0L
    var rr = 0
    while (rr < 8) {
      var cc = 0
      while (cc < 8) {
        if (stubGray(bytes, rr * 9 + cc) < stubGray(bytes, rr * 9 + cc + 1))
          h |= (1L << (rr * 8 + cc))
        cc += 1
      }
      rr += 1
    }
    h
  }

  // ==== audio fingerprint (spectral-structure near-dup, the dHash twin) ==

  /** 64-bit audio fingerprint over decoded PCM samples — the audio analog
    * of dHash: the clip is cut into 8 equal time segments; per segment,
    * 9 "band" energies are the lag-difference energies
    * `E(t, b) = Σ (x[i] − x[i − 2^b])²` (an integer filterbank: lag-L
    * differencing is a comb filter attenuating content with period L, so
    * the 9 dyadic lags span the spectrum coarse-to-fine without any
    * floating-point FFT); bit `t*8 + b` is set iff `E(t, b) < E(t, b+1)`
    * — the same gradient-sign rule as [[dhashFromGray]], which is what
    * buys the invariances that matter for near-dup:
    *  - amplitude scaling multiplies every E by the same factor —
    *    gradient signs unchanged (exactly, for exact integer scaling);
    *  - polarity inversion leaves every (x[i] − x[i−L])² unchanged —
    *    hamming 0 by construction;
    *  - re-encoding PCM (same samples, new container) is bit-identical.
    * All arithmetic is exact Long integer (max |diff| 65535, squared
    * ~2^32, × segment ≤ 2^15 samples → < 2^47), so the code is a pure
    * function of the sample array and cross-engine replicable. Returns
    * None when fewer than 8 samples exist (no segment grid). */
  def audioFingerprint64(x: Array[Int]): Option[Long] = {
    val segLen = x.length / 8
    if (segLen < 1) return None
    val e = Array.ofDim[Long](8, 9)
    var b = 0
    while (b < 9) {
      val lag = 1 << b
      var i = lag
      val n = segLen * 8
      while (i < n) {
        val d = (x(i) - x(i - lag)).toLong
        e(i / segLen)(b) += d * d
        i += 1
      }
      b += 1
    }
    var h = 0L
    var t = 0
    while (t < 8) {
      var c = 0
      while (c < 8) {
        if (e(t)(c) < e(t)(c + 1)) h |= (1L << (t * 8 + c))
        c += 1
      }
      t += 1
    }
    Some(h)
  }

  /** Render spec for the deterministic real-audio corpus — the audio twin
    * of [[RenderSpec]]: every doc_id maps to a real WAV (synth PCM encoded
    * by the JDK's own `javax.sound` WAVE writer at render time, decoded
    * back byte-level by [[graft.functions.WavHeader.pcmMono16]]). The
    * waveform is a sawtooth `((i·P + Q) mod 65536) − 32768` whose
    * lag-difference energies are pure integer functions of (P, Q) — so
    * the DuckDB oracle replays decode + fingerprint end to end from the
    * formula, no audio stack anywhere (`OracleXX.audioFpOracle`).
    *
    * The sawtooth period changes PER SEGMENT (`mix64(grp*16 + t)`-drawn),
    * so each of the 8 segments carries an independent band-energy sign
    * pattern and unrelated docs land ~32 bits apart — a single global
    * period would repeat one ~8-bit pattern across all segments and
    * collapse the corpus into a few fingerprint classes (observed: 81k
    * spurious near-dup pairs over 500 docs at the first cut).
    *
    * Near-dup structure per 5-doc group: member 0 the base; 1 amplitude
    * floor-halved (scaling invariance, small hamming); 2 one segment
    * replaced with the alt pattern (a re-edited clip — localized drift,
    * moderate hamming, a non-pair at the ≤3 radius); 3 polarity-inverted
    * (hamming 0 BY CONSTRUCTION); 4 independent periods everywhere
    * (negative control). */
  object AudioRenderSpec {
    val SampleRate = 16000
    val N = 1024
    val SegLen = 128   // N / 8 segments
    val GroupSize = 5L
    val Seed = 0x6d6d5f617564696fL // "mm_audio"
    def baseP(grp: Long, t: Int): Long =
      2001L + 2L * Math.floorMod(graft.util.SplitMix64.at(Seed, grp * 16L + t), 1000L)
    def altP(grp: Long, t: Int): Long =
      4001L + 2L * Math.floorMod(graft.util.SplitMix64.at(Seed, grp * 16L + 8L + t), 1000L)
    def q(grp: Long): Long = (grp * 997L) % 65536L
    private def saw(p: Long, qq: Long, i: Long): Int =
      (Math.floorMod(i * p + qq, 65536L) - 32768L).toInt
    def sample(docId: Long, i: Int): Int = {
      val grp = docId / GroupSize
      val member = docId % GroupSize
      val t = i / SegLen
      val p = member match {
        case 4L => altP(grp, t)
        case 2L => if (t == 6) altP(grp, t) else baseP(grp, t)
        case _  => baseP(grp, t)
      }
      val s = saw(p, q(grp), i.toLong)
      member match {
        case 1L => Math.floorDiv(s, 2)
        case 3L => -math.max(s, -32767)
        case _  => s
      }
    }
    /** Expected fingerprint from the formula alone (the spec/oracle
      * replica path, independent of the encode→decode roundtrip). */
    def expectedFingerprint(docId: Long): Long =
      audioFingerprint64(Array.tabulate(N)(i => sample(docId, i))).get
  }

  /** The deterministic real-audio corpus: one REAL WAV per input id
    * (mono 16-bit PCM through the actual `javax.sound` WAVE encoder,
    * once per row inside `mapPartitions`). Output `(id, payload BINARY)`. */
  def renderedAudioPayloads(df: DataFrame, idCol: String): DataFrame = {
    implicit val enc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    spreadIds(df, idCol)
      .as(Encoders.row(StructType(Seq(StructField("id", LongType)))))
      .mapPartitions { rows =>
        import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream}
        val fmt = new AudioFormat(AudioRenderSpec.SampleRate.toFloat, 16, 1,
          /*signed*/ true, /*bigEndian*/ false)
        // resolve the WAVE writer ONCE per partition via the public SPI:
        // AudioSystem.write re-scans the provider registry per call behind
        // a static synchronized accessor, which serializes all executor
        // threads on one JVM-global lock — measured: the 10x scale point
        // ran 2.7x slower PER CLIP than sf0.1 (0.78 s → 20.9 s, a
        // superlinear flag) purely from that contention; the hoist is the
        // same once-per-partition codec-state contract every decode path
        // here follows
        val writer = {
          val it = java.util.ServiceLoader
            .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
          var w: javax.sound.sampled.spi.AudioFileWriter = null
          while (w == null && it.hasNext) {
            val c = it.next()
            if (c.isFileTypeSupported(AudioFileFormat.Type.WAVE)) w = c
          }
          require(w != null, "no WAVE AudioFileWriter provider")
          w
        }
        rows.map { r =>
          val id = r.getLong(0)
          val pcm = new Array[Byte](AudioRenderSpec.N * 2)
          var i = 0
          while (i < AudioRenderSpec.N) {
            val v = AudioRenderSpec.sample(id, i)
            pcm(i * 2) = (v & 0xFF).toByte
            pcm(i * 2 + 1) = ((v >> 8) & 0xFF).toByte
            i += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          writer.write(
            new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt,
              AudioRenderSpec.N.toLong),
            AudioFileFormat.Type.WAVE, bos)
          (id, bos.toByteArray)
        }
      }.toDF("id", "payload")
  }

  /** Fingerprint a binary-payload frame: byte-level WAV decode
    * ([[graft.functions.WavHeader.pcmMono16]] — PCM 16-bit, channels
    * floor-averaged to mono) → [[audioFingerprint64]]. Non-WAV, non-PCM,
    * or too-short payloads yield a NULL fingerprint — row-level
    * degradation, same contract as [[perceptualHash]]. Output
    * `(id, afp LONG nullable)`; bytes never leave the stage. */
  def audioFingerprint(df: DataFrame): DataFrame = {
    implicit val enc = Encoders.tuple(Encoders.scalaLong, Encoders.LONG)
    df.select("id", "payload")
      .as(Encoders.row(StructType(Seq(
        StructField("id", LongType), StructField("payload", BinaryType)))))
      .mapPartitions { rows =>
        rows.map { r =>
          val fp: java.lang.Long =
            graft.functions.WavHeader.pcmMono16(r.getAs[Array[Byte]](1))
              .flatMap(audioFingerprint64) match {
                case Some(h) => h
                case None    => null
              }
          (r.getLong(0), fp)
        }
      }.toDF("id", "afp")
  }

  /** Audio near-duplicates: [[audioFingerprint]] codes through the same
    * pigeonhole hamming join as the image path — decode once to 8 bytes
    * in the scan stage, only fingerprints shuffle, nulls dropped. */
  def audioNearDup(df: DataFrame, maxHamming: Int = 3,
                   maxBucketSize: Long = 4096L,
                   keepAllCandidates: Boolean = false): DataFrame =
    Dedup.hammingPairs64(
      audioFingerprint(df).where(col("afp").isNotNull)
        .select(col("id"), col("afp").as("sh")),
      maxHamming, maxBucketSize, keepAllCandidates)

  // ==== video: real container parse, per-frame dHash, majority fingerprint

  /** 64-bit video fingerprint from per-frame dHashes: bit b is set iff at
    * least half the frames set it (ties → set; pure integer, so the code
    * is a deterministic function of the frame-hash multiset). Majority
    * voting is the locality-preserving combiner: editing one frame of n
    * shifts each bit's count by at most 1, so the video code moves only on
    * bits whose cross-frame vote sat exactly at the threshold — a
    * localized re-edit lands a few bits away while dHash's own invariances
    * (uniform brightness shift) carry over to hamming 0 exactly. (XOR or
    * concatenation would scatter one frame's change across the code.)
    * None for an empty frame list. */
  def videoFingerprint64(frameHashes: Array[Long]): Option[Long] = {
    val n = frameHashes.length
    if (n == 0) return None
    var h = 0L
    var b = 0
    while (b < 64) {
      var cnt = 0
      var i = 0
      while (i < n) { cnt += ((frameHashes(i) >>> b) & 1L).toInt; i += 1 }
      if (2 * cnt >= n) h |= (1L << b)
      b += 1
    }
    Some(h)
  }

  /** Render spec for the deterministic real-video corpus — the video twin
    * of [[RenderSpec]]/[[AudioRenderSpec]]: every doc_id maps to a real
    * single-stream uncompressed AVI ([[graft.functions.AviHeader.write]] —
    * the JDK ships no AVI encoder, so the container writer is ours; the
    * spec compensates with adversarial truncation/fuzz cases and the
    * parser's structural strictness). Frames reuse the image spec's
    * cell geometry: 36×32 px of constant 4×4 blocks with (v,v,v) samples,
    * so each frame's dHash is derivable from pure integer arithmetic the
    * DuckDB oracle replays (`OracleXX.videoFrameDhashOracle`).
    *
    * Frame count varies PER GROUP (6–8 via the mix64 stream) so the meta
    * gate has non-constant content and the majority combiner exercises
    * both parities (even n = tie threshold hit, odd n = strict majority).
    *
    * Near-dup structure per 5-doc group: member 0 the base; 1 one cell
    * bumped in ONE frame (a single-frame edit — the majority vote moves
    * ≤ 2 bits); 2 two cells bumped in TWO frames (a heavier re-edit,
    * moderate drift); 3 uniform +1 brightness on EVERY frame (hamming 0
    * BY CONSTRUCTION — dHash invariance composed with an exact-tie-stable
    * vote); 4 independent patterns (negative control, ~32 bits). */
  object VideoRenderSpec {
    val W = 36
    val H = 32
    val GroupSize = 5L
    val Mod = 200L
    val Lo = 26
    val UsPerFrame = 33333L
    val Seed = 0x6d6d5f766964656fL // "mm_video"
    /** Key space: grp*8192 + f*128 + b with f < 16, b < 72 keeps cell keys
      * collision-free per group; +4096 is the group's frame-count draw
      * (disjoint from every cell key); AltOffset = 2^40 pushes member-4
      * keys past any corpus group id (100× scale = 1e5 groups ≪ 2^40/8192). */
    val AltOffset = 1L << 40

    def nFrames(grp: Long): Int =
      6 + Math.floorMod(graft.util.SplitMix64.at(Seed, grp * 8192L + 4096L), 3L).toInt

    /** Gray value of dHash cell (r, c) in frame `f` of `docId` — the
      * single source of truth for renderer, spec replica, and (transcribed
      * to SQL) the DuckDB oracle. */
    def cellValue(docId: Long, f: Int, r: Int, c: Int): Int = {
      val grp = docId / GroupSize
      val member = docId % GroupSize
      val b = r * 9 + c
      def v0(off: Long): Int =
        (Math.floorMod(graft.util.SplitMix64.at(Seed, grp * 8192L + f * 128L + b + off), Mod) + Lo).toInt
      member match {
        case 1L => v0(0L) + (if (f == 2 && r == 2 && c == 3) 24 else 0)
        case 2L => v0(0L) + (if ((f == 1 || f == 4) &&
                                 ((r == 5 && c == 1) || (r == 6 && c == 7))) 30 else 0)
        case 3L => v0(0L) + 1
        case 4L => v0(AltOffset)
        case _  => v0(0L)
      }
    }

    /** Expected per-frame dHash from the formula alone (independent of the
      * write → parse → DIB-decode → resample pipeline). */
    def expectedFrameDhash(docId: Long, f: Int): Long = {
      var h = 0L
      var r = 0
      while (r < 8) {
        var c = 0
        while (c < 8) {
          if (cellValue(docId, f, r, c) < cellValue(docId, f, r, c + 1))
            h |= (1L << (r * 8 + c))
          c += 1
        }
        r += 1
      }
      h
    }

    def expectedVideoFp(docId: Long): Long = {
      val n = nFrames(docId / GroupSize)
      videoFingerprint64(Array.tabulate(n)(f => expectedFrameDhash(docId, f))).get
    }

    /** The rendered frame grids (row-major top-down, one per frame). */
    def frames(docId: Long): Array[Array[Int]] = {
      val n = nFrames(docId / GroupSize)
      Array.tabulate(n) { f =>
        val g = new Array[Int](W * H)
        var y = 0
        while (y < H) {
          var x = 0
          while (x < W) { g(y * W + x) = cellValue(docId, f, y / 4, x / 4); x += 1 }
          y += 1
        }
        g
      }
    }
  }

  /** The deterministic real-video corpus: one REAL AVI per input id
    * ([[VideoRenderSpec]] frames through [[graft.functions.AviHeader.write]]).
    * `truncateMod > 0` additionally truncates ids with
    * `id % truncateMod == 3` mid-way into their LAST frame chunk — the
    * corrupt-upload rows for the clamp-to-present meta gate (the parser
    * must report one frame fewer, never throw). Output `(id, payload)`. */
  def renderedVideoPayloads(df: DataFrame, idCol: String,
                            truncateMod: Long = 0L): DataFrame = {
    implicit val enc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    spreadIds(df, idCol)
      .as(Encoders.row(StructType(Seq(StructField("id", LongType)))))
      .mapPartitions { rows =>
        import VideoRenderSpec._
        val frameBytes = (((W * 3 + 3) / 4) * 4) * H
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = graft.functions.AviHeader.write(UsPerFrame, W, H, frames(id))
          val out =
            if (truncateMod > 0L && id % truncateMod == 3L)
              java.util.Arrays.copyOf(bytes, bytes.length - frameBytes / 2)
            else bytes
          (id, out)
        }
      }.toDF("id", "payload")
  }

  /** The rendered MOTION-JPEG corpus — the compressed-codec twin of
    * [[renderedVideoPayloads]]: the same [[VideoRenderSpec]] frame grids,
    * each frame encoded by the REAL ImageIO JPEG encoder and wrapped in a
    * 'MJPG' AVI container ([[graft.functions.AviHeader.writeMjpeg]]).
    * Because JPEG is lossy, the decoded frame hashes are spec'd by
    * hamming tolerance (MultimodalSpec), not value-oracled; the gate
    * (`mm_video_mjpeg`) oracles what IS exact — frame counts, decode
    * survival, fingerprint presence.
    *
    * `corruptMod > 0` truncates frame index 2's JPEG stream to an 8-byte
    * SOI-only prefix for ids with `id % corruptMod == 3` (every render
    * group has ≥ 6 frames, so index 2 always exists): a VALID container
    * indexing a broken stream — the decode must drop that one frame and
    * fingerprint the rest, never throw. */
  def renderedMjpegPayloads(df: DataFrame, idCol: String,
                            corruptMod: Long = 0L): DataFrame = {
    implicit val enc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    spreadIds(df, idCol)
      .as(Encoders.row(StructType(Seq(StructField("id", LongType)))))
      .mapPartitions { rows =>
        import VideoRenderSpec._
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val id = r.getLong(0)
          val jpegs = frames(id).zipWithIndex.map { case (g, f) =>
            val img = new java.awt.image.BufferedImage(
              W, H, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < H) {
              var x = 0
              while (x < W) {
                val v = g(y * W + x)
                img.setRGB(x, y, (v << 16) | (v << 8) | v | 0xff000000)
                x += 1
              }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "jpg", bos)
            val full = bos.toByteArray
            if (corruptMod > 0L && id % corruptMod == 3L && f == 2)
              java.util.Arrays.copyOf(full, math.min(8, full.length))
            else full
          }
          (id, graft.functions.AviHeader.writeMjpeg(UsPerFrame, W, H, jpegs))
        }
      }.toDF("id", "payload")
  }

  /** Parsed AVI container row; see `mm_video_meta`. */
  final case class VideoMetaRow(id: Long, width: Int, height: Int,
                                us_per_frame: Long, n_frames_declared: Long,
                                n_frames_present: Int)

  /** Container-metadata decode over video payloads: the avih header's
    * frame period / declared count / dimensions plus the frame chunks
    * ACTUALLY fully present — `n_frames_present < n_frames_declared` is
    * the truncated-upload signature (clamp-to-present policy, the video
    * analog of WavHeader's data clamp). Unparseable payloads contribute
    * no rows; bytes never leave the scan stage. */
  def videoMeta(df: DataFrame): Dataset[VideoMetaRow] = {
    implicit val enc = Encoders.product[VideoMetaRow]
    df.select("id", "payload")
      .as(Encoders.row(StructType(Seq(
        StructField("id", LongType), StructField("payload", BinaryType)))))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          graft.functions.AviHeader.parse(r.getAs[Array[Byte]](1)).map(a =>
            VideoMetaRow(r.getLong(0), a.width, a.height, a.usPerFrame,
                         a.declaredFrames, a.framesPresent))
        }
      }
  }

  /** Per-frame dHashes of one parsed video, codec-dispatched: "rgb24"
    * frames through the pure bottom-up BGR DIB decode ([[graft.functions
    * .AviHeader.frameGray]]); "mjpg" frames through the REAL ImageIO JPEG
    * decoder (each `00dc` chunk is a standalone JPEG stream). A frame
    * that fails to decode — a truncated or corrupt JPEG mid-container —
    * is DROPPED, never a thrown task failure (the row-level decode-fault
    * contract, here at frame granularity); surviving hashes keep their
    * original frame indices. Callers are inside `mapPartitions` with
    * `ImageIO.setUseCache(false)` already applied. */
  private def decodedFrameHashes(
      bytes: Array[Byte],
      info: graft.functions.AviHeader.AviInfo): IndexedSeq[(Int, Long)] =
    info.codec match {
      case "rgb24" =>
        (0 until info.framesPresent).flatMap(f =>
          graft.functions.AviHeader.frameGray(bytes, info, f).map(g =>
            (f, dhashFromGray(info.width, info.height, g))))
      case "mjpg" =>
        (0 until info.framesPresent).flatMap { f =>
          val fr = info.frames(f)
          val img = try javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes, fr.offset, fr.size))
            catch { case scala.util.control.NonFatal(_) => null }
          if (img == null || img.getWidth < 1 || img.getHeight < 1) None
          else Some((f, dhashFromGray(img.getWidth, img.getHeight,
                                      rasterLuma(img))))
        }
      case _ => IndexedSeq.empty
    }

  /** Per-frame perceptual hashes over GENUINELY parsed + decoded video
    * payloads: AVI container walk ([[graft.functions.AviHeader]]) → per
    * present frame, codec-dispatched pixel decode (pure DIB for rgb24,
    * real ImageIO for mjpg) → integer BT.601 luma → the shared
    * [[dhashFromGray]] resample kernel. Output `(id, frame_idx, fhash)`;
    * unparseable payloads and undecodable frames contribute no rows
    * (row-level degradation — the decode-fault contract), bytes never
    * leave the scan stage. */
  def videoFrameHashes(df: DataFrame): DataFrame = {
    implicit val enc =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt, Encoders.scalaLong)
    df.select("id", "payload")
      .as(Encoders.row(StructType(Seq(
        StructField("id", LongType), StructField("payload", BinaryType)))))
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.flatMap { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          graft.functions.AviHeader.parse(bytes).toSeq.flatMap(info =>
            decodedFrameHashes(bytes, info).map { case (f, h) => (id, f, h) })
        }
      }.toDF("id", "frame_idx", "fhash")
  }

  /** Typed decode-QA row; see [[videoDecodeReport]]. */
  final case class VideoDecodeRow(id: Long, codec: String,
                                  n_frames_present: Int,
                                  n_frames_decoded: Int,
                                  vfp: Option[Long])

  /** One-scan video decode report — container parse, per-frame decode
    * count, and the majority fingerprint, all from a SINGLE pass over the
    * payload (the ingest-QA shape: at 100 TB you never decode twice to
    * learn "how many frames survived" and "what is the fingerprint").
    * Unparseable payloads report codec "unparsed" with zero counts and a
    * null fingerprint — a report row, never a dropped row or a task
    * kill. */
  def videoDecodeReport(df: DataFrame): Dataset[VideoDecodeRow] = {
    implicit val enc = Encoders.product[VideoDecodeRow]
    df.select("id", "payload")
      .as(Encoders.row(StructType(Seq(
        StructField("id", LongType), StructField("payload", BinaryType)))))
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          graft.functions.AviHeader.parse(bytes) match {
            case None =>
              VideoDecodeRow(id, "unparsed", 0, 0, None)
            case Some(info) =>
              val hs = decodedFrameHashes(bytes, info)
              VideoDecodeRow(id, info.codec, info.framesPresent, hs.length,
                             videoFingerprint64(hs.map(_._2).toArray))
          }
        }
      }
  }

  /** 64-bit video fingerprint per payload: parse → per-frame dHash →
    * [[videoFingerprint64]] majority combine, all inside one scan stage.
    * NULL when the container fails to parse or holds no full frame —
    * same contract as [[perceptualHash]]/[[audioFingerprint]]. */
  def videoFingerprint(df: DataFrame): DataFrame = {
    implicit val enc = Encoders.tuple(Encoders.scalaLong, Encoders.LONG)
    df.select("id", "payload")
      .as(Encoders.row(StructType(Seq(
        StructField("id", LongType), StructField("payload", BinaryType)))))
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]](1)
          val fp: java.lang.Long = graft.functions.AviHeader.parse(bytes)
            .flatMap(info =>
              videoFingerprint64(decodedFrameHashes(bytes, info)
                .map(_._2).toArray)) match {
              case Some(h) => h
              case None    => null
            }
          (r.getLong(0), fp)
        }
      }.toDF("id", "vfp")
  }

  /** Shared-frame (clip/scene reuse) detection — the video analog of the
    * winnow-overlap report: pairs of videos sharing at least `minShared`
    * EXACT per-frame dHashes, frame-position independent (a re-cut that
    * reorders or trims scenes still pairs), with per-pair shared counts
    * and containment (`shared / min(nA, nB)` as integer ppm — exact,
    * cross-engine). Where [[videoNearDup]] asks "is the WHOLE video a
    * near-duplicate", this asks "do these videos REUSE material".
    *
    * Scale shape = the inverted-index join family (`ngramJaccardPairs`):
    * payloads decode once to slim `(id, fhash)` postings in the scan
    * stage, a doc-frequency window prunes pathological frames (test
    * cards, black frames — the stopword-shingle analog, `maxFrameFreq`),
    * the equi-join is bounded by shared-frame pairs (never n²), and the
    * frame-count table re-joins onto the small pair set. */
  def videoSharedFrames(df: DataFrame, minShared: Int = 2,
                        maxFrameFreq: Long = 4096L): DataFrame = Materialize.scope {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    // reused by the posting join (twice) and the counts
    val fh = Materialize.persist(
      videoFrameHashes(df).select(col("id"), col("fhash")).distinct())
    val counts = fh.groupBy("id").agg(count(lit(1)).as("n"))
    val posting = fh
      .withColumn("__df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fhash"))))
      .where(col("__df") <= maxFrameFreq).drop("__df")
    val pairs = posting.as("a").join(posting.as("b"),
        col("a.fhash") === col("b.fhash") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared_frames"))
      .where(col("shared_frames") >= minShared)
    Materialize.result(pairs
      .join(counts.select(col("id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(counts.select(col("id").as("id_b"), col("n").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("shared_frames"),
        col("n_a"), col("n_b"),
        // integer DIV: Spark's `/` on longs is a double divide; ppm must
        // stay exact-integer for the cross-engine hash
        expr("shared_frames * 1000000L DIV least(n_a, n_b)")
          .as("containment_ppm")))
  }

  /** Video near-duplicates: majority fingerprints through the same
    * pigeonhole hamming join as the image/audio paths — one container
    * parse + frame decode per payload in the scan stage, only 8-byte
    * codes shuffle, nulls dropped. */
  def videoNearDup(df: DataFrame, maxHamming: Int = 3,
                   maxBucketSize: Long = 4096L,
                   keepAllCandidates: Boolean = false): DataFrame =
    Dedup.hammingPairs64(
      videoFingerprint(df).where(col("vfp").isNotNull)
        .select(col("id"), col("vfp").as("sh")),
      maxHamming, maxBucketSize, keepAllCandidates)

  // ==== format sniffing (the ingest router) ==============================

  /** Magic-byte format classification of an opaque payload — the decision
    * every multimodal ingest makes before routing bytes to a decoder.
    * Header-level by design: a truncated PNG sniffs as `png` (the decode
    * stage owns the corrupt-body NULL contract, see [[perceptualHash]]).
    * Containers use the real parsers (so `wav`/`avi` mean "the chunk walk
    * accepts it", not just 4 magic bytes); `gzip` is the RFC 1952 magic;
    * `text` means strictly valid UTF-8; anything else is `binary`.
    * A pure function of the bytes — classification is reproducible across
    * engines and runs. */
  def sniffKind(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.isEmpty) return "empty"
    ImageHeader.parse(bytes) match {
      case Some(info) => info.format // "png" / "jpeg"
      case None =>
        if (graft.functions.WavHeader.parse(bytes).isDefined) "wav"
        else if (graft.functions.AviHeader.parse(bytes).isDefined) "avi"
        else if (bytes.length >= 2 && (bytes(0) & 0xFF) == 0x1f &&
                 (bytes(1) & 0xFF) == 0x8b) "gzip"
        else {
          val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
          try { dec.decode(java.nio.ByteBuffer.wrap(bytes)); "text" }
          catch { case _: java.nio.charset.CharacterCodingException => "binary" }
        }
    }
  }

  /** Classify every payload: `(id, payload)` → `(id, kind)`; one scan,
    * bytes never leave the stage. */
  def sniff(df: DataFrame): DataFrame = {
    implicit val enc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING)
    df.select("id", "payload")
      .as(Encoders.row(StructType(Seq(
        StructField("id", LongType), StructField("payload", BinaryType)))))
      .mapPartitions(rows => rows.map(r =>
        (r.getLong(0), sniffKind(r.getAs[Array[Byte]](1)))))
      .toDF("id", "kind")
  }

  /** Mixed-format corpus for the sniff gate: per id (mod 7) a real PNG,
    * real JPEG, real WAV (javax.sound), real AVI, RFC 1952 gzip stream,
    * plain UTF-8 text bytes, or a deliberately non-UTF-8 byte string —
    * every class through its REAL encoder, so the gate proves each parser
    * accepts its own format and rejects the others' at corpus scale. */
  def renderedSniffPayloads(df: DataFrame, idCol: String): DataFrame = {
    implicit val enc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    spreadIds(df, idCol)
      .as(Encoders.row(StructType(Seq(StructField("id", LongType)))))
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream}
        // once-per-partition WAVE writer via the public SPI — never
        // AudioSystem.write, whose static synchronized registry re-scan
        // serializes all executor threads (the measured superlinear flag
        // renderedAudioPayloads documents)
        lazy val wavWriter = {
          val it = java.util.ServiceLoader
            .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
          var w: javax.sound.sampled.spi.AudioFileWriter = null
          while (w == null && it.hasNext) {
            val c = it.next()
            if (c.isFileTypeSupported(AudioFileFormat.Type.WAVE)) w = c
          }
          require(w != null, "no WAVE AudioFileWriter provider")
          w
        }
        rows.map { r =>
          val id = r.getLong(0)
          val payload: Array[Byte] = (id % 7L) match {
            case 0L | 1L =>
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(renderSpecImage(id),
                if (id % 7L == 0L) "png" else "jpg", bos)
              bos.toByteArray
            case 2L =>
              // a small real WAV: 64 samples of the audio render spec
              // through the hoisted javax.sound writer
              val fmt = new AudioFormat(16000f, 16, 1, true, false)
              val pcm = new Array[Byte](128)
              var i = 0
              while (i < 64) {
                val v = AudioRenderSpec.sample(id, i)
                pcm(i * 2) = (v & 0xFF).toByte
                pcm(i * 2 + 1) = ((v >> 8) & 0xFF).toByte
                i += 1
              }
              val bos = new java.io.ByteArrayOutputStream()
              wavWriter.write(
                new AudioInputStream(new java.io.ByteArrayInputStream(pcm),
                  fmt, 64L), AudioFileFormat.Type.WAVE, bos)
              bos.toByteArray
            case 3L =>
              graft.functions.AviHeader.write(VideoRenderSpec.UsPerFrame,
                VideoRenderSpec.W, VideoRenderSpec.H,
                VideoRenderSpec.frames(id).take(1))
            case 4L =>
              val bos = new java.io.ByteArrayOutputStream()
              val gz = new java.util.zip.GZIPOutputStream(bos)
              gz.write(s"doc $id".getBytes("UTF-8")); gz.close()
              bos.toByteArray
            case 5L => s"plain text doc $id".getBytes("UTF-8")
            case _  => Array[Byte](0x7f, -1 /*0xFF: never valid UTF-8*/ ,
                                   0x41, (id % 251L).toByte)
          }
          (id, payload)
        }
      }.toDF("id", "payload")
  }

  // ==== the composed multimodal ingest DAG ================================

  /** Mixed-modality corpus for the composed ingest gates: modality by
    * `(id DIV 5) % 4` so every 5-doc render group is single-modality and
    * the per-modality near-dup structure (hamming-0 twins, small-hamming
    * edits, negative controls) survives the mix —
    *   0 → a real PNG ([[RenderSpec]], ImageIO-encoded; ids with
    *       `id % 17 == 5` truncated to 26 bytes: valid magic + IHDR,
    *       corrupt body — must decode to a NULL fingerprint);
    *   1 → a real WAV ([[AudioRenderSpec]], the `javax.sound` encoder);
    *   2 → a real uncompressed AVI ([[VideoRenderSpec]]);
    *   3 → plain UTF-8 text bytes (no media decode — the pass-through
    *       class every real ingest carries).
    * Every class through its REAL encoder; each modality's fingerprint
    * formula oracle applies verbatim to its id subset. */
  def renderedIngestPayloads(df: DataFrame, idCol: String): DataFrame = {
    implicit val enc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    spreadIds(df, idCol)
      .as(Encoders.row(StructType(Seq(StructField("id", LongType)))))
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream}
        // once-per-partition WAVE writer via the public SPI (the measured
        // AudioSystem.write provider-lock superlinearity — see
        // renderedAudioPayloads)
        lazy val wavWriter = {
          val it = java.util.ServiceLoader
            .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
          var w: javax.sound.sampled.spi.AudioFileWriter = null
          while (w == null && it.hasNext) {
            val c = it.next()
            if (c.isFileTypeSupported(AudioFileFormat.Type.WAVE)) w = c
          }
          require(w != null, "no WAVE AudioFileWriter provider")
          w
        }
        lazy val wavFmt = new AudioFormat(
          AudioRenderSpec.SampleRate.toFloat, 16, 1, true, false)
        rows.map { r =>
          val id = r.getLong(0)
          val payload: Array[Byte] = ((id / 5L) % 4L) match {
            case 0L =>
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(renderSpecImage(id), "png", bos)
              val full = bos.toByteArray
              if (id % 17L == 5L) java.util.Arrays.copyOf(full, 26) else full
            case 1L =>
              val pcm = new Array[Byte](AudioRenderSpec.N * 2)
              var i = 0
              while (i < AudioRenderSpec.N) {
                val v = AudioRenderSpec.sample(id, i)
                pcm(i * 2) = (v & 0xFF).toByte
                pcm(i * 2 + 1) = ((v >> 8) & 0xFF).toByte
                i += 1
              }
              val bos = new java.io.ByteArrayOutputStream()
              wavWriter.write(
                new AudioInputStream(new java.io.ByteArrayInputStream(pcm),
                  wavFmt, AudioRenderSpec.N.toLong),
                AudioFileFormat.Type.WAVE, bos)
              bos.toByteArray
            case 2L =>
              graft.functions.AviHeader.write(VideoRenderSpec.UsPerFrame,
                VideoRenderSpec.W, VideoRenderSpec.H,
                VideoRenderSpec.frames(id))
            case _ =>
              s"plain text document $id payload".getBytes("UTF-8")
          }
          (id, payload)
        }
      }.toDF("id", "payload")
  }

  /** Routed per-payload fingerprint row; see [[ingestFingerprints]]. */
  final case class IngestFp(id: Long, kind: String, family: String,
                            fp: Option[Long])

  /** The single-scan heart of the composed ingest DAG: per payload, ONE
    * pass that sniffs the format ([[sniffKind]] — the real router, not id
    * arithmetic), dispatches to the matching decoder, and emits the
    * modality fingerprint — `(id, kind, family, fp)`, with the payload
    * bytes never leaving the stage:
    *   png/jpeg → ImageIO decode → dHash          (family "image")
    *   wav      → byte-level PCM → lag-energy fp  (family "audio")
    *   avi      → container walk → frame dHashes → majority fp ("video")
    *   text/gzip/binary/empty → no decode, NULL fp (family "other")
    * A payload that ROUTES but fails to DECODE (corrupt body behind a
    * valid magic) is a NULL fingerprint in its family — row-level
    * degradation, the contract every per-modality operator keeps.
    *
    * `decodeCounter`, when supplied, increments once per payload VISITED —
    * the decode-once proof: the composed pipeline's specs assert it lands
    * exactly on the corpus row count, i.e. no branch of the DAG re-reads
    * payload bytes. */
  def ingestFingerprints(df: DataFrame,
                         decodeCounter: Option[org.apache.spark.util.LongAccumulator] = None): Dataset[IngestFp] = {
    implicit val enc = Encoders.product[IngestFp]
    df.select("id", "payload")
      .as(Encoders.row(StructType(Seq(
        StructField("id", LongType), StructField("payload", BinaryType)))))
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          decodeCounter.foreach(_.add(1L))
          val kind = sniffKind(bytes)
          val (family, fp) = kind match {
            case "png" | "jpeg" =>
              ("image", Option(imageDhashOrNull(bytes)).map(_.longValue))
            case "wav" =>
              ("audio", graft.functions.WavHeader.pcmMono16(bytes)
                .flatMap(audioFingerprint64))
            case "avi" =>
              ("video", graft.functions.AviHeader.parse(bytes).flatMap(info =>
                videoFingerprint64(decodedFrameHashes(bytes, info)
                  .map(_._2).toArray)))
            case _ => ("other", None)
          }
          IngestFp(id, kind, family, fp)
        }
      }
  }

  /** The COMPOSED multimodal ingest pipeline, assembled as one dataflow —
    * source → router → per-modality decode → unified near-dup → curation
    * data-card (the shape the reference wires at
    * core/src/main/scala/atiesh/server/AtieshServer.scala:116-164, where
    * sources, interceptor chains, and sinks become ONE running graph):
    *
    *   (id, payload) ── ingestFingerprints ──► slim (id, kind, family, fp)
    *        │ one scan, decode ONCE                 │ persisted — feeds
    *        ▼                                       ▼ every branch below
    *   [family-keyed pigeonhole near-dup]   [per-family decode counts]
    *        └──────────────┬────────────────────────┘
    *                       ▼
    *        data-card: family, n_docs, n_decoded, n_null,
    *                   n_pairs, n_docs_paired
    *
    * Returns (card, pairs). The payload scan runs ONCE: everything past
    * [[ingestFingerprints]] reads the persisted 25-byte projection, the
    * near-dup is a single grouped join ([[Dedup.hammingPairs64Keyed]] —
    * one shuffle for all three modalities, group inside the bucket key),
    * and the card aggregates the materialized pair table. At 100 TB the
    * payload scan is the only stage that touches bytes; its output is
    * ~10⁻⁶ of the input and everything downstream is exchange-light. */
  def ingestPipeline(df: DataFrame, maxHamming: Int = 3,
                     maxBucketSize: Long = 4096L,
                     decodeCounter: Option[org.apache.spark.util.LongAccumulator] = None): (DataFrame, DataFrame) = Materialize.scope {
    val fp = Materialize.persist(ingestFingerprints(df, decodeCounter).toDF())
    val pairs = Dedup.hammingPairs64Keyed(
      fp.where(col("fp").isNotNull)
        .select(col("id"), col("fp").as("sh"), col("family").as("grp")),
      maxHamming, maxBucketSize)
    val base = fp.groupBy("family").agg(
      count(lit(1)).as("n_docs"),
      count(col("fp")).as("n_decoded"),
      (count(lit(1)) - count(col("fp"))).as("n_null"))
    val pc = pairs.groupBy(col("grp").as("family"))
      .agg(count(lit(1)).as("n_pairs"))
    val pd = pairs.select(col("grp").as("family"), col("id_a").as("id"))
      .unionByName(pairs.select(col("grp").as("family"), col("id_b").as("id")))
      .distinct()
      .groupBy("family").agg(count(lit(1)).as("n_docs_paired"))
    val card = base
      .join(pc, Seq("family"), "left")
      .join(pd, Seq("family"), "left")
      .select(col("family"), col("n_docs"), col("n_decoded"), col("n_null"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_paired"), lit(0L)).as("n_docs_paired"))
    // pairs is already the keyed join's result, so it is handed on as is
    (Materialize.result(card), Materialize.result(pairs))
  }

  /** Image near-duplicates: [[perceptualHash]] fingerprints fed through
    * the same pigeonhole hamming join the simhash dedup path uses
    * ([[Dedup.hammingPairs64]] — fragment-equality blocking, recall-
    * lossless for `hamming <= maxHamming`, skew-capped buckets, never
    * all-pairs). Undecodable payloads (null hash) are dropped before
    * blocking — a decode failure must not fabricate pairs. The 100 TB
    * shape: payloads are decoded once in the scan stage into 8-byte
    * fingerprints; only fingerprints shuffle. */
  def perceptualNearDup(df: DataFrame, maxHamming: Int = 3,
                        maxBucketSize: Long = 4096L,
                        keepAllCandidates: Boolean = false): DataFrame =
    Dedup.hammingPairs64(
      perceptualHash(df).where(col("phash").isNotNull)
        .select(col("id"), col("phash").as("sh")),
      maxHamming, maxBucketSize, keepAllCandidates)
}
