package graft

import graft.operators.Multimodal

import org.apache.spark.sql.functions._
import scala.util.chaining._

/** Audio framing manifest: hand-computed frame grids from the stub PCM
  * sample count (byteLen DIV 2); bytes never reach the operator. */
class MultimodalSpec extends SparkSpec {

  import spark.implicits._

  test("audioFrames: hand-computed window/hop grid; short clips dropped; non-audio ignored") {
    // ascii text -> byteLen == char count; n_samples = byteLen DIV 2
    val docs = Seq(
      (1L, "a" * 200, "audio"), // 100 samples -> frames at 0 and 25
      (2L, "b" * 60, "audio"),  // 30 samples < 64 -> dropped
      (3L, "c" * 400, "video")) // not audio -> ignored
      .toDF("doc_id", "text", "kind")
    val media = Multimodal.withBinaryPayload(docs, "doc_id", "text", col("kind"))
    val out = Multimodal.audioFrames(Multimodal.decodeMeta(media),
        windowSamples = 64, hopSamples = 25)
      .orderBy("id", "frame_idx").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("frame_idx"),
        r.getAs[Long]("start_sample"), r.getAs[Long]("win_samples"),
        r.getAs[Long]("sr"))).toSeq
    assert(out == Seq(
      (1L, 0L, 0L, 64L, 16000L),
      (1L, 1L, 25L, 64L, 16000L)), out.toString)
    // exact fit: n_samples == window -> exactly one frame
    val fit = Seq((7L, "d" * 128, "audio")).toDF("doc_id", "text", "kind")
    val m2 = Multimodal.withBinaryPayload(fit, "doc_id", "text", col("kind"))
    val one = Multimodal.audioFrames(Multimodal.decodeMeta(m2),
      windowSamples = 64, hopSamples = 25).collect()
    assert(one.length == 1 && one.head.getAs[Long]("frame_idx") == 0L)
  }

  test("CohortLtv.perGroup: cohort assigned at first sight and carried; purchases emitted against it") {
    import graft.streaming.CohortLtv
    import org.apache.spark.sql.streaming.TestGroupState
    val wk = 100L
    // batch 1: first sight at ts 150 (cohort 1), one purchase in bucket 2
    val st = TestGroupState.create[CohortLtv.CohortState](
      org.apache.spark.api.java.Optional.empty[CohortLtv.CohortState](),
      org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout(),
      0L, org.apache.spark.api.java.Optional.empty[java.lang.Long]()
        .asInstanceOf[org.apache.spark.api.java.Optional[Long]],
      hasTimedOut = false)
    val b1 = Seq(
      CohortLtv.In(7L, 2L, 250L, "purchase", 500L),
      CohortLtv.In(7L, 1L, 150L, "view", 0L)) // out of order within batch
    val out1 = CohortLtv.perGroup("purchase", wk)(7L, b1.iterator, st).toSeq
    assert(out1 == Seq(
      CohortLtv.Emit(7L, "new", 1L, 1L, 0L),
      CohortLtv.Emit(7L, "buy", 1L, 2L, 500L)), out1.toString)
    // batch 2: NO new emit (state carried), purchase still against cohort 1
    val b2 = Seq(CohortLtv.In(7L, 3L, 420L, "purchase", 300L))
    val out2 = CohortLtv.perGroup("purchase", wk)(7L, b2.iterator, st).toSeq
    assert(out2 == Seq(CohortLtv.Emit(7L, "buy", 1L, 4L, 300L)), out2.toString)
    assert(st.get == CohortLtv.CohortState(1L))
  }

  test("CusumMonitor.perGroup: state carried across batches equals one-shot fold") {
    import graft.streaming.CusumMonitor
    import org.apache.spark.sql.streaming.TestGroupState
    def newState = TestGroupState.create[CusumMonitor.St](
      org.apache.spark.api.java.Optional.empty[CusumMonitor.St](),
      org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout(),
      0L, org.apache.spark.api.java.Optional.empty[java.lang.Long]()
        .asInstanceOf[org.apache.spark.api.java.Optional[Long]],
      hasTimedOut = false)
    // the hand-traced batch fixture: y = [4,4,4,12,12] at target 36q/5
    // is self-calibrating; here use a FIXED target 4q, slackDiv 8:
    // slack = q/2; buckets of 4 events hold both sides at 0; buckets of
    // 12 build S+ = 7.5q (> h=4q -> alarm, reset) then again
    def events(bucket: Long, n: Int) =
      Seq.fill(n)(CusumMonitor.In("A", bucket))
    val q = 1L << 20
    val fold = CusumMonitor.perGroup(4L * q, 8L, 20) _
    // one-shot: all five buckets in one batch
    val oneSt = newState
    val one = fold("A",
      (events(1, 4) ++ events(2, 4) ++ events(3, 4) ++
       events(4, 12) ++ events(5, 12)).iterator, oneSt).toSeq.last
    // split: 3 buckets then 2 — the carried state must give the same end
    val twoSt = newState
    fold("A", (events(1, 4) ++ events(2, 4) ++ events(3, 4)).iterator, twoSt)
    val two = fold("A", (events(4, 12) ++ events(5, 12)).iterator, twoSt)
      .toSeq.last
    assert(one == two, s"$one vs $two")
    assert(one.n_buckets == 5L)
    // y=12 at target 4q, slack q/2: spRaw = 7.5q > 4q -> alarm + reset,
    // twice; never any down alarm
    assert(one.n_up_alarms == 2L && one.n_down_alarms == 0L &&
      one.first_alarm == 4L && one.max_sp_fp == 15L * q / 2, one.toString)
  }

  test("perceptualHash: matches a driver-side dHash transcription; empty payload hashes to 0") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and keeps going"),
      (2L, "the quick brown fox jumps over the lazy dog and keeps going"),
      (3L, "a completely different document body with other content here"),
      (4L, "")).toDF("doc_id", "text")
    val media = Multimodal.withBinaryPayload(docs, "doc_id", "text", "image")
    val got = Multimodal.perceptualHash(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def refHash(text: String): Long = {
      val b = text.getBytes("UTF-8")
      if (b.isEmpty) 0L
      else {
        def g(p: Int) = b(((p * 131 + 7) % b.length + b.length) % b.length) & 0xFF
        (for (r <- 0 until 8; c <- 0 until 8
              if g(r * 9 + c) < g(r * 9 + c + 1))
          yield 1L << (r * 8 + c)).fold(0L)(_ | _)
      }
    }
    assert(got(1L) == refHash("the quick brown fox jumps over the lazy dog and keeps going"))
    assert(got(1L) == got(2L), "identical payloads must hash identically")
    assert(got(1L) != got(3L), "different payloads should differ (64-bit space)")
    assert(got(4L) == 0L, "empty payload must hash to 0")
  }

  // ---- real decoded-pixel dHash (the mm_phash_images path) --------------

  private def phashOf(payloads: Seq[Array[Byte]]): Seq[Long] = {
    val df = payloads.zipWithIndex
      .map { case (b, i) => (i.toLong, b) }.toDF("id", "payload")
    Multimodal.perceptualHash(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
      .pipe(m => payloads.indices.map(i => m(i.toLong)))
  }

  private def fixtureBytes(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("fixtures/images", name))

  private def jpegEncode(img: java.awt.image.BufferedImage,
                         quality: Float): Array[Byte] = {
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val params = w.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    w.setOutput(ios)
    w.write(null, new javax.imageio.IIOImage(img, null, null), params)
    ios.close(); w.dispose()
    bos.toByteArray
  }

  test("perceptualHash: real PNG decode matches the codec-free render-spec replica") {
    // the replica derives the expected hash from the fixture GENERATOR's
    // pixel arithmetic — no ImageIO decode anywhere in the derivation, so
    // agreement proves the engine genuinely decoded the pixels (the same
    // derivation, run in Python, produced the mm_phash_images VALUES oracle)
    def renderLuma(x: Int, y: Int): Int = {
      val v = (x * 37 + y * 101) & 0xffffff
      (299 * ((v >> 16) & 255) + 587 * ((v >> 8) & 255) + 114 * (v & 255)) / 1000
    }
    val got = phashOf(Seq(fixtureBytes("img0_rgb.png"), fixtureBytes("img1_rgba.png")))
    assert(got(0) == Multimodal.dhashFromGray(23, 17, renderLuma),
      "img0_rgb.png decode diverged from the render-spec replica")
    assert(got(1) == Multimodal.dhashFromGray(16, 16, renderLuma),
      "img1_rgba.png decode diverged from the render-spec replica")
    // and the committed oracle constants are that same derivation
    assert(got(0) == 7879695356602505833L && got(1) == -1232109759397829069L)
  }

  /** A photograph-like smooth test image: low-frequency gradients, the
    * content class dHash's recompression invariance is specified for.
    * (The committed fixtures' `(x*37+y*101)&0xffffff` pattern wraps mod
    * 256 every few pixels — adversarial aliasing under JPEG
    * re-quantization that no perceptual hash promises to survive bit-
    * for-bit; measured drift there is pinned separately below.) */
  private def smoothImage(w: Int, h: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val r = 255 * x / (w - 1)
      val g = 255 * y / (h - 1)
      val b = (r + g) / 2
      img.setRGB(x, y, (r << 16) | (g << 8) | b | 0xff000000)
    }
    img
  }

  test("dhashFromGray: invariant to uniform brightness shift — the gradient-sign property") {
    // (sum + c*count)/count = sum/count + c exactly in integer division,
    // so every resampled cell shifts by c and every gradient comparison
    // is unchanged: dHash is brightness-shift invariant BY CONSTRUCTION.
    // This is the actual reason it survives exposure/levels tweaks.
    val rnd = graft.util.SplitMix64.generator(11L)
    for (_ <- 1 to 20) {
      val w = 9 + (rnd().abs % 60).toInt
      val h = 8 + (rnd().abs % 60).toInt
      val base = Array.tabulate(h, w)((y, x) => (rnd().abs % 150).toInt)
      val c = 1 + (rnd().abs % 100).toInt
      val h0 = Multimodal.dhashFromGray(w, h, (x, y) => base(y)(x))
      val h1 = Multimodal.dhashFromGray(w, h, (x, y) => base(y)(x) + c)
      assert(h0 == h1, s"brightness shift +$c changed the hash (${w}x$h)")
    }
  }

  test("perceptualHash: recompressed JPEG lands within hamming 3 — the dHash promise") {
    // the core promise, on the content class it is specified for: encode a
    // smooth image at q=0.9, decode, re-encode at q=0.6 (a much harsher
    // quantization), and the fingerprint must stay within the near-dup
    // radius used by mm_phash_neardup
    val orig = jpegEncode(smoothImage(64, 48), 0.9f)
    val decoded = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(orig))
    val recompressed = jpegEncode(decoded, 0.6f)
    assert(!java.util.Arrays.equals(orig, recompressed),
      "recompression produced identical bytes — test is vacuous")
    val Seq(h0, h1) = phashOf(Seq(orig, recompressed))
    assert(java.lang.Long.bitCount(h0 ^ h1) <= 3,
      s"recompressed JPEG drifted to hamming ${java.lang.Long.bitCount(h0 ^ h1)}")
    // cross-codec: the SAME smooth pixels encoded losslessly (PNG) vs
    // lossily (JPEG) must also stay within the radius
    val pngBos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(smoothImage(64, 48), "png", pngBos)
    val Seq(hp, hj) = phashOf(Seq(pngBos.toByteArray, orig))
    assert(java.lang.Long.bitCount(hp ^ hj) <= 3,
      s"PNG vs JPEG of the same pixels drifted to hamming ${java.lang.Long.bitCount(hp ^ hj)}")
    // the adversarial committed fixtures: high-frequency synthetic pattern
    // drifts a few bits per re-quantization (measured 6-8) but must stay
    // far inside the unrelated-image band (random 64-bit pairs average 32)
    for (name <- Seq("img3_rgb.jpg", "img4_gray.jpg")) {
      val fo = fixtureBytes(name)
      val fimg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(fo))
      val Seq(f0, f1) = phashOf(Seq(fo, jpegEncode(fimg, 0.75f)))
      val d = java.lang.Long.bitCount(f0 ^ f1)
      assert(d <= 12, s"$name: adversarial-pattern drift $d out of band")
    }
  }

  test("rendered corpus: ImageIO decode matches the formula replica for every member; faults yield null") {
    // the at-scale real-pixel gate's property, pinned in-process: render →
    // real PNG encode → real ImageIO decode → luma → resample → gradient
    // must equal RenderSpec.expectedDhash (pure integer formula, no codec,
    // no dhashFromGray — independent arithmetic end to end)
    val ids = (0L until 25L) ++ Seq(1000L, 4999L) // 5 full groups + spot ids
    val df = ids.toDF("doc_id")
    val got = Multimodal.perceptualHash(
        Multimodal.renderedImagePayloads(df, "doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { id =>
      assert(got(id) == Multimodal.RenderSpec.expectedDhash(id),
        s"doc $id: decoded hash diverged from the render-spec formula")
    }
    // member relations inside a group: +1 brightness (member 3) is
    // hamming 0 vs the base; the single-cell bump (member 1) flips <= 2
    // bits; the two-cell bump (member 2) flips <= 4; the independent
    // pattern (member 4) sits far outside the near-dup radius
    for (grp <- 0L until 5L) {
      val base = got(grp * 5L)
      def ham(m: Long) = java.lang.Long.bitCount(base ^ got(grp * 5L + m))
      assert(ham(3L) == 0, s"grp $grp: brightness shift changed the hash")
      assert(ham(1L) <= 2, s"grp $grp: member 1 drifted to hamming ${ham(1L)}")
      assert(ham(2L) <= 4, s"grp $grp: member 2 drifted to hamming ${ham(2L)}")
      assert(ham(4L) >= 10, s"grp $grp: negative control too close (${ham(4L)})")
    }
    // decode-fault path: valid PNG magic + truncated body → NULL hash
    // (row-level degradation, never a task kill), and the mixed corpus
    // marks exactly the id%17==5 rows as faults
    val mixed = Multimodal.renderedMixedPayloads(
      (0L until 40L).toDF("doc_id"), "doc_id")
    val hashes = Multimodal.perceptualHash(mixed)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    (0L until 40L).foreach { id =>
      if (id % 17L == 5L)
        assert(hashes(id).isEmpty, s"fault row $id decoded to ${hashes(id)}")
      else
        assert(hashes(id).nonEmpty, s"row $id failed to decode")
    }
    // jpeg rows of the mixed corpus really went through the lossy codec:
    // close to the PNG twin's hash but through a different encoder
    val jpegIds = (0L until 40L).filter(i => i % 5L == 4L && i % 17L != 5L)
    jpegIds.foreach { id =>
      val d = java.lang.Long.bitCount(
        hashes(id).get ^ Multimodal.RenderSpec.expectedDhash(id))
      assert(d <= 12, s"jpeg row $id drifted to hamming $d from its PNG twin")
    }
    // and near-dup never sees the nulls
    val pairs = Multimodal.perceptualNearDup(mixed, maxHamming = 3).collect()
    pairs.foreach { r =>
      assert(r.getLong(0) % 17L != 5L && r.getLong(1) % 17L != 5L,
        "an undecodable payload leaked into the near-dup join")
    }
  }

  test("rendered video corpus: container decode matches the formula replica; member relations hold") {
    import graft.operators.Multimodal.VideoRenderSpec
    // 5 full groups + spot ids across the frame-count parities (nf 6..8)
    val ids = (0L until 25L) ++ Seq(1000L, 4999L)
    val payloads = Multimodal.renderedVideoPayloads(ids.toDF("doc_id"), "doc_id")
    // per-frame hashes: the real write → RIFF walk → bottom-up BGR decode →
    // luma → resample pipeline must land on the formula's cell arithmetic
    val fh = Multimodal.videoFrameHashes(payloads)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    ids.foreach { id =>
      val nf = VideoRenderSpec.nFrames(id / VideoRenderSpec.GroupSize)
      assert((0 until nf).forall(f => fh.contains((id, f))) &&
             !fh.contains((id, nf)), s"doc $id: wrong frame set")
      (0 until nf).foreach { f =>
        assert(fh((id, f)) == VideoRenderSpec.expectedFrameDhash(id, f),
          s"doc $id frame $f: decoded hash diverged from the render formula")
      }
    }
    // majority fingerprint: engine == independent replica, and the
    // designed member relations
    val vfp = Multimodal.videoFingerprint(payloads)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { id =>
      assert(vfp(id) == VideoRenderSpec.expectedVideoFp(id),
        s"doc $id: fingerprint diverged from the replica")
    }
    for (grp <- 0L until 5L) {
      val base = vfp(grp * 5L)
      def ham(m: Long) = java.lang.Long.bitCount(base ^ vfp(grp * 5L + m))
      // +1 brightness on every frame: per-frame hamming 0 composes with
      // the tie-stable vote to an identical video code
      assert(ham(3L) == 0, s"grp $grp: brightness shift changed the code")
      // a single-frame 1-cell edit moves the vote on <= 2 bits
      assert(ham(1L) <= 2, s"grp $grp: member 1 drifted to ${ham(1L)}")
      // two frames x two cells: <= 4 threshold-crossing bits
      assert(ham(2L) <= 4, s"grp $grp: member 2 drifted to ${ham(2L)}")
      assert(ham(4L) >= 10, s"grp $grp: negative control too close (${ham(4L)})")
    }
    // near-dup never fabricates cross-group pairs at the gate radius on
    // this window, and every group's (0,3) hamming-0 pair is found
    val pairs = Multimodal.videoNearDup(payloads, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    for (grp <- 0L until 5L)
      assert(pairs.get((grp * 5L, grp * 5L + 3L)).contains(0),
        s"grp $grp: the designed hamming-0 pair is missing")
    pairs.keys.foreach { case (a, b) =>
      assert(a / 5L == b / 5L, s"cross-group pair ($a,$b) at radius 3")
    }
    // truncation: the doctored corpus loses exactly the last frame of the
    // id%11==3 rows, and videoMeta reports declared vs present honestly
    val meta = Multimodal.videoMeta(
        Multimodal.renderedVideoPayloads(ids.toDF("doc_id"), "doc_id",
          truncateMod = 11L))
      .collect().map(m => m.id -> m).toMap
    ids.foreach { id =>
      val m = meta(id)
      val nf = VideoRenderSpec.nFrames(id / VideoRenderSpec.GroupSize)
      assert(m.n_frames_declared == nf.toLong)
      assert(m.n_frames_present ==
        (if (id % 11L == 3L) nf - 1 else nf), s"doc $id clamp")
      assert(m.width == 36 && m.height == 32 && m.us_per_frame == 33333L)
    }
  }

  test("videoSharedFrames: reuse pairs by exact frame hash, containment arithmetic, df prune") {
    import graft.operators.Multimodal.VideoRenderSpec
    val ids = (0L until 15L) // 3 render groups
    val payloads = Multimodal.renderedVideoPayloads(ids.toDF("doc_id"), "doc_id")
    val got = Multimodal.videoSharedFrames(payloads, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    for (grp <- 0L until 3L) {
      val nf = VideoRenderSpec.nFrames(grp).toLong
      val base = grp * 5L
      // the +1-brightness twin (member 3) shares EVERY frame hash
      val (s03, na, nb, ppm) = got((base, base + 3L))
      assert(s03 == nf && na == nf && nb == nf && ppm == 1000000L,
        s"grp $grp: brightness twin should share all $nf frames, got $s03/$ppm")
      // the single-frame edit (member 1) shares at least nf - 1
      assert(got((base, base + 1L))._1 >= nf - 1, s"grp $grp member 1")
    }
    // no cross-group pairs (hashes are mix64-driven, disjoint by key
    // space) and the independent member 4 pairs with nothing
    got.keys.foreach { case (a, b) =>
      assert(a / 5L == b / 5L, s"cross-group reuse pair ($a,$b)")
      assert(a % 5L != 4L && b % 5L != 4L, s"negative control paired ($a,$b)")
    }
    // df prune: with maxFrameFreq 1 every posting is pruned -> no pairs
    assert(Multimodal.videoSharedFrames(payloads, minShared = 1,
      maxFrameFreq = 1L).count() == 0L)
  }

  test("ingestPipeline: ONE payload scan feeds every branch — the decode-once accumulator proof") {
    val ids = (0L until 60L).toDF("doc_id") // 12 groups: 3 per modality
    val pay = Multimodal.renderedIngestPayloads(ids, "doc_id")
    val acc = spark.sparkContext.longAccumulator("ingest decodes")
    val (card, pairs) = Multimodal.ingestPipeline(pay, decodeCounter = Some(acc))
    val cardRows = card.collect()
    val pairRows = pairs.collect()
    // the composed DAG's core claim: sniff + decode + fingerprint visit
    // each payload EXACTLY once even though three near-dup branches, the
    // pair table, and the card all consume the result
    assert(acc.value == 60L,
      s"payloads visited ${acc.value} times for 60 docs — a branch re-decoded")
    val byFam = cardRows.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // routing: 3 groups of 5 per modality
    Seq("image", "audio", "video", "other").foreach(f =>
      assert(byFam(f)._1 == 15L, s"$f n_docs ${byFam(f)._1}"))
    // the one corrupt PNG in [0, 60) — image ids are 0-4/20-24/40-44 and
    // id % 17 == 5 hits only 22 — must be the image family's only null
    assert(byFam("image")._3 == 1L && byFam("image")._2 == 14L, "corrupt PNG accounting")
    // text never decodes; media families all pair (render twins)
    assert(byFam("other")._2 == 0L && byFam("other")._4 == 0L)
    assert(pairRows.map(_.getString(0)).toSet == Set("image", "audio", "video"),
      "every media family must contribute near-dup pairs")
    // unified pairs stay within family AND within render group
    pairRows.foreach { r =>
      val (a, b) = (r.getLong(1), r.getLong(2))
      assert(a / 5L == b / 5L, s"cross-group pair ($a,$b)")
    }
  }

  test("rendered MJPEG corpus: real JPEG frame decode within hamming 3; corrupt frame drops, never throws") {
    import graft.operators.Multimodal.VideoRenderSpec
    val ids = (0L until 20L).toDF("doc_id")
    // per-frame proximity: every ImageIO-decoded JPEG frame must land
    // within hamming 3 of the codec-free formula hash, and the MAJORITY
    // must be bit-exact (measured at 50 docs: 75% exact, max ham 3) —
    // lossy-tolerance where PNG is value-exact, same as mm_phash_images
    val fh = Multimodal.videoFrameHashes(
        Multimodal.renderedMjpegPayloads(ids, "doc_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val expectedN = (0L until 20L).map(id =>
      VideoRenderSpec.nFrames(id / 5L)).sum
    assert(fh.size == expectedN, s"expected $expectedN decoded frames, got ${fh.size}")
    val hams = fh.toSeq.map { case ((id, f), h) =>
      java.lang.Long.bitCount(h ^ VideoRenderSpec.expectedFrameDhash(id, f)) }
    assert(hams.max <= 3, s"JPEG decode drifted to hamming ${hams.max}")
    assert(hams.count(_ == 0) * 2 >= hams.size,
      "fewer than half the JPEG frames decoded bit-exact")
    // corrupt-stream handling: a valid container indexing one truncated
    // JPEG — exactly that frame drops from the decoded count, the
    // fingerprint still forms over the rest, and nothing throws
    val rep = Multimodal.videoDecodeReport(
        Multimodal.renderedMjpegPayloads(ids, "doc_id", corruptMod = 9L))
      .collect()
    assert(rep.length == 20 && rep.forall(_.codec == "mjpg"))
    rep.foreach { r =>
      val nf = VideoRenderSpec.nFrames(r.id / 5L)
      val want = if (r.id % 9L == 3L) nf - 1 else nf
      assert(r.n_frames_present == nf, s"id ${r.id} present")
      assert(r.n_frames_decoded == want, s"id ${r.id} decoded")
      assert(r.vfp.nonEmpty, s"id ${r.id} fingerprint")
    }
    // unparseable payloads REPORT (codec 'unparsed'), never vanish
    val junk = Multimodal.videoDecodeReport(
        Seq((99L, "not an avi".getBytes("UTF-8")))
          .toDF("id", "payload")).collect()
    assert(junk.length == 1 && junk.head.codec == "unparsed" &&
           junk.head.vfp.isEmpty && junk.head.n_frames_decoded == 0)
  }

  test("videoSharedFrames: materialize=none releases its postings cache too") {
    // the plan-inspection arm hands its postings cache to the caller's
    // scope, which frees it on exit: repeated calls accumulate nothing
    val payloads = Multimodal.renderedVideoPayloads(
      (0L until 10L).toDF("doc_id"), "doc_id")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    inspectPlan {
      val out = Multimodal.videoSharedFrames(payloads, minShared = 2)
      // the returned plan stays executable inside the scope, over the
      // postings cache the scope now owns
      assert(out.count() > 0L)
      assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty,
        "none-mode call persisted no postings cache for its lazy plan")
    }
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "none-mode call left a live cache entry after its scope closed")
  }

  test("sniffKind: every real encoder's output classified; header-level by design") {
    import graft.operators.Multimodal.sniffKind
    val ids = (0L until 21L) // 3 full mod-7 cycles
    val got = Multimodal.sniff(
        Multimodal.renderedSniffPayloads(ids.toDF("doc_id"), "doc_id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = Seq("png", "jpeg", "wav", "avi", "gzip", "text", "binary")
    ids.foreach { id =>
      assert(got(id) == want((id % 7L).toInt), s"doc $id: ${got(id)}")
    }
    // hand cases: empty, truncated png still sniffs png (header-level —
    // the decode stage owns the corrupt-body contract), plain ascii
    assert(sniffKind(null) == "empty" && sniffKind(Array.emptyByteArray) == "empty")
    val png = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("fixtures/images/img0_rgb.png"))
    assert(sniffKind(java.util.Arrays.copyOf(png, 26)) == "png")
    assert(sniffKind("hello".getBytes("UTF-8")) == "text")
    assert(sniffKind(Array[Byte](0x1f, 0x8b.toByte)) == "gzip")
    assert(sniffKind(Array[Byte](-1, -2)) == "binary")
  }

  test("audioFingerprint64: amplitude/polarity invariances and the re-encode identity") {
    import graft.operators.Multimodal.{audioFingerprint64, AudioRenderSpec}
    def fp(x: Array[Int]) = audioFingerprint64(x).get
    // on the committed real fixtures' genuinely decoded samples AND the
    // render-spec synth — both content classes
    val clips: Seq[Array[Int]] =
      graft.tools.MakeAudioFixtures.spec.map { case (name, _, _, _) =>
        graft.functions.WavHeader.pcmMono16(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("fixtures/audio", name))).get
      } ++ Seq(0L, 7L, 123L).map(id =>
        Array.tabulate(AudioRenderSpec.N)(i => AudioRenderSpec.sample(id, i)))
    clips.foreach { x =>
      val h = fp(x)
      // exact integer amplitude scaling: every energy scales by c^2,
      // every gradient sign unchanged — hamming 0, not just small
      assert(fp(x.map(_ * 2)) == h, "2x amplitude changed the fingerprint")
      assert(fp(x.map(_ * 7)) == h, "7x amplitude changed the fingerprint")
      // polarity inversion: (x[i]-x[j])^2 is sign-blind — hamming 0
      assert(fp(x.map(v => -v)) == h, "polarity inversion changed the fingerprint")
      // floor-halving (lossy rounding): small drift, inside the near-dup radius
      val hHalf = fp(x.map(v => Math.floorDiv(v, 2)))
      assert(java.lang.Long.bitCount(h ^ hHalf) <= 3,
        s"halved amplitude drifted to hamming ${java.lang.Long.bitCount(h ^ hHalf)}")
    }
    // too-short clip: no segment grid -> None, never a throw
    assert(audioFingerprint64(Array(1, 2, 3)).isEmpty)
  }

  test("rendered audio corpus: decode matches the formula replica; re-encode and negation pair at hamming 0") {
    import graft.operators.Multimodal.AudioRenderSpec
    val ids = (0L until 25L) ++ Seq(777L)
    val payloads = Multimodal.renderedAudioPayloads(ids.toDF("doc_id"), "doc_id")
    val got = Multimodal.audioFingerprint(payloads)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { id =>
      assert(got(id) == AudioRenderSpec.expectedFingerprint(id),
        s"doc $id: decoded fingerprint diverged from the formula replica")
    }
    for (grp <- 0L until 5L) {
      val base = got(grp * 5L)
      def ham(m: Long) = java.lang.Long.bitCount(base ^ got(grp * 5L + m))
      assert(ham(3L) == 0, s"grp $grp: polarity inversion drifted (${ham(3L)})")
      assert(ham(1L) <= 3, s"grp $grp: halved member drifted (${ham(1L)})")
      // member 2 replaces one segment: drift is localized to the bits of
      // segments 6 and 7 (lag windows reach back into the edit)
      assert((ham(2L) <= 16) && ((base ^ got(grp * 5L + 2L)) & 0xFFFFFFFFFFFFL) == 0L,
        s"grp $grp: re-edited member drifted outside segments 6-7 (${ham(2L)})")
    }
    // a re-encoded twin (same PCM through the javax.sound encoder again)
    // fingerprints identically — WAV re-encode is lossless
    val once = payloads.where(col("id") === 0L).collect().head.getAs[Array[Byte]]("payload")
    val pcm = graft.functions.WavHeader.pcmMono16(once).get
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val raw = new Array[Byte](pcm.length * 2)
    pcm.indices.foreach { i =>
      raw(i * 2) = (pcm(i) & 0xFF).toByte
      raw(i * 2 + 1) = ((pcm(i) >> 8) & 0xFF).toByte
    }
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(raw),
        new AudioFormat(16000f, 16, 1, true, false), pcm.length.toLong),
      AudioFileFormat.Type.WAVE, bos)
    val twinFp = Multimodal.audioFingerprint(
        Seq((0L, bos.toByteArray)).toDF("id", "payload"))
      .collect().head.getLong(1)
    assert(twinFp == got(0L), "re-encoded twin fingerprint diverged")
    // non-audio payloads yield null, and near-dup never sees them
    val mixed = payloads.unionAll(
      Seq((9999L, "not audio at all".getBytes)).toDF("id", "payload"))
    val nullRow = Multimodal.audioFingerprint(mixed)
      .where(col("id") === 9999L).collect().head
    assert(nullRow.isNullAt(1), "non-audio payload did not yield a null fingerprint")
    val pairs = Multimodal.audioNearDup(mixed, maxHamming = 3).collect()
    assert(pairs.nonEmpty, "no audio near-dup pairs found")
    pairs.foreach { r =>
      assert(r.getLong(0) != 9999L && r.getLong(1) != 9999L)
      assert(r.getInt(2) <= 3)
    }
  }

  test("perceptualNearDup: identical payloads pair at hamming 0; banding is partition-invariant") {
    val base = "some repeated catalog description body number"
    val docs = ((1L to 6L).map(i => (i, s"$base $i unique tail $i")) ++
      Seq((7L, base + " exactly the same"), (8L, base + " exactly the same")))
      .toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      Multimodal.perceptualNearDup(
          Multimodal.withBinaryPayload(df, "doc_id", "text", "image"),
          maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val p = pairs(docs)
    assert(p.contains((7L, 8L, 0)), s"identical payloads not paired: $p")
    assert(p == pairs(docs.repartition(5)), "near-dup set depends on partitioning")
    p.foreach { case (a, b, h) => assert(a < b && h <= 3) }
  }
}
