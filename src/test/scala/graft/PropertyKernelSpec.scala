package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{Base64Functions, GzipFunctions, ShingleHashUtil}

/** Property-style tests for the native kernels: deterministic scalacheck
  * generators (fixed seed — reproducible failures) feed each property as
  * ONE DataFrame job rather than a job per sample, so hundreds of cases
  * cost one Spark round-trip. */
class PropertyKernelSpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(seed))

  test("gzip and base64 expressions round-trip arbitrary byte payloads") {
    val bytesGen = Gen.chooseNum(0, 4096).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray))
    val cases = samples(bytesGen, 200, seed = 42L).zipWithIndex
      .map { case (b, i) => (i.toLong, b) }
    val df = spark.createDataFrame(cases).toDF("id", "payload")
    val out = df.select(col("id"), col("payload"),
        GzipFunctions.gunzip(GzipFunctions.gzip(col("payload"))).as("gz_rt"),
        Base64Functions.unb64(Base64Functions.b64(col("payload"))).as("b64_rt"),
        Base64Functions.b64(col("payload")).as("b64"))
      .collect()
    out.foreach { r =>
      val orig = r.getAs[Array[Byte]]("payload")
      assert(java.util.Arrays.equals(orig, r.getAs[Array[Byte]]("gz_rt")),
        s"gzip round-trip broke for id=${r.getLong(0)} (${orig.length} bytes)")
      assert(java.util.Arrays.equals(orig, r.getAs[Array[Byte]]("b64_rt")),
        s"b64 round-trip broke for id=${r.getLong(0)}")
      // the encoding itself must be standard unchunked base64
      assert(r.getAs[String]("b64") ==
        java.util.Base64.getEncoder.encodeToString(orig),
        s"b64 encoding diverges from java.util.Base64 for id=${r.getLong(0)}")
    }
  }

  test("linesWithOffsets: byte offsets index the original buffer for arbitrary line content") {
    // mixed ASCII / multi-byte chars, \n and \r\n terminators, empty lines
    val lineChar = Gen.frequency(
      8 -> Gen.alphaNumChar, 1 -> Gen.const('é'), 1 -> Gen.const('文'))
    val lineGen = Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, lineChar).map(_.mkString))
    val docGen = for {
      lines <- Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, lineGen))
      sep <- Gen.oneOf("\n", "\r\n")
      trail <- Gen.oneOf("", "\n")
    } yield lines.mkString(sep) + (if (lines.nonEmpty) trail else "")
    samples(docGen, 150, seed = 7L).foreach { doc =>
      val bytes = doc.getBytes("UTF-8")
      val arr = graft.functions.LineOffsetUtil.linesWithOffsets(bytes, 0)
      (0 until arr.numElements()).foreach { i =>
        val row = arr.getStruct(i, 3)
        val line = row.getUTF8String(0).toString
        val off = row.getLong(1).toInt
        // the offset must point at the line's own bytes in the buffer
        val lb = line.getBytes("UTF-8")
        assert(off + lb.length <= bytes.length &&
          java.util.Arrays.equals(
            java.util.Arrays.copyOfRange(bytes, off, off + lb.length), lb),
          s"offset $off does not index line ${'"'}$line${'"'} in ${'"'}$doc${'"'}")
        assert(!line.contains("\n") && !line.endsWith("\r"),
          s"terminator leaked into line ${'"'}$line${'"'}")
      }
    }
  }

  test("winnow kernel: coverage, monotone positions, and density for arbitrary token streams") {
    // random word-soup documents over a small vocabulary (forces repeated
    // grams and hash ties — the interesting winnowing cases)
    val docGen = for {
      n <- Gen.chooseNum(0, 120)
      toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "dd", "ee", "fff", "zq"))
    } yield toks.mkString(" ")
    val cases = samples(docGen, 300, seed = 7L)
    cases.foreach { text =>
      val u = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val sel = ShingleHashUtil.winnowFingerprints(u, 3, 4)
      val hs = ShingleHashUtil.positionalShingleHashes(u, 3).toLongArray()
      val k = hs.length
      val rows = (0 until sel.numElements()).map { i =>
        val r = sel.getStruct(i, 2); (r.getInt(0), r.getLong(1))
      }
      if (k == 0) assert(rows.isEmpty, s"no grams but fingerprints: '$text'")
      else {
        val ww = math.min(4, k)
        // selected hashes are the real hashes at their positions
        rows.foreach { case (p, h) => assert(p >= 0 && p < k && hs(p) == h) }
        // strictly increasing positions (the dedup-by-last contract)
        assert(rows.map(_._1) == rows.map(_._1).distinct.sorted)
        // every window contains a selection, and each selection is its
        // window's rightmost minimum for SOME window
        val ps = rows.map(_._1).toSet
        (0 to k - ww).foreach { t =>
          assert((t until t + ww).exists(ps), s"window $t uncovered: '$text'")
        }
        rows.foreach { case (p, h) =>
          val isRightmostMin = (math.max(0, p - ww + 1) to math.min(p, k - ww))
            .exists { t =>
              val win = (t until t + ww)
              win.forall(i => hs(i) > h || (hs(i) == h && i <= p))
            }
          assert(isRightmostMin, s"pos $p not a rightmost window min: '$text'")
        }
        // density: never more selections than windows
        assert(rows.length <= k - ww + 1)
      }
    }
  }

  test("positional shingle hashes: sorted-distinct equals the set representation") {
    val word = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val textGen = Gen.chooseNum(0, 30).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    samples(textGen, 300, seed = 11L).foreach { norm =>
      val u = norm.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val pos = ShingleHashUtil.positionalShingleHashes(u, 3)
      val set = ShingleHashUtil.shingleHashes(u, 3)
      val tokens = norm.split(" ", -1).length
      if (tokens < 3) {
        assert(pos.numElements() == 0,
          s"short text must yield no positional windows: ${'"'}$norm${'"'}")
        assert(set.numElements() == 1, "set form hashes the whole short text")
      } else {
        assert(pos.numElements() == tokens - 2,
          s"expected ${tokens - 2} windows for ${'"'}$norm${'"'}")
        val fromPos = pos.toLongArray().distinct.sorted.toSeq
        val fromSet = set.toLongArray().toSeq
        assert(fromPos == fromSet,
          s"positional and set shingle hashes disagree for ${'"'}$norm${'"'}")
      }
    }
  }

  test("sortedNeighborhoodPairs: equals the driver-side reference on random corpora (3 seeds)") {
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "common", "tail", "words")
    val docGen = Gen.chooseNum(3, 14).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    Seq(7L, 19L, 101L).foreach { seed =>
      val texts = samples(docGen, 40, seed).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val df = spark.createDataFrame(texts).toDF("doc_id", "text")
      val w = 3
      val got = graft.operators.Dedup
        .sortedNeighborhoodPairs(df, "doc_id", "text",
          window = w, keyLen = 24, threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // exactly-once candidates
      assert(got.map(p => (p._1, p._2)).distinct.length == got.length,
        s"seed $seed: duplicate pairs")
      // reference: rank by (key, id), all pairs within w, exact jaccard
      def shingles(t: String) = {
        val tk = t.split(" ").toSeq
        if (tk.length < 3) Set(tk.mkString(" "))
        else tk.sliding(3).map(_.mkString(" ")).toSet
      }
      val ranked = texts.sortBy { case (id, t) => (t.take(24), id) }.zipWithIndex
      val expect = (for {
        ((ida, ta), ra) <- ranked; ((idb, tb), rb) <- ranked
        if rb > ra && rb - ra <= w
        sa = shingles(ta); sb = shingles(tb)
        inter = (sa & sb).size
        j = inter.toDouble / (sa.size + sb.size - inter)
        if j >= 0.3
      } yield (math.min(ida, idb), math.max(ida, idb))).toSet
      assert(got.map(p => (p._1, p._2)).toSet == expect,
        s"seed $seed: engine ${got.length} pairs vs reference ${expect.size}")
    }
  }

  test("ngramNovelty: per-doc accounting matches a driver-side df count (2 seeds)") {
    val wordGen = Gen.oneOf("one", "two", "three", "four", "five", "six",
      "seven", "eight", "nine", "ten")
    val docGen = Gen.chooseNum(3, 10).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    Seq(11L, 23L).foreach { seed =>
      val texts = samples(docGen, 30, seed).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val df = spark.createDataFrame(texts).toDF("doc_id", "text")
      def shingles(t: String) = {
        val tk = t.split(" ").toSeq
        if (tk.length < 3) Set(tk.mkString(" "))
        else tk.sliding(3).map(_.mkString(" ")).toSet
      }
      val sets = texts.map { case (id, t) => id -> shingles(t) }.toMap
      val dfreq = sets.values.flatten.groupBy(identity).map { case (h, xs) => h -> xs.size }
      val got = graft.operators.TextAnalysis.ngramNovelty(df, "doc_id", "text")
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_unique"),
           r.getAs[Long]("novelty_ppm"))).toMap
      sets.foreach { case (id, hs) =>
        val uniq = hs.count(h => dfreq(h) == 1).toLong
        val (gn, gu, gp) = got(id)
        assert(gn == hs.size.toLong && gu == uniq, s"seed $seed doc $id")
        assert(gp == uniq * 1000000L / hs.size, s"seed $seed doc $id ppm")
      }
    }
  }
}
