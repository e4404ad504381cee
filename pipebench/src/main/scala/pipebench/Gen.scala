package pipebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.util.hashing.MurmurHash3

/** Seeded input generators. The same seed gives byte-identical inputs; the
  * program under test only ever sees the files and requests made here. */
object Gen {
  /** Order-independent 64-bit line hash; sums of it fingerprint a multiset. */
  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x0b7a8a1f).toLong & 0xffffffffL)

  /** Base-26 lowercase rendering of a number. */
  def letters(id: Long): String = {
    val sb = new StringBuilder
    var v = id
    do { sb.append(('a' + (v % 26)).toChar); v /= 26 } while (v > 0)
    sb.reverse.toString
  }

  /** Writes `lines` to `dir/name` and stamps it with modification time
    * `order` seconds after a fixed epoch: the directory source takes files
    * oldest first, so the stamp fixes which batch a file lands in. */
  def writeFile(dir: Path, name: String, lines: Iterator[String], order: Int): Unit = {
    Files.createDirectories(dir)
    val p = dir.resolve(name)
    val w = Files.newBufferedWriter(p, UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    Files.setLastModifiedTime(p, FileTime.fromMillis(1700000000000L + order * 1000L))
  }

  val WordsPerDoc = 40
  val Vocabulary = 512

  /** Document files: `files` × `perFile` lines `id;text`, ids from
    * `firstId`. A doc is a planted near-duplicate with probability 0.2: a
    * copy of an earlier original with 1-3 words replaced (3-shingle Jaccard
    * at least 0.6 against it); every other doc is 40 words drawn from the
    * vocabulary, which no other original comes near. So the survivors are
    * exactly the originals, whichever epoch each duplicate lands in.
    * Returns the original ids. */
  def docFiles(seed: Long, dir: Path, files: Int, perFile: Int, firstId: Long): Set[Long] = {
    val r = new java.util.SplittableRandom(seed * 31337L + firstId)
    val vocab = {
      val v = new java.util.SplittableRandom(seed)
      Array.tabulate(Vocabulary)(i =>
        letters(i.toLong + 26 * 26) + (0 until 3 + v.nextInt(5)).map(_ => ('a' + v.nextInt(26)).toChar).mkString)
    }
    val originals = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[String])]
    (0 until files).foreach { f =>
      val lines = (0 until perFile).map { j =>
        val id = firstId + f.toLong * perFile + j
        val words =
          if (originals.nonEmpty && r.nextInt(5) == 0) {
            val w = originals(r.nextInt(originals.size))._2.clone()
            (0 until 1 + r.nextInt(3)).foreach(_ => w(r.nextInt(WordsPerDoc)) = vocab(r.nextInt(Vocabulary)))
            w
          } else {
            val w = Array.fill(WordsPerDoc)(vocab(r.nextInt(Vocabulary)))
            originals += (id -> w)
            w
          }
        s"$id;${words.mkString(" ")}"
      }
      writeFile(dir, f"docs-$f%05d.txt", lines.iterator, f)
    }
    originals.map(_._1).toSet
  }
}
