package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps `src/main`'s entry points to a named set: a one-off debug or
  * measurement main belongs in a spec, a gate or an option of an existing
  * driver. Each allowed `main` is named below with its reason. Needs no
  * Spark session: it reads the sources. */
class EntryPointGuardSpec extends AnyFunSuite {

  import LifecycleGuardSpec.{codeLines, mainSources}

  /** Fully qualified object name → why it is an entry point. */
  private val allowed: Map[String, String] = Map(
    "graft.Verify" ->
      "the correctness driver: runs the gate catalogue and dumps results and oracle SQL",
    "graft.Bench" ->
      "the timing driver: every gate query, steady-state record and per-job debug lines",
    "graft.tools.BenchScale" ->
      "the scale driver: sf0.1 against a factor× corpus, one record per factor",
    "graft.tools.MakeScaleCorpus" ->
      "fixture maker: the deterministic factor× corpus the scale runs read",
    "graft.tools.MakeAudioFixtures" ->
      "fixture maker: the committed WAV fixtures under fixtures/audio",
    "graft.tools.MakeImageFixtures" ->
      "fixture maker: the committed PNG/JPEG fixtures under fixtures/images")

  private val pkg = """^package\s+([\w.]+)""".r
  private val obj = """\bobject\s+(\w+)""".r.unanchored
  private val main = """\bdef\s+main\s*\(|\bextends\s+App\b""".r

  test("src/main declares a main only in the named entry points") {
    // each `def main` (or `extends App`) belongs to the nearest object
    // declared at or above its line
    val mains = for {
      f <- mainSources()
      lines = codeLines(f)
      p = lines.collectFirst { case (_, pkg(name)) => name }.getOrElse("")
      (n, line) <- lines if main.findFirstIn(line).isDefined
      o = lines.takeWhile(_._1 <= n).reverse
        .collectFirst { case (_, obj(name)) => name }.getOrElse(s"<no object>:$f:$n")
    } yield s"$p.$o"
    val unexpected = mains.toSet -- allowed.keySet
    assert(unexpected.isEmpty,
      s"entry points outside the allow-list: ${unexpected.toSeq.sorted.mkString(", ")}; " +
      "fold a one-off check into a spec, a gate or an option of Bench/Verify")
    assert(mains.toSet == allowed.keySet,
      s"stale allow-list entries: ${(allowed.keySet -- mains).toSeq.sorted.mkString(", ")}")
    assert(mains.size == mains.distinct.size, s"an object declares two mains: $mains")
  }
}
