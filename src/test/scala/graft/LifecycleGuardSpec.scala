package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps one lifecycle for operator intermediates: outside
  * `graft/util/Materialize.scala`, `src/main` may not persist, cache,
  * checkpoint or unpersist on its own, nor grow a `materialize` flag or
  * read the cut-strategy conf key. Each exception is named below with its
  * reason. Needs no Spark session: it reads the sources. */
class LifecycleGuardSpec extends AnyFunSuite {

  private val home = "graft/util/Materialize.scala"

  private val forbidden: Seq[(String, scala.util.matching.Regex)] = Seq(
    ".persist(" -> """(?<!Materialize)\.persist\(""".r,
    ".cache()" -> """\.cache\(\)""".r,
    "localCheckpoint(" -> """localCheckpoint\(""".r,
    ".checkpoint(" -> """\.checkpoint\(""".r,
    ".unpersist(" -> """\.unpersist\(""".r,
    "materialize: Boolean" -> """materialize: Boolean""".r,
    "spark.graft.dedup.materialize" -> """"spark\.graft\.dedup\.materialize"""".r)

  /** (file suffix, pattern name) → why that one use is not an operator
    * intermediate. */
  private val allowed: Map[(String, String), String] = Map(
    ("graft/sources/CachedSideInput.scala", ".unpersist(") ->
      ("swaps a refreshed side-input BROADCAST; the stale broadcast is " +
       "unpersisted, no Dataset is cached"))

  import LifecycleGuardSpec.{codeLines, mainSources}

  test("src/main has no lifecycle call outside Materialize and the named allow-list") {
    val sources = mainSources()
    assert(sources.exists(_.toString.endsWith(home)))
    val used = scala.collection.mutable.Set.empty[(String, String)]
    val hits = for {
      f <- sources if !f.toString.endsWith(home)
      (n, line) <- codeLines(f)
      (name, re) <- forbidden if re.findFirstIn(line).isDefined
      key = allowed.keys.find { case (sfx, p) => f.toString.endsWith(sfx) && p == name }
      if key.forall(k => { used += k; false })
    } yield s"$f:$n: $name in `${line.trim}`"
    assert(hits.isEmpty,
      "lifecycle calls belong in graft.util.Materialize (scope, persist, cut, " +
      s"release, result):\n${hits.mkString("\n")}")
    assert(used == allowed.keySet,
      s"stale allow-list entries: ${(allowed.keySet -- used).mkString(", ")}")
  }
}

/** The source walk the guard specs share. */
object LifecycleGuardSpec {

  /** Every `.scala` file under `src/main/scala`. */
  def mainSources(): Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
  }

  /** Code lines of `f`, comment lines and trailing `//` comments removed. */
  def codeLines(f: Path): Seq[(Int, String)] =
    Files.readAllLines(f).asScala.zipWithIndex.collect {
      case (l, i) if !Seq("*", "/*", "//").exists(l.trim.startsWith) =>
        (i + 1, l.split(" //", 2).head)
    }.toSeq
}
