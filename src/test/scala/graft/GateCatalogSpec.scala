package graft

import graft.gates.{GateQuery, GateRegistry}
import org.scalatest.funsuite.AnyFunSuite

/** The gate catalogue's own invariants: each gate is declared once, with
  * an oracle, and the driver-contract views in [[SparkEntry]] hold exactly
  * the registry's names. No Spark session: building the registry builds
  * no DataFrame. */
class GateCatalogSpec extends AnyFunSuite {

  private def gate(name: String) =
    GateQuery(name, "test", (_, _) => throw new AssertionError("not built"), "SELECT 1")

  test("the registry refuses a name declared twice") {
    val e = intercept[IllegalArgumentException] {
      GateRegistry.of(Seq(gate("a"), gate("b")), Seq(gate("a")))
    }
    assert(e.getMessage.contains("a"))
    assert(GateRegistry.of(Seq(gate("a")), Seq(gate("b"))).map(_.name) == Seq("a", "b"))
  }

  test("the registry holds exactly 284 unique gate names") {
    val names = GateRegistry.all.map(_.name)
    assert(names.size == 284)
    assert(names.distinct.size == 284)
  }

  test("SparkEntry.queries and SparkEntry.oracleSql are views of the registry names") {
    val names = GateRegistry.all.map(_.name).toSet
    assert(SparkEntry.queries.keySet == names)
    assert(SparkEntry.oracleSql.keySet == names)
    GateRegistry.all.foreach { g =>
      assert(SparkEntry.oracleSql(g.name) == g.oracleSql, g.name)
      assert(SparkEntry.queries(g.name) eq g.build, g.name)
    }
  }

  test("no gate has a blank oracle") {
    val blank = GateRegistry.all.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, blank.mkString(", "))
  }
}
