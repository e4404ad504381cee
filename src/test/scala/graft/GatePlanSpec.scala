package graft

import graft.functions.{MinHashSig, NormText, NormTextKernel, SimHash64}
import graft.gates.GateRegistry

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.CartesianProductExec

/** Plan audit of the whole gate catalogue: every gate's executed plan at
  * sf0.001, and the plans of the actions its build runs, keep two
  * invariants that no single-query `PlanSpec` pin can cover for all gates:
  *  - no cartesian product;
  *  - no graft native text kernel (`NormText` and the kernels over it,
  *    MinHash, SimHash) evaluated in a `Filter` and again in a
  *    `Project`/`Generate` above it over the same input: an inferred or
  *    pushed-down filter that inlines the kernel runs it twice per row (an
  *    inferred `size(shingle_hashes(..)) > 0` below an `explode`, a
  *    zero-overlap filter pushed below `text_topk`'s scoring projection). */
class GatePlanSpec extends SparkSpec {

  private def isKernel(e: Expression): Boolean = e match {
    case _: NormText | _: NormTextKernel | _: MinHashSig | _: SimHash64 => true
    case _ => false
  }

  private def kernels(es: Seq[Expression]): Seq[Expression] =
    es.flatMap(_.collect { case k if isKernel(k) => k.canonicalized }).distinct

  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case other => other.children
  }

  /** Violations of the two invariants in `plan`, its cached relations and
    * its subqueries. */
  private def violations(plan: SparkPlan): Seq[String] = {
    val found = scala.collection.mutable.LinkedHashSet.empty[String]
    val roots = scala.collection.mutable.Queue(plan)
    def walk(p: SparkPlan, above: List[SparkPlan]): Unit = {
      p match {
        case _: CartesianProductExec => found += "CartesianProduct"
        case f: FilterExec =>
          val inFilter = kernels(Seq(f.condition))
          above.foreach { a =>
            val inAbove = a match {
              case pr: ProjectExec => kernels(pr.projectList)
              case g: GenerateExec => kernels(Seq(g.generator))
              case _ => Nil
            }
            inFilter.filter(inAbove.contains).foreach { k =>
              found += s"${k.prettyName} in a Filter and again in the ${a.nodeName} above it"
            }
          }
        case m: InMemoryTableScanExec => roots += m.relation.cachedPlan
        case _ =>
      }
      roots ++= p.subqueries
      children(p).foreach(walk(_, p :: above))
    }
    while (roots.nonEmpty) walk(roots.dequeue(), Nil)
    found.toSeq
  }

  test("every gate plan: no cartesian product, no text kernel evaluated in a Filter and again above it") {
    val t0 = System.nanoTime()
    val dir = "/root/testdata/sf0.001"
    val bad = GateRegistry.all.flatMap { g =>
      val problems =
        try graft.util.Materialize.scope {
          var df: org.apache.spark.sql.DataFrame = null
          val ran = executedPlans { df = g.build(spark, dir) }
          (ran :+ df.queryExecution.executedPlan).flatMap(violations).distinct
        } catch { case e: Exception => Seq(s"build failed: $e") }
      problems.map(v => s"${g.name}: $v")
    }
    info(f"${GateRegistry.all.size} gate plans audited in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
