package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazily created). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  def sf(name: String): String = s"/root/testdata/sf0.001/$name.parquet"

  /** The executed plans of the Dataset actions and commands `body` runs on
    * this session, in the order they finished. The execution listener bus
    * is asynchronous: a sentinel query after `body` is awaited, and every
    * earlier query's event precedes it. */
  def executedPlans(body: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val sentinel = s"graft_sentinel_${System.nanoTime()}"
    @volatile var done = false
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == sentinel)) done = true
        else seen.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF(sentinel).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!done && System.nanoTime() < deadline) Thread.sleep(20)
      assert(done, "the sentinel query's execution event never arrived")
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  /** Run `body` in the plan-inspection mode: conf
    * `spark.graft.dedup.materialize = none` inside a `Materialize.scope`, so
    * operators return their lazy plans and the scope frees the persists
    * those plans read when it exits. */
  def inspectPlan[T](body: => T): T = {
    spark.conf.set(graft.util.Materialize.ConfKey, "none")
    try graft.util.Materialize.scope(body)
    finally spark.conf.unset(graft.util.Materialize.ConfKey)
  }
}
