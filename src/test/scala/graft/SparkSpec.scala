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
