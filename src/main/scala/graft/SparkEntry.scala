package graft

import graft.gates.GateRegistry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract: the gate queries and their DuckDB oracles, both views
  * of the one catalogue in [[graft.gates.GateRegistry]]. */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    GateRegistry.all.map(g => g.name -> g.build).toMap

  lazy val oracleSql: Map[String, String] =
    GateRegistry.all.map(g => g.name -> g.oracleSql).toMap
}
