package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate query: the graft builder over a testdata directory and the
  * DuckDB SQL that must return the same rows over the same tables.
  *
  * Cross-engine determinism rules used throughout (verified empirically):
  *  - money/sum aggregates go through DECIMAL casts (double sums are
  *    order-dependent); counts cast to BIGINT in DuckDB (its SUM(BIGINT)
  *    is HUGEINT);
  *  - integer-ratio outputs use floor() in both engines (Spark's
  *    double→long cast truncates, DuckDB's rounds);
  *  - raw `ts` values never escape (parquet ns vs µs) — epoch millis or
  *    date_trunc only;
  *  - base64 uses graft's basic codec (Spark's builtin is MIME-chunked);
  *  - every query ends in an explicit ORDER BY on a unique key.
  */
final case class GateQuery(name: String, family: String,
    build: (SparkSession, String) => DataFrame, oracleSql: String)

/** The gate catalogue: one `GateQuery` per implemented operator from
  * SURVEY.md §2 (+ the §7-phase-5 training-data operators), declared once
  * in its family's file. `graft.SparkEntry`, Verify, Bench and the tools
  * all read it. */
object GateRegistry {

  /** The gates of `families` in declaration order; refuses a name
    * declared twice. */
  def of(families: Seq[GateQuery]*): Seq[GateQuery] = {
    val gates = families.flatten
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"gate declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    gates
  }

  lazy val all: Seq[GateQuery] = of(
    PipeGates.gates, StreamGates.gates, EventsGates.gates,
    RelationalGates.gates, DedupGates.gates, SimilarityGates.gates,
    TextGates.gates, CurationGates.gates, GraphGates.gates,
    MultimodalGates.gates)

  private lazy val byName: Map[String, GateQuery] = all.map(g => g.name -> g).toMap

  def apply(name: String): GateQuery =
    byName.getOrElse(name, throw new NoSuchElementException(s"no gate query $name"))
}
