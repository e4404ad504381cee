package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Similarity

/** Live query-serving twin of the persisted-IVF retrieval path
  * (`sim_ivf_indexed`): a STREAM of query vectors probes the bucketed IVF
  * index per micro-batch. The index table was materialized once at corpus
  * refresh (`Similarity.buildIvfIndex` → `Relational.bucketMaterialize` on
  * the cell id), so each batch is the pure serving shape — broadcast the
  * batch's queries, scan only the probed cells of the bucketed table,
  * exact-cosine re-rank — with NO assignment pass over the corpus and NO
  * index-side exchange (the same plan `PlanSpec` pins for the batch row;
  * `probeBatch` is byte-for-byte the function `foreachBatch` runs).
  *
  * This completes the batch/live symmetry the repo maintains for the dedup
  * ingest path (`dedup_incremental_indexed` ↔ `stream_dedup_ingest`): the
  * retrieval index too is now proven under the streaming machinery —
  * checkpointed file source, per-batch probe, append sink.
  *
  * 100 TB shape: the index is the big side and never moves; a micro-batch
  * of queries is small by definition (it broadcasts). Probe cost per batch
  * is O(batch × corpus-fraction-probed), independent of corpus row count
  * beyond the probed cells' size.
  *
  * RESTARTS: the session catalog does not survive the JVM; a resumed
  * serving stream re-registers the index files as a bucketed table via
  * [[graft.operators.GenIndex.register]] (key `cluster`) — NOT a rebuild. */
object IvfProbe {

  /** One micro-batch probe — exactly what the stream executes per batch. */
  def probeBatch(index: DataFrame, queries: DataFrame,
                 queryId: String, queryVec: String,
                 cents: Array[Array[Float]],
                 k: Int, nProbe: Int): DataFrame =
    Similarity.ivfTopKIndexed(index, queries, queryId, queryVec, cents,
      k = k, nProbe = nProbe)

  def start(queries: DataFrame, queryId: String, queryVec: String,
            indexTable: String, cents: Array[Array[Float]],
            outPath: String, checkpoint: String,
            k: Int = 10, nProbe: Int = 4,
            availableNow: Boolean = false): StreamingQuery = {
    Streams.start(queries) { w =>
      val writer = w.outputMode("append").option("checkpointLocation", checkpoint)
      (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          probeBatch(batch.sparkSession.table(indexTable), batch,
              queryId, queryVec, cents, k, nProbe)
            .write.mode("append").parquet(outPath)
          ()
        }
    }
  }
}
