package graft.streaming

import graft.operators.Ann
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The kNN GRAPH maintained LIVE — fourth of the maintained-structure
  * family (13h vector index, 13k postings, 13m table layout): the
  * WAL's upsert stream keeps both the persisted IVF index AND its
  * kNN graph current via [[Ann.knnGraphUpsert]] (the hierarchy's
  * maintenance routine over layer 0), whose affected-set
  * recomputation is provably equal to a rebuild (see its doc).
  * Exactly-once needs THREE facts here, not the siblings' two:
  * batches arrive in log order; the cell-wise dynamic partition
  * overwrite is idempotent per batch; and — because the index upsert
  * and the graph publish are separate steps inside one batch —
  * knnGraphUpsert's durable INTENT MARKER records the pre-upsert
  * cells before the index changes. Without the marker a foreachBatch
  * replay that lands after the index upsert but before the graph
  * publish would recompute oldCells from the already-updated index,
  * miss the moved ids' former cells, and permanently strand stale
  * prober edges; with it, the replay merges the recorded cells and
  * is a complete repair (GraphMaintenanceSpec pins this).
  */
object GraphMaintenance {

  /** Attach to a WAL line stream over an existing index + graph pair
    * (bootstrap = batch [[Ann.ivfBuildIndex]] + [[Ann.knnGraphBuild]]
    * of the snapshot). Per micro-batch: LWW-collapse to one winner
    * per id, then index upsert + graph repair in one call.
    */
  def attach(lines: DataFrame, indexPath: String, graphPath: String,
             checkpoint: String): StreamingQuery =
    lines.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val upserts = IndexMaintenance.parseVectors(batch)
          .groupBy("id")
          .agg(max_by(struct(col("vec"), col("version")),
            struct(col("version"), col("log_id"))).as("w"))
          .select(col("id"), col("w.vec").as("vec"),
            col("w.version").as("version"))
        if (!upserts.isEmpty)
          Ann.knnGraphUpsert(batch.sparkSession, indexPath, graphPath,
            upserts)
      }
      .start()
}
