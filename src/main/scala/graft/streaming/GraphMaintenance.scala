package graft.streaming

import graft.operators.Ann
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** The kNN GRAPH maintained LIVE — fourth of the maintained-structure
  * family (13h vector index, 13k postings, 13m table layout): the
  * WAL's upserts and tombstones keep both the persisted IVF index AND
  * its kNN graph current via [[Ann.knnGraphUpsert]] and
  * [[Ann.knnGraphDelete]] (the hierarchy's maintenance routine over
  * layer 0), whose affected-set recomputation is provably equal to a
  * rebuild (see its doc). Exactly-once needs THREE facts here, not
  * the siblings' two: batches arrive in log order; the cell-wise
  * dynamic partition overwrite is idempotent per batch; and — because
  * the index write and the graph publish are separate steps inside
  * one batch — the durable INTENT MARKER records the pre-write cells
  * before the index changes. Without the marker a foreachBatch
  * replay that lands after the index write but before the graph
  * publish would recompute oldCells from the already-updated index,
  * miss the moved ids' former cells, and permanently strand stale
  * prober edges; with it, the replay merges the recorded cells and
  * is a complete repair (GraphMaintenanceSpec pins this).
  */
object GraphMaintenance {

  /** Attach to a WAL line stream over an existing index + graph pair
    * (bootstrap = batch [[Ann.ivfBuildIndex]] + [[Ann.knnGraphBuild]]
    * of the snapshot). Per micro-batch: LWW-collapse to one winner
    * per id over upserts and tombstones
    * ([[IndexMaintenance.attachWinners]]), then index write + graph
    * repair in one call per op.
    */
  def attach(lines: DataFrame, indexPath: String, graphPath: String,
             checkpoint: String): StreamingQuery =
    IndexMaintenance.attachWinners(lines, checkpoint)(
      Ann.knnGraphUpsert(_, indexPath, graphPath, _),
      Ann.knnGraphDelete(_, indexPath, graphPath, _))
}
