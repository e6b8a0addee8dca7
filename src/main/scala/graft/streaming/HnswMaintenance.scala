package graft.streaming

import graft.operators.Ann
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** The PERSISTED HNSW HIERARCHY maintained LIVE — the layered twin of
  * [[GraphMaintenance]] (13h index, 13k postings, 13m layout, 13n
  * base graph): the WAL's upserts and tombstones keep the IVF index
  * AND all five hierarchy layers current via [[Ann.hnswUpsert]] and
  * [[Ann.hnswDelete]], whose per-layer affected-set recomputation is
  * provably equal to a rebuild. The crash-window protocol is inherited unchanged: one
  * durable intent marker covers every layer, because all layers
  * share the batch's touched-cell set and levels are a pure function
  * of id (a replay can never find a node in a different layer than
  * the crashed attempt did).
  */
object HnswMaintenance {

  /** Attach to a WAL line stream over an existing index + hierarchy
    * (bootstrap = batch [[Ann.ivfBuildIndex]] + [[Ann.hnswBuild]] of
    * the snapshot). Per micro-batch: LWW-collapse to one winner per
    * id over upserts and tombstones
    * ([[IndexMaintenance.attachWinners]]), then index write +
    * all-layer repair in one call per op.
    */
  def attach(lines: DataFrame, indexPath: String, hnswPath: String,
             checkpoint: String): StreamingQuery =
    IndexMaintenance.attachWinners(lines, checkpoint)(
      Ann.hnswUpsert(_, indexPath, hnswPath, _),
      Ann.hnswDelete(_, indexPath, hnswPath, _))
}
