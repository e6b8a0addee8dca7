package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** The WINNOWING FINGERPRINT INDEX maintained LIVE — 17th streaming
  * structure, closing the loop the signature index already has
  * (16d): a stream of corpus arrivals and tombstones folds into the
  * bucketed fingerprint table per micro-batch, so incremental
  * positional dedup ([[Dedup.winnowIncremental]]) always joins
  * arriving batches against a CURRENT index under continuous ingest.
  *
  * Identical composition to [[SignatureMaintenance]] (proven pieces,
  * same crash/redelivery story): per micro-batch the CROSS-OP winner
  * per id is decided by version BEFORE either op applies (an id
  * upserted then deleted in one batch must not resurrect), upserts
  * re-fingerprint only the batch and rewrite only touched doc-hash
  * buckets with row replacement, tombstones drop their ids' rows.
  */
object WinnowMaintenance {

  /** Fold one micro-batch of (doc_id, text, version, op) log rows
    * into the index — batch-callable for direct testing.
    */
  def fold(indexPath: String)(batch: DataFrame, batchId: Long): Unit =
    SignatureMaintenance.foldDocs(batch)(Dedup.winnowIndexUpsert(_, indexPath, _),
      Dedup.winnowIndexDelete(_, indexPath, _))

  /** Attach the maintenance loop to a document-log stream over an
    * existing index at `indexPath`.
    */
  def attach(log: DataFrame, indexPath: String,
             checkpoint: String): StreamingQuery =
    log.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(fold(indexPath) _)
      .start()
}
