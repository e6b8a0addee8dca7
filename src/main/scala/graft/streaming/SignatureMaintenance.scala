package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The dedup SIGNATURE INDEX maintained LIVE — sixth maintained
  * structure (after the IVF index 13h, postings 13k, layout 13m,
  * kNN graph 13n, and CDC state): a stream of corpus arrivals and
  * tombstones folds into the bucketed signature table per
  * micro-batch, so incremental near-dedup
  * ([[Dedup.incrementalPairsIndexed]]) always joins arriving batches
  * against a CURRENT corpus signature index — the at-rest state that
  * keeps per-arrival dedup work O(batch + collisions) stays correct
  * under continuous ingest without any rebuild.
  *
  * Composition of pieces proven separately (the 13k recipe): the
  * bootstrap is a batch [[Dedup.buildSignatureIndex]] (snapshot-then-
  * tail), each micro-batch routes rows by op — upserts re-band only
  * the batch and rewrite only touched doc-hash buckets with row
  * replacement ([[Dedup.signatureIndexUpsert]] — redelivery replaces
  * its own rows, so foreachBatch retries are safe), tombstones drop
  * their ids' band rows from touched buckets
  * ([[Dedup.signatureIndexDelete]], emptied buckets removed). Within
  * one batch the CROSS-OP winner per id is decided by version before
  * either op applies (the IndexMaintenance LWW routing discipline) —
  * an id upserted then deleted in the same batch must not resurrect.
  */
object SignatureMaintenance {

  /** Fold one micro-batch of (doc_id, text, version, op) log rows
    * into the index — batch-callable for direct testing.
    */
  def fold(indexPath: String)(batch: DataFrame, batchId: Long): Unit =
    foldDocs(batch)(Dedup.signatureIndexUpsert(_, indexPath, _),
      Dedup.signatureIndexDelete(_, indexPath, _))

  /** The document-log fold shared with [[WinnowMaintenance]]: one
    * winner per doc_id by version, then `upsert` with the winning
    * (doc_id, text) rows and `delete` with the tombstoned doc_ids.
    */
  private[streaming] def foldDocs(batch: DataFrame)(
      upsert: (SparkSession, DataFrame) => Unit,
      delete: (SparkSession, DataFrame) => Unit): Unit = {
    if (batch.isEmpty) return
    import org.apache.spark.sql.functions._
    val winner = batch.groupBy("doc_id")
      .agg(max_by(struct(col("text"), col("op")), col("version")).as("w"))
      .select(col("doc_id"), col("w.text").as("text"), col("w.op").as("op"))
      .localCheckpoint(true)
    val ups = winner.where(col("op") =!= "delete").select("doc_id", "text")
    val dels = winner.where(col("op") === "delete").select("doc_id")
    if (!ups.isEmpty) upsert(batch.sparkSession, ups)
    if (!dels.isEmpty) delete(batch.sparkSession, dels)
  }

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
