package graft.streaming

import graft.operators.Ann
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** The reference's recovery loop as a LIVE pipeline: reloadDatabase
  * (reference vector_database.cc:21) replays the WAL into the
  * in-memory index at startup; here the same WAL *streams* into the
  * persisted IVF index while it serves — readStream over the binary
  * segments (the graft-wal source), per-micro-batch LWW collapse,
  * foreachBatch upsert into only the touched cells.
  *
  * Composition of three pieces this repo already proves separately:
  * the admission-controlled WAL source (bounded batches after
  * downtime), WalSource's parse/LWW semantics, and ivfIndexUpsert's
  * touched-cells-only dynamic partition overwrite. Ordering: batches
  * arrive in log order (the stream's offset IS the log position), so
  * a later batch's write wins per id; within a batch the (version,
  * log_id) max_by picks the same winner the sequential reference
  * loop would.
  */
object IndexMaintenance {

  /** WAL upsert rows WITH their vector payloads — the index needs
    * the vectors, unlike the scalar-state replay (WalSource.parse) —
    * and DELETE records, a tombstone carrying an id and no vector
    * (`…|delete|{"id":N}`). Same bounded 4-way split and try_*
    * corruption tolerance.
    */
  def parseOps(lines: DataFrame): DataFrame =
    lines
      .withColumn("p", split(col("line"), "\\|", 4))
      .select(
        try_element_at(col("p"), lit(1)).try_cast("long").as("log_id"),
        try_element_at(col("p"), lit(2)).try_cast("long").as("version"),
        try_element_at(col("p"), lit(3)).as("op"),
        get_json_object(try_element_at(col("p"), lit(4)), "$.id")
          .try_cast("long").as("id"),
        from_json(
          get_json_object(try_element_at(col("p"), lit(4)), "$.vectors"),
          ArrayType(FloatType)).as("vec"))
      .where(col("log_id").isNotNull &&
        col("version").isNotNull && col("id").isNotNull &&
        ((col("op") === "upsert" && col("vec").isNotNull) ||
          col("op") === "delete"))

  /** Attach the maintenance loop to a WAL line stream over an
    * EXISTING index (the bootstrap is a batch ivfBuildIndex of the
    * snapshot — the same snapshot-then-tail split the reference
    * recovery uses). Each micro-batch collapses to one winner per id
    * by (version, log_id) and LWW-upserts into `indexPath`.
    */
  def attach(lines: DataFrame, indexPath: String,
             checkpoint: String): StreamingQuery =
    attachWinners(lines, checkpoint)(Ann.ivfIndexUpsert(_, indexPath, _),
      Ann.ivfIndexDelete(_, indexPath, _))

  /** The WAL maintenance loop shared by the index, graph and hierarchy
    * streams: each micro-batch collapses to ONE winner per id by
    * (version, log_id) over upserts AND tombstones, and the winner's
    * op routes the id to exactly one call — `upsert` with
    * (id, vec, version), `delete` with (id). An id upserted and then
    * deleted inside one batch is only deleted. The two sets are
    * disjoint, so the order of the two calls is immaterial.
    */
  private[streaming] def attachWinners(lines: DataFrame, checkpoint: String)(
      upsert: (SparkSession, DataFrame) => Unit,
      delete: (SparkSession, DataFrame) => Unit): StreamingQuery =
    lines.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val winners = parseOps(batch)
          .groupBy("id")
          .agg(max_by(struct(col("vec"), col("version"), col("op")),
            struct(col("version"), col("log_id"))).as("w"))
          .select(col("id"), col("w.vec").as("vec"),
            col("w.version").as("version"), col("w.op").as("op"))
          .localCheckpoint(true)
        val upserts = winners.where(col("op") === "upsert")
          .select("id", "vec", "version")
        val deletes = winners.where(col("op") === "delete").select("id")
        if (!upserts.isEmpty) upsert(batch.sparkSession, upserts)
        if (!deletes.isEmpty) delete(batch.sparkSession, deletes)
      }
      .start()
}
