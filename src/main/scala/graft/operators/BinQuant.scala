package graft.operators

import graft.Tables
import graft.functions.BinaryQuant
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Binary-quantized (1-bit) brute-force search — the bottom rung of
  * the quantization ladder (SQ8 4×, PQ 64×, BQ 32× with a 1-word
  * Hamming comparison): sign bits vs per-dimension corpus means,
  * Hamming-distance shortlist, exact cosine rerank. Mean-centered
  * sign codes preserve angular order in expectation (the
  * sign-random-projection idea behind [[Ann.lshSearch]], but with
  * the identity basis and a data-driven threshold), so Hamming is
  * the right code-space proxy for a cosine search.
  *
  * The 100 TB rationale is the strongest of the ladder: the scan
  * reads 8 bytes/vector instead of 256 and compares with two
  * xor+popcount ops/row — memory-bandwidth-bound brute force gets
  * ~32× cheaper, and the exact rerank touches only
  * rerank·k·|queries| float vectors (reference FLAT search role,
  * faiss_index.cc:40).
  */
object BinQuant {

  /** Per-dimension corpus mean, 6dp-rounded: ONE posexplode pass,
    * partial-aggregated per dim (shuffle carries dims × partitions
    * rows), dim-many results collected — driver-held training
    * constants, like IVF centroids and the SQ8 (min, max) grid.
    * Rounding makes the threshold order-independent (same rationale
    * as the 6dp Lloyd means): parallel sum orderings differ at
    * ~1e-13 relative, far inside the 1e-6 grid.
    */
  def trainMeans(emb: DataFrame): Array[Double] =
    emb.select(posexplode(col("vec")).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(round(avg(col("x").cast("double")), 6).as("mu"))
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1)))
      .sortBy(_._1)
      .map(_._2)

  /** Per-dim means for the full corpus at `dir`, trained once per dir
    * and shared by every consumer through [[graft.ByproductCache]].
    */
  def cachedMeans(dir: String, emb: DataFrame): Array[Double] =
    graft.ByproductCache.getOrCompute(
      emb.sparkSession.sparkContext.applicationId,
      s"bqmeans|$dir")(trainMeans(emb))

  /** Packed-code scan → Hamming shortlist of `rerank·k` per query →
    * exact float cosine rerank to k. Output shape, `(qid, rk, nn_id,
    * score)`, is [[Knn.topK]]'s with Metric.Cosine.
    */
  def bqSearch(emb: DataFrame, queries: DataFrame, k: Int,
               rerank: Int = 4): DataFrame = {
    val mus = trainMeans(emb)
    val codes = emb.select(col("id"),
      BinaryQuant.pack(col("vec"), mus).as("code"))
    val qcodes = broadcast(queries.select(col("qid"),
      BinaryQuant.pack(col("qvec"), mus).as("qcode")))
    val scored = codes.crossJoin(qcodes)
      .select(col("qid"),
        BinaryQuant.hamming(col("code"), col("qcode"))
          .cast("double").as("key"),
        col("id"))
      .where(col("key").isNotNull)
    Ann.shortlistRerank(scored, rerank, emb, queries, k, Knn.Metric.Cosine)
  }

  def bqQuery(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = Tables.embeddings(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    bqSearch(e, q, k = 10)
  }
}
