package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding-space classification — the annotation step of a
  * training-data pipeline: propagate labels from a labeled pool to
  * new vectors. Two standard regimes, both built from kernels the
  * engine already has (the broadcast-kNN heap and the IVF
  * argmin-assignment projection), so the scale shapes are proven:
  * per-query work is one corpus scan with bounded heap state, and
  * the centroid variant is a zero-exchange projection.
  */
object Classify {

  /** kNN majority-vote classifier: each query's label is the
    * majority label among its k nearest labeled neighbors (cosine),
    * ties broken toward the smaller label id. The neighbours are
    * [[Knn.topK]]'s: the query set collected once, the labeled corpus
    * streamed once through per-query heaps; the vote aggregate is
    * (queries × k)-sized.
    *
    * @return (qid, true_label, pred_label, votes) — true_label kept
    *         so the output doubles as an eval table
    */
  def knnClassify(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val corpus = emb.where(col("vec_id") >= 10)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val nn = Knn.topK(corpus, queries, k, Knn.Metric.Cosine)
    val labels = emb.select(col("vec_id").as("nn_id"),
      col("label").cast("long").as("label"))
    val truth = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"),
        col("label").cast("long").as("true_label"))
    nn.join(labels, "nn_id")
      .groupBy("qid", "label")
      .agg(count(lit(1)).as("votes"))
      .groupBy("qid")
      .agg(min_by(struct(col("label").as("pred_label"), col("votes")),
        struct(-col("votes"), col("label"))).as("p"))
      .join(truth, "qid")
      .select(col("qid"), col("true_label"), col("p.pred_label"),
        col("p.votes"))
      .orderBy("qid")
  }

  /** kNN VALUE REGRESSION — the numeric twin of [[knnClassify]]:
    * predict a held-out query's label as the mean (and the
    * similarity-weighted mean) of its k=5 cosine neighbors' labels.
    * Same corpus/query split, same one heap-aggregated kNN pass.
    * `pred_mean` is integer-exact (Σ label is a Long, one division);
    * `pred_wmean` weights by the 4dp-ROUNDED similarity shifted to
    * (0, 2] (w = s + 1 — cosine can be negative; the rounded score
    * is the engine-portable value both sides agree on, the same
    * reason BM25 ranks on the rounded score). abs_err uses the
    * unrounded exact mean.
    */
  def knnRegression(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val corpus = emb.where(col("vec_id") >= 10)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val nn = Knn.topK(corpus, queries, k, Knn.Metric.Cosine)
    val labels = emb.select(col("vec_id").as("nn_id"),
      col("label").cast("long").as("label"))
    val truth = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"),
        col("label").cast("double").as("true_value"))
    nn.join(labels, "nn_id")
      .groupBy("qid")
      .agg((sum("label").cast("double") / k).as("pm"),
        (sum((col("score") + lit(1.0)) * col("label"))
          / sum(col("score") + lit(1.0))).as("pw"))
      .join(truth, "qid")
      .select(col("qid"), col("true_value"),
        round(col("pm"), 4).as("pred_mean"),
        round(col("pw"), 4).as("pred_wmean"),
        round(abs(col("true_value") - col("pm")), 4).as("abs_err"))
      .orderBy("qid")
  }

  /** Per-label centroids: one Lloyd mean round ([[Ann.cellMeans]])
    * with the label as the cell, so they are 6dp-rounded, float-round-
    * tripped and skip non-finite rows exactly as the IVF centroids do.
    */
  def labelCentroids(emb: DataFrame): DataFrame =
    Ann.cellMeans(emb.select(col("label").cast("long").as("cell"), col("vec")))

  /** Nearest-centroid assignment + confusion matrix: every vector
    * assigned to its nearest label centroid (cosine, the shared
    * [[Ann.assignTo]] argmin projection — literal centroids, ONE
    * codegen projection, zero exchanges over the corpus), then
    * (label, pred_label) counts. The confusion matrix is the
    * embedding-space purity report: how separable the labels are
    * under the index's own metric — the go/no-go input for using
    * label buckets as IVF cells or routing keys.
    */
  def nearestCentroid(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        col("label"))
    val cents = Ann.collectCentroids(labelCentroids(emb))
    Ann.assignTo(emb, cents)
      .select(col("label").cast("long").as("label"),
        col("cell").as("pred_label"))
      .groupBy("label", "pred_label")
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "pred_label")
  }
}
