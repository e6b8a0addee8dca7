package graft.operators

import graft.functions.VectorDistance
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TEST-SIDE REFERENCE ONLY: exact kNN as it was planned before it
  * moved to [[RequestTopK]] — the query set broadcast, cross-joined
  * with the corpus through the fused kernels (cosine pre-normed), and
  * ranked by a `groupBy(qid)` TopKAgg; `recommend` the same with its
  * three example ids excluded by a join predicate (`rounded = false`
  * keeps `topK`'s scores as ranked, before the 4dp round). KnnParitySpec
  * compares [[Knn]] against it for exact equality; nothing in main
  * code calls this.
  */
object LegacyKnn {
  import Knn.Metric

  def topK(data: DataFrame, queries: DataFrame, k: Int,
           metric: Metric.Value, excludeSelf: Boolean,
           rounded: Boolean = true): DataFrame = {
    // Cosine pre-norms: ||v|| is computed ONCE per corpus row and
    // once per query instead of inside every pair (the fused VecCosine
    // kernel re-accumulated both norms per pair — Q× redundant work on
    // the corpus side). score = dot/(n_a·n_b) runs the IDENTICAL float
    // operations in the identical order as the fused kernel (the norm
    // is the same left-to-right self-dot), so results are bit-equal —
    // including the NULL-on-zero-norm/dim-mismatch contract, restored
    // here via the zero-denominator guard and dot's null propagation.
    val prenorm = metric == Metric.Cosine
    val q = broadcast(
      if (prenorm)
        queries.select(col("qid"), col("qvec"),
          sqrt(VectorDistance.dot(col("qvec"), col("qvec"))).as("_qn"))
      else queries.select(col("qid"), col("qvec")))
    val d =
      if (prenorm)
        data.select(col("id"), col("vec"),
          sqrt(VectorDistance.dot(col("vec"), col("vec"))).as("_n"))
      else data.select(col("id"), col("vec"))

    // native fused kernels (VectorDistance) — same numerics as the
    // composed zip_with/aggregate form, ~10x less per-pair overhead
    val score = metric match {
      case Metric.L2 => VectorDistance.l2(col("vec"), col("qvec"))
      case Metric.L1 => VectorDistance.l1(col("vec"), col("qvec"))
      case Metric.Linf => VectorDistance.linf(col("vec"), col("qvec"))
      case Metric.IP => VectorDistance.dot(col("vec"), col("qvec"))
      case Metric.Cosine =>
        val denom = col("_n") * col("_qn")
        when(denom === 0.0, lit(null).cast("double"))
          .otherwise(VectorDistance.dot(col("vec"), col("qvec")) / denom)
    }
    // lower-is-better sort key; similarities rank descending
    val distanceMetric =
      metric == Metric.L2 || metric == Metric.L1 || metric == Metric.Linf
    val key = if (distanceMetric) score else -score

    val agg = TopKAgg.topK(k)
    val pairs = d.crossJoin(q)
    (if (excludeSelf) pairs.where(col("id") =!= col("qid")) else pairs)
      .select(col("qid"), key.as("key"), col("id"))
      // a NULL score (zero-norm vector under cosine, or a malformed
      // embedding's dimension mismatch) is undefined order — drop it
      // from top-k BEFORE the heap: TopKAgg's ScoredId.key is a
      // primitive Double, so a null reaching the encoder would throw
      .where(col("key").isNotNull)
      .groupBy("qid")
      .agg(agg(col("key"), col("id")).as("top"))
      .select(col("qid"), posexplode(col("top.items")))
      .select(
        col("qid"),
        (col("pos") + 1).as("rk"),
        col("col.id").as("nn_id"),
        { val s = if (distanceMetric) col("col.key") else -col("col.key")
          (if (rounded) round(s, 4) else s).as("score") })
      .orderBy("qid", "rk")
  }

  def recommend(data: DataFrame, requests: DataFrame,
                k: Int): DataFrame = {
    val q = broadcast(requests.select(col("qid"), col("qvec"),
      sqrt(VectorDistance.dot(col("qvec"), col("qvec"))).as("_qn"),
      col("ex1"), col("ex2"), col("ex3")))
    val d = data.select(col("id"), col("vec"),
      sqrt(VectorDistance.dot(col("vec"), col("vec"))).as("_n"))
    val denom = col("_n") * col("_qn")
    val score = when(denom === 0.0, lit(null).cast("double"))
      .otherwise(VectorDistance.dot(col("vec"), col("qvec")) / denom)
    val agg = TopKAgg.topK(k)
    d.crossJoin(q)
      .where(col("id") =!= col("ex1") && col("id") =!= col("ex2") &&
        col("id") =!= col("ex3"))
      .select(col("qid"), (-score).as("key"), col("id"))
      .where(col("key").isNotNull)
      .groupBy("qid")
      .agg(agg(col("key"), col("id")).as("top"))
      .select(col("qid"), posexplode(col("top.items")))
      .select(col("qid"), (col("pos") + 1).as("rk"),
        col("col.id").as("nn_id"), round(-col("col.key"), 4).as("score"))
      .orderBy("qid", "rk")
  }
}
