package graft.operators

import graft.Tables
import graft.functions.VectorDistance
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TEST-SIDE REFERENCE ONLY: the routed request API as a relational
  * plan — a two-job routing aggregate, one lazy `where` per leg, a
  * broadcast `perK` join per approximate leg and a sorted union — and
  * the IVF leg as a probe join ranked by a `groupBy(qid)` TopKAgg.
  * RoutedParitySpec compares the driver-side routing against it for
  * exact equality; nothing in main code calls this.
  */
object LegacyRouted {

  def ivfSearchCached(s: SparkSession, dir: String, queries: DataFrame,
                      k: Int, nprobe: Int = 2): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = Ann.cachedCentroids(s, dir)
    val probes = queries.select(col("qid"), col("qvec"),
      explode(Ann.centroidTopM(col("qvec"), cents, nprobe)).as("p"))
      .select(col("qid"), col("qvec"), col("p.cell").as("cell"))
    val scored = Ann.assignTo(e, cents).join(probes, "cell")
      .select(col("qid"),
        (-VectorDistance.cosine(col("vec"), col("qvec"))).as("key"),
        col("id"))
      .where(col("key").isNotNull)
    Ann.topKPerQuery(scored, k)
  }

  private def perK(leg: DataFrame, sub: DataFrame): DataFrame =
    leg.join(broadcast(sub.select(col("qid"), col("k"))), "qid")
      .where(col("rk") <= col("k"))
      .select(col("qid"), col("rk"), col("nn_id"), col("score"))

  def searchRouted(s: SparkSession, dir: String, data: DataFrame,
                   reqs: DataFrame, maxK: Int): DataFrame = {
    val tk = reqs.agg(
        collect_set(when(col("index_type") === "FLAT", "FLAT")
          .when(col("index_type") === "HNSW", "HNSW")
          .when(col("index_type") === "HNSW_HIER", "HIER")
          .otherwise("IVF")).as("ts"),
        max(col("k").cast("long")).as("kmax"))
      .collect().head
    val types = tk.getSeq[String](0).toSet
    if (!tk.isNullAt(1))
      require(maxK >= tk.getLong(1),
        s"maxK=$maxK is smaller than the batch's largest request " +
          s"k=${tk.getLong(1)}")
    if (types.isEmpty) {
      import s.implicits._
      return Seq.empty[(Long, Int, Long, Double)]
        .toDF("qid", "rk", "nn_id", "score")
    }
    val legs = Seq.newBuilder[DataFrame]
    if (types("FLAT"))
      legs += SearchApi.searchRequests(data,
        reqs.where(col("index_type") === "FLAT"), maxK)
        .select(col("qid"), col("rk"), col("nn_id"), col("score"))
    if (types("HNSW")) {
      val hnswReqs = reqs.where(col("index_type") === "HNSW")
      legs += perK(Ann.nswSearch(s, dir,
        hnswReqs.select(col("qid"), col("qvec")), k = maxK), hnswReqs)
    }
    if (types("HIER")) {
      val hierReqs = reqs.where(col("index_type") === "HNSW_HIER")
      legs += perK(Ann.hnswSearch(s, dir,
        hierReqs.select(col("qid"), col("qvec")), k = maxK), hierReqs)
    }
    if (types("IVF")) {
      val ivfReqs = reqs.where(col("index_type") =!= "FLAT" &&
        col("index_type") =!= "HNSW" && col("index_type") =!= "HNSW_HIER")
      legs += perK(ivfSearchCached(s, dir,
        ivfReqs.select(col("qid"), col("qvec")), maxK), ivfReqs)
    }
    legs.result().reduce(_ unionByName _).orderBy("qid", "rk")
  }

  def searchRoutedEf(s: SparkSession, dir: String, data: DataFrame,
                     reqs: DataFrame, maxK: Int): DataFrame = {
    val tk = reqs.agg(
        collect_set(when(col("index_type") === "FLAT", "FLAT")
          .otherwise("HNSW")).as("ts"),
        max(col("k").cast("long")).as("kmax"))
      .collect().head
    val types = tk.getSeq[String](0).toSet
    if (!tk.isNullAt(1))
      require(maxK >= tk.getLong(1),
        s"maxK=$maxK is smaller than the batch's largest request " +
          s"k=${tk.getLong(1)}")
    if (types.isEmpty) {
      import s.implicits._
      return Seq.empty[(Long, Int, Long, Double, Long)]
        .toDF("qid", "rk", "nn_id", "score", "rounds_used")
    }
    val legs = Seq.newBuilder[DataFrame]
    if (types("FLAT"))
      legs += SearchApi.searchRequests(data,
        reqs.where(col("index_type") === "FLAT"), maxK)
        .select(col("qid"), col("rk"), col("nn_id"), col("score"),
          lit(0L).as("rounds_used"))
    if (types("HNSW")) {
      val h = reqs.where(col("index_type") =!= "FLAT")
      legs += Ann.nswSearchEf(s, dir,
          h.select(col("qid"), col("qvec"), col("ef")), k = maxK)
        .join(broadcast(h.select(col("qid"), col("k"))), "qid")
        .where(col("rk") <= col("k"))
        .select(col("qid"), col("rk"), col("nn_id"), col("score"),
          col("rounds_used"))
    }
    legs.result().reduce(_ unionByName _).orderBy("qid", "rk")
  }
}
