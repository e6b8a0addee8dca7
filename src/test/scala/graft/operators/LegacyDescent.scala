package graft.operators

import graft.Tables
import graft.functions.VectorDistance
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TEST-SIDE REFERENCE ONLY: the relational beam loops the driver-side
  * [[Descent]] replaced — every round a checkpointed window cut, two
  * `distinct` shuffles, a join with the spread corpus and an
  * `exceptAll` convergence probe. DescentParitySpec compares the two
  * walks for exact equality; nothing in main code calls this.
  */
object LegacyDescent {

  /** Final frontier (qid, id, s), raw visited set (qid, id), scored
    * visited set (qid, id, s) and the rounds the loop ran.
    */
  case class Walk(frontier: DataFrame, visited: DataFrame, scored: DataFrame,
                  rounds: Int)

  private val byQ = Window.partitionBy("qid").orderBy(col("s").desc, col("id"))

  private def topBeam(scored: DataFrame, n: Int): DataFrame =
    scored.withColumn("rk", row_number().over(byQ))
      .where(col("rk") <= n).select("qid", "id", "s")

  private def scorer(e: DataFrame, queries: DataFrame): DataFrame => DataFrame = {
    val q = queries.select(col("qid"), col("qvec"))
    ids => ids.join(e, "id").join(broadcast(q), "qid")
      .select(col("qid"), col("id"),
        VectorDistance.cosine(col("vec"), col("qvec")).as("s"))
      .where(col("s").isNotNull)
  }

  /** Both directions of each (qid, nn_id) edge, distinct: the
    * adjacency the descent store holds.
    */
  private def sym(g: DataFrame): DataFrame = {
    val e = g.select(col("qid").as("src"), col("nn_id").as("dst"))
    e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  private def spreadCorpus(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  def entry(s: SparkSession, dir: String, queries: DataFrame,
            nprobe: Int = 2): DataFrame = {
    val cents = Ann.cachedCentroids(s, dir)
    val assigned = Ann.assignTo(spreadCorpus(s, dir), cents).select(col("id"), col("cell"))
    queries.select(col("qid"),
        explode(Ann.centroidTopM(col("qvec"), cents, nprobe)).as("p"))
      .select(col("qid"), col("p.cell").as("cell"))
      .join(assigned, "cell")
      .select("qid", "id")
  }

  private def baseBeamLoop(frontier0: DataFrame, visited0: DataFrame,
                           edges: DataFrame, scoreIds: DataFrame => DataFrame,
                           beam: Int, rounds: Int): Walk = {
    var frontier = frontier0
    var visited = visited0
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      val expand = frontier.join(edges, col("id") === col("src"))
        .select(col("qid"), col("dst").as("id"))
        .union(frontier.select("qid", "id"))
        .distinct()
      visited = visited.union(expand).distinct()
      val next = topBeam(scoreIds(expand), beam).localCheckpoint(true)
      r += 1
      if (r < rounds)
        converged = next.select("qid", "id")
          .exceptAll(frontier.select("qid", "id"))
          .union(frontier.select("qid", "id")
            .exceptAll(next.select("qid", "id")))
          .isEmpty
      frontier = next
    }
    Walk(frontier, visited, scoreIds(visited.distinct()), r)
  }

  def nsw(s: SparkSession, dir: String, queries: DataFrame, beam: Int,
          rounds: Int, graphK: Int): Walk = {
    val scoreIds = scorer(spreadCorpus(s, dir), queries)
    val frontier0 = topBeam(scoreIds(entry(s, dir, queries)), beam).localCheckpoint(true)
    baseBeamLoop(frontier0, frontier0.select("qid", "id"),
      sym(Ann.knnGraph(s, dir, graphK)).localCheckpoint(true), scoreIds, beam, rounds)
  }

  /** Frontier carries `rq`; rounds run is always `maxRounds`. */
  def nswEf(s: SparkSession, dir: String, reqs: DataFrame, beam: Int,
            maxRounds: Int, graphK: Int): Walk = {
    val edges = sym(Ann.knnGraph(s, dir, graphK)).localCheckpoint(true)
    val scoreIds = scorer(spreadCorpus(s, dir), reqs)
    val budgets = reqs.select(col("qid"),
        least(lit(maxRounds), greatest(lit(1),
          ceil(col("ef").cast("double") / lit(beam)).cast("int"))).as("rq"))
      .localCheckpoint(true)
    var frontier = topBeam(scoreIds(entry(s, dir, reqs)), beam).localCheckpoint(true)
    var visited = frontier.select("qid", "id")
    for (r <- 1 to maxRounds) {
      val act = frontier.join(
        broadcast(budgets.where(col("rq") >= r).select("qid")), "qid")
      val frozen = frontier.join(
        broadcast(budgets.where(col("rq") < r).select("qid")), "qid")
      val expand = act.join(edges, col("id") === col("src"))
        .select(col("qid"), col("dst").as("id"))
        .union(act.select("qid", "id"))
        .distinct()
      visited = visited.union(expand).distinct()
      frontier = topBeam(scoreIds(expand), beam).unionByName(frozen)
        .localCheckpoint(true)
    }
    Walk(frontier.join(broadcast(budgets), "qid"), visited,
      scoreIds(visited.distinct()), maxRounds)
  }

  private def hnswEdges(e: DataFrame, queries: DataFrame,
                        layerEdges: Int => DataFrame, edges0: DataFrame,
                        beamU: Int, beam: Int, rounds: Int): Walk = {
    val scoreIds = scorer(e, queries)
    val ent = e.select(col("id"), Ann.hnswLevel(col("id")).as("lvl"))
      .orderBy(col("lvl").desc, col("id").asc).limit(1).select("id")
    var frontier = topBeam(
      scoreIds(queries.select("qid").crossJoin(broadcast(ent))), beamU)
      .localCheckpoint(true)
    var visited = frontier.select("qid", "id")
    for (l <- 4 to 1 by -1) {
      val edges = layerEdges(l)
      if (!edges.isEmpty) {
        val expand = frontier.join(edges, col("id") === col("src"))
          .select(col("qid"), col("dst").as("id"))
          .union(frontier.select("qid", "id"))
          .distinct()
        visited = visited.union(expand).distinct()
        frontier = topBeam(scoreIds(expand), beamU).localCheckpoint(true)
      }
    }
    baseBeamLoop(frontier, visited, edges0, scoreIds, beam, rounds)
  }

  def hnsw(s: SparkSession, dir: String, queries: DataFrame, beamU: Int = 8,
           beam: Int = 16, rounds: Int = 3, graphK: Int = 8): Walk =
    hnswEdges(spreadCorpus(s, dir), queries,
      l => sym(Ann.hnswLayerEdges(s, dir, l, graphK)),
      sym(Ann.knnGraph(s, dir, graphK)).localCheckpoint(true),
      beamU, beam, rounds)

  def hnswIndexed(s: SparkSession, indexPath: String, hnswPath: String,
                  queries: DataFrame, beamU: Int = 8, beam: Int = 16,
                  rounds: Int = 3): Walk = {
    val e = s.read.parquet(indexPath).select(col("id"), col("vec"))
    val all = Ann.hnswRead(s, hnswPath)
    def layer(l: Int): DataFrame = sym(all.where(col("layer") === l))
    hnswEdges(e, queries, layer, layer(0).localCheckpoint(true), beamU, beam, rounds)
  }

  /** The search tail every descent shared: rank-k of the frontier. */
  def ranked(frontier: DataFrame, k: Int): DataFrame =
    frontier.withColumn("rk", row_number().over(byQ))
      .where(col("rk") <= k)
      .select(col("qid"), col("rk"), col("id").as("nn_id"),
        round(col("s"), 4).as("score"))
}
