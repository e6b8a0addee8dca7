package graft

import graft.operators.Ann
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Job budget of the driver-side graph descent: one job per beam
  * round, every job a single stage (no shuffle dependency), and pinned
  * totals for 8-query batches.
  */
class DescentJobsSpec extends SparkSuite {

  /** Eight jittered corpus vectors: far enough off the corpus that the
    * beam is still moving after three rounds.
    */
  private lazy val batch: DataFrame = {
    val rows = Tables.table(spark, sf, "embeddings").orderBy("vec_id").collect()
    val list = new java.util.ArrayList[Row]()
    (0 until 8).foreach { i =>
      val r = new scala.util.Random(i)
      list.add(Row(i.toLong, rows(i * 53 + 11).getSeq[Float](1)
        .map(x => x + (r.nextGaussian() * 0.4).toFloat)))
    }
    spark.createDataFrame(list, StructType(Seq(StructField("qid", LongType),
      StructField("qvec", ArrayType(FloatType)))))
  }

  /** Jobs the first searches ran on this fixture, every build included:
    * nswSearch 25; hnswSearch 22 or 23 from run to run. With a
    * checkpoint per upper layer put back, hnswSearch ran 24.
    */
  private val NswFirstJobs = 25
  private val HnswFirstJobs = 23

  private def warm(): Unit = {
    Ann.nswSearch(spark, sf, batch).collect()
    Ann.hnswSearch(spark, sf, batch).collect()
  }

  /** Jobs of the first nswSearch and the first hnswSearch on a cleared
    * memo: every build they trigger (centroids, corpus store, graph
    * layers, their stores) runs here. A checkpoint or a memo put back
    * between the edge builder and the store adds jobs.
    */
  test("first nswSearch and hnswSearch build jobs on a cleared memo") {
    ByproductCache.clear()
    val (_, nsw, _) = JobWatch.observe(spark)(Ann.nswSearch(spark, sf, batch).collect())
    val (_, hnsw, _) = JobWatch.observe(spark)(Ann.hnswSearch(spark, sf, batch).collect())
    assert(nsw <= NswFirstJobs, s"first nswSearch ran $nsw jobs")
    assert(hnsw <= HnswFirstJobs, s"first hnswSearch after it ran $hnsw jobs")
  }

  test("one job per beam round; every descent job is a single stage") {
    warm()
    def run(rounds: Int) = JobWatch.stages(spark) {
      val stats = new Ann.DescentStats
      Ann.nswTraverse(spark, sf, batch, beam = 16, rounds = rounds,
        graphK = 8, stats = stats)
      stats.roundsRun
    }
    val (r3, jobs3, _) = run(3)
    val (r1, jobs1, _) = run(1)
    assert(r3 == 3 && r1 == 1, s"fixture converged early: ran $r3 of 3 rounds")
    assert(jobs3.size - jobs1.size <= 2, s"3 rounds ran ${jobs3.size} jobs, 1 round ${jobs1.size}")
    assert(jobs3.size >= 4, s"entry + 3 rounds ran only ${jobs3.size} jobs")
    assert(jobs3.forall(_ == 1), s"a descent job has a shuffle dependency: stages $jobs3")
  }

  /** Build + action jobs of an 8-query search, memos warm. The
    * relational loops ran 46 (nswSearch: 42 build + 4 action) and 66
    * (hnswSearch: 62 + 4) on this fixture; the per-round DataFrames of
    * the driver-side descent ran 8 and 12. Over the descent store they
    * run 4 (the entry job, one per round) and 6 (the enterpoint's job,
    * one per upper layer that finds new pairs, one per base round), and
    * the persisted hierarchy runs as many as the in-memory one: its
    * enterpoint comes with the store, not from a per-call job. Every
    * answer is a LocalRelation, so the action runs none.
    */
  test("8-query nswSearch, hnswSearch and hnswSearchIndexed job counts") {
    warm()
    Ann.hnswIndexedQuery(spark, sf).collect()
    val idx = IndexCache.dirFor(sf, "ivfidx").toString
    val hp = Ann.hnswIndexedPath(spark, sf)
    Ann.hnswSearchIndexed(spark, idx, hp, batch).collect()
    val (_, nsw, _) = JobWatch.observe(spark)(Ann.nswSearch(spark, sf, batch).collect())
    val (_, hnsw, _) = JobWatch.observe(spark)(Ann.hnswSearch(spark, sf, batch).collect())
    val (_, indexed, _) = JobWatch.observe(spark)(
      Ann.hnswSearchIndexed(spark, idx, hp, batch).collect())
    assert(nsw <= 4, s"nswSearch ran $nsw jobs")
    assert(hnsw <= 6, s"hnswSearch ran $hnsw jobs")
    assert(indexed <= 6, s"hnswSearchIndexed ran $indexed jobs")
  }
}
