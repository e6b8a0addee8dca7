package graft

import graft.operators.Ann
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Job budget of the driver-side graph descent: at most two jobs per
  * beam round (neighbour lookup, scoring), a scoring plan without an
  * exchange, and pinned totals for 8-query batches.
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

  private def warm(): Unit = {
    Ann.nswSearch(spark, sf, batch).collect()
    Ann.hnswSearch(spark, sf, batch).collect()
  }

  test("two jobs per beam round; the scoring plan has no exchange") {
    warm()
    def run(rounds: Int) = JobWatch.observe(spark) {
      val stats = new Ann.DescentStats
      Ann.nswTraverse(spark, sf, batch, beam = 16, rounds = rounds,
        graphK = 8, stats = stats)
      stats.roundsRun
    }
    val (r3, jobs3, plans) = run(3)
    val (r1, jobs1, _) = run(1)
    assert(r3 == 3 && r1 == 1, s"fixture converged early: ran $r3 of 3 rounds")
    assert(jobs3 - jobs1 <= 4, s"3 rounds ran $jobs3 jobs, 1 round $jobs1")
    assert(plans.nonEmpty)
    plans.foreach(p => assert(!p.contains("Exchange"), s"descent plan shuffles:\n$p"))
  }

  /** Build + action jobs of an 8-query search, memos warm. The
    * relational loops ran 46 (nswSearch: 42 build + 4 action) and 66
    * (hnswSearch: 62 + 4) on this fixture; the driver-side descent
    * runs 8 and 12, all in the build (the answer is a LocalRelation).
    */
  test("8-query nswSearch and hnswSearch run at most half the jobs of the " +
    "relational loops") {
    warm()
    val (_, nsw, _) = JobWatch.observe(spark)(Ann.nswSearch(spark, sf, batch).collect())
    val (_, hnsw, _) = JobWatch.observe(spark)(Ann.hnswSearch(spark, sf, batch).collect())
    assert(nsw <= 46 / 2, s"nswSearch ran $nsw jobs")
    assert(hnsw <= 66 / 2, s"hnswSearch ran $hnsw jobs")
  }
}
