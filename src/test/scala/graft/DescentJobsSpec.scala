package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.Ann
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

/** Job budget of the driver-side graph descent: at most two jobs per
  * beam round (neighbour lookup, scoring), a scoring plan without an
  * exchange, and pinned totals for 8-query batches.
  */
class DescentJobsSpec extends SparkSuite {

  /** Jobs `body` ran and the executed plans of its queries. Listener
    * delivery is async, so a marker job and query run after `body`
    * bound the wait: the bus delivers in order.
    */
  private def observe[T](body: => T): (T, Int, Seq[String]) = {
    val tag = s"descent-${System.nanoTime}"
    val jobs = new AtomicInteger
    val seen = new CountDownLatch(2)
    val plans = new ConcurrentLinkedQueue[String]()
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `tag` => jobs.incrementAndGet()
          case g if g == s"$tag-end" => seen.countDown()
          case _ =>
        }
    }
    val ql = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        val p = qe.executedPlan.toString
        if (p.contains(tag)) seen.countDown() else plans.add(p)
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(jl)
    spark.listenerManager.register(ql)
    try {
      sc.setJobGroup(tag, tag)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$tag-end", tag)
      try spark.range(1).selectExpr(s"'$tag' AS t").collect() finally sc.clearJobGroup()
      assert(seen.await(60, TimeUnit.SECONDS), "listener bus never delivered the marker")
      (out, jobs.get, plans.toArray(Array.empty[String]).toSeq)
    } finally {
      spark.listenerManager.unregister(ql)
      sc.removeSparkListener(jl)
    }
  }

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
    def run(rounds: Int) = observe {
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
    val (_, nsw, _) = observe(Ann.nswSearch(spark, sf, batch).collect())
    val (_, hnsw, _) = observe(Ann.hnswSearch(spark, sf, batch).collect())
    assert(nsw <= 46 / 2, s"nswSearch ran $nsw jobs")
    assert(hnsw <= 66 / 2, s"hnswSearch ran $hnsw jobs")
  }
}
