package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Job-count pins: the Spark jobs a block runs, and the executed plans
  * of its queries.
  */
object JobWatch {

  /** Runs `body` in its own job group and returns its value, the jobs
    * it ran and the executed plans of its queries.
    */
  def observe[T](spark: SparkSession)(body: => T): (T, Int, Seq[String]) = {
    val (out, perJob, plans) = stages(spark)(body)
    (out, perJob.size, plans)
  }

  /** [[observe]], with each job's stage count (skipped stages included)
    * in place of the job count. Listener delivery is async, so a marker
    * job and query run after `body` bound the wait: the bus delivers in
    * order.
    */
  def stages[T](spark: SparkSession)(body: => T): (T, Seq[Int], Seq[String]) = {
    val tag = s"watch-${System.nanoTime}"
    val jobs = new ConcurrentLinkedQueue[Integer]()
    val seen = new CountDownLatch(2)
    val plans = new ConcurrentLinkedQueue[String]()
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `tag` => jobs.add(e.stageInfos.size)
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
      (out, jobs.toArray(Array.empty[Integer]).toSeq.map(_.intValue),
        plans.toArray(Array.empty[String]).toSeq)
    } finally {
      spark.listenerManager.unregister(ql)
      sc.removeSparkListener(jl)
    }
  }
}
