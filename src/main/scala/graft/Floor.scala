package graft

import org.apache.spark.sql.DataFrame

/** Substrate-floor profiler (r15, VERDICT r14 #1): decomposes the
  * per-query cost that BENCH_r14 showed dominating the suite (324
  * cheapest queries = 279.5s of 410.8s, 0.863 s/q mean). Times each
  * probe N times in one session and prints per-rep seconds, so the
  * shared substrate (scan, spread shuffle, AQE rounds, noop-sink job
  * launch, plan analysis) separates from operator work. Runs under
  * the session defaults (`GraftSession`). Diagnostic main, not part
  * of the driver contract.
  */
object Floor {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val reps = sys.env.getOrElse("SPARK_GRAFT_FLOOR_REPS", "4").toInt

    def time(tag: String)(mk: => DataFrame): Unit = {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        Bench.materialize(mk)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[floor] $tag%-34s " +
        ts.map(t => f"$t%6.3f").mkString(" "))
    }

    val probes = sys.env.get("SPARK_GRAFT_FLOOR_PROBES")
      .map(_.split(",").toSeq)
      .getOrElse(Seq("vdb_collection_info", "q1_agg", "q6_filter_agg",
        "vdb_knn_flat_l2", "text_quality", "events_sessionize",
        "dedup_exact", "customer_rfm"))
    time("noop_empty")(spark.range(0).toDF("i"))
    probes.foreach { n =>
      SparkEntry.queries.get(n).foreach(fn => time(n)(fn(spark, dir)))
    }
    spark.stop()
  }
}
