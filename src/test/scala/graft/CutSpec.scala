package graft

import graft.operators.Ann
import org.apache.spark.sql.functions._

/** Request-sized collects fail loudly above their named bound. */
class CutSpec extends SparkSuite {

  test("Cut.request collects up to the bound and names it above") {
    val df = spark.range(0, 40, 1, numPartitions = 4).toDF("x")
    assert(Cut.request(df, 40, "T.Max").map(_.getLong(0)).sorted.toSeq == (0L until 40L))
    val e = intercept[IllegalArgumentException](Cut.request(df, 39, "T.Max", "probe"))
    assert(e.getMessage.contains("probe exceeds T.Max=39 rows"), e.getMessage)
    // a frame the optimizer folds to a LocalRelation reads with no job
    import spark.implicits._
    val local = Seq(1L, 2L, 3L).toDF("x").where(col("x") > 1)
    assert(Cut.request(local, 2, "T.Max").length == 2)
    intercept[IllegalArgumentException](Cut.request(local, 1, "T.Max"))
  }

  test("Cut.job runs one job, collects up to the bound and names it above") {
    val rdd = spark.sparkContext.parallelize(0 until 40, 4)
    def run(maxRows: Int, parts: Seq[Int] = 0 until 4) =
      Cut.job(rdd, parts, maxRows, "T.Max", "probe")((p, it) => it.map(p -> _))
    val (got, jobs, _) = JobWatch.observe(spark)(run(40))
    assert(jobs == 1, s"ran $jobs jobs")
    assert(got.map(_._2).sorted.toSeq == (0 until 40))
    assert(got.forall { case (p, x) => x / 10 == p }, "partition index")
    assert(run(10, Seq(2)).map(_._2).toSeq == (20 until 30))
    val e = intercept[IllegalArgumentException](run(39))
    assert(e.getMessage.contains("probe exceeds T.Max=39 rows; split it into smaller calls"),
      e.getMessage)
  }

  test("a descent batch above MaxDescentQueries fails loudly, naming it") {
    val q = spark.range(Ann.MaxDescentQueries + 1).select(col("id").as("qid"),
      array_repeat(lit(0.1f), 64).as("qvec"))
    for (search <- Seq(Ann.nswSearch(spark, sf, _: org.apache.spark.sql.DataFrame),
                       Ann.hnswSearch(spark, sf, _: org.apache.spark.sql.DataFrame))) {
      val e = intercept[IllegalArgumentException](search(q))
      assert(e.getMessage.contains(
        s"descent query batch exceeds Ann.MaxDescentQueries=${Ann.MaxDescentQueries}"),
        e.getMessage)
    }
  }
}
