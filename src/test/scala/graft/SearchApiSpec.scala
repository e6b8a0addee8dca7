package graft

import graft.functions.VectorDistance
import graft.operators.{Knn, SearchApi, TopKAgg}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class SearchApiSpec extends SparkSuite {

  private def data = Tables.embeddings(spark, sf)
    .select(col("vec_id").as("id"), col("embedding").as("vec"),
      col("label"))
  private def qs = Tables.embeddings(spark, sf).where(col("vec_id") < 5)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  /** The request batch as the cross join it replaced: every (corpus
    * row, request) pair scored by the codegen kernels, then a
    * `TopKAgg` group-by on (qid, metric, k). Test-side reference only.
    */
  private def crossJoinReference(data: DataFrame, reqs: DataFrame,
                                 maxK: Int): DataFrame = {
    val pass = col("fop").isNull ||
      (col("fop") === "=" && col("label") === col("fval")) ||
      (col("fop") === "!=" && col("label") =!= col("fval"))
    val key = when(col("metric") === "L2",
        VectorDistance.l2(col("vec"), col("qvec")))
      .when(col("metric") === "L1",
        VectorDistance.l1(col("vec"), col("qvec")))
      .otherwise(-VectorDistance.dot(col("vec"), col("qvec")))
    val agg = TopKAgg.topK(maxK)
    data.crossJoin(broadcast(reqs))
      .where(pass)
      .select(col("qid"), col("metric"), col("k"), key.as("key"), col("id"))
      .where(col("key").isNotNull)
      .groupBy("qid", "metric", "k")
      .agg(agg(col("key"), col("id")).as("top"))
      .select(col("qid"), col("metric"), col("k"),
        posexplode(col("top.items")))
      .select(col("qid"), (col("pos") + 1).as("rk"),
        col("col.id").as("nn_id"),
        round(when(col("metric") === "L2" || col("metric") === "L1",
          col("col.key"))
          .otherwise(-col("col.key")), 4).as("score"))
      .where(col("rk") <= col("k"))
  }

  private def rowsOf(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sorted

  private val batchSchema = StructType(Seq(
    StructField("qid", LongType), StructField("qvec", ArrayType(FloatType)),
    StructField("k", LongType), StructField("metric", StringType),
    StructField("fop", StringType), StructField("fval", LongType)))

  private def batch(rows: Seq[Row]): DataFrame = {
    val list = new java.util.ArrayList[Row]()
    rows.foreach(list.add)
    spark.createDataFrame(list, batchSchema)
  }

  test("homogeneous batches collapse to the per-query operators") {
    // all-L2 with '=5' filter ≡ Knn.topKFiltered(label === 5)
    val eqReqs = qs.select(col("qid"), col("qvec"), lit(10L).as("k"),
      lit("L2").as("metric"), lit("=").as("fop"), lit(5L).as("fval"))
    val viaApi = SearchApi.searchRequests(data, eqReqs, 10)
      .collect().toSeq
    val direct = Knn.topKFiltered(data, qs, 10, Knn.Metric.L2,
      col("label") === 5).collect().toSeq
    assert(viaApi == direct && viaApi.nonEmpty)

    // all-IP unfiltered ≡ Knn.topK(IP)
    val ipReqs = qs.select(col("qid"), col("qvec"), lit(10L).as("k"),
      lit("IP").as("metric"),
      lit(null).cast("string").as("fop"), lit(0L).as("fval"))
    val viaApiIp = SearchApi.searchRequests(data, ipReqs, 10)
      .collect().toSeq
    val directIp = Knn.topK(data, qs, 10, Knn.Metric.IP)
      .collect().toSeq
    assert(viaApiIp == directIp && viaApiIp.nonEmpty)
  }

  test("mixed batch honors each request's own filter") {
    val labelOf = data.select("id", "label").collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    val rows = SearchApi.searchRequestsQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (qid, nn) =>
      if (qid % 3 == 0)
        assert(labelOf(nn) == 5L, s"request $qid (=5) got label ${labelOf(nn)}")
      if (qid % 3 == 1)
        assert(labelOf(nn) != 5L, s"request $qid (!=5) got label 5")
    }
    // per-request k honored: even qids asked for 10, odd for 5
    val sizes = rows.groupBy(_._1).map { case (q, rs) => q -> rs.length }
    sizes.foreach { case (q, n) =>
      assert(n == (if (q % 2 == 0) 10 else 5), s"request $q returned $n rows")
    }
  }

  test("routed batch: FLAT requests match the exact leg, IVF, HNSW " +
    "and HNSW_HIER requests match direct index calls") {
    val q8 = Tables.embeddings(spark, sf).where(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val rows = SearchApi.searchRoutedQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_._1)
    // the batch covers all four legs and honors per-request k
    assert(byQ.keySet == (0L to 7L).toSet)
    assert(byQ(0L).length == 10 && byQ(3L).length == 10 &&
      byQ(6L).length == 10)
    Seq(1L, 2L, 4L, 5L, 7L).foreach(q => assert(byQ(q).length == 5))
    // approximate requests return EXACTLY what direct index queries
    // return — routing must not change an answer
    val ivfDirect = graft.operators.Ann.ivfSearchCached(spark, sf,
        q8.where(col("qid") % 4 === 1), k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .filter { case (qid, rk, _, _) => rk <= (if (qid % 3 == 0) 10 else 5) }
      .toSet
    assert(rows.filter(_._1 % 4 == 1).toSet == ivfDirect)
    val nswDirect = graft.operators.Ann.nswSearch(spark, sf,
        q8.where(col("qid") === 3), k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .filter { case (qid, rk, _, _) => rk <= (if (qid % 3 == 0) 10 else 5) }
      .toSet
    assert(rows.filter(_._1 == 3).toSet == nswDirect)
    val hierDirect = graft.operators.Ann.hnswSearch(spark, sf,
        q8.where(col("qid") === 7), k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .filter { case (qid, rk, _, _) => rk <= (if (qid % 3 == 0) 10 else 5) }
      .toSet
    assert(rows.filter(_._1 == 7).toSet == hierDirect,
      "HNSW_HIER routing changed the hierarchy's answer")
    // FLAT requests match the unrouted batch API on the same requests
    val flatReqs = Tables.embeddings(spark, sf)
      .where(col("vec_id") < 8 && col("vec_id") % 2 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        when(col("vec_id") % 3 === 0, 10L).otherwise(5L).as("k"),
        when(col("vec_id") % 4 === 2, "IP").otherwise("L2").as("metric"),
        when(col("vec_id") === 4, "=")
          .when(col("vec_id") === 2, "!=")
          .otherwise(lit(null).cast("string")).as("fop"),
        lit(5L).as("fval"))
    val flatDirect = SearchApi.searchRequests(data, flatReqs, 10)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(rows.filter(_._1 % 2 == 0).toSet == flatDirect)
  }

  test("leg parity: an all-FLAT batch never builds the approximate " +
    "legs; an all-HNSW batch is exactly the graph leg") {
    // fresh dir = fresh ByproductCache key space, so graph
    // materialization is observable
    val tmp = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "routedleg")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf, "embeddings.parquet"),
      tmp.resolve("embeddings.parquet"))
    val dirS = tmp.toString
    try {
      val d = Tables.embeddings(spark, dirS)
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          col("label"))
      val q = Tables.embeddings(spark, dirS).where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      def reqs(t: String) = q.select(col("qid"), col("qvec"),
        lit(t).as("index_type"), lit(5L).as("k"), lit("L2").as("metric"),
        lit(null).cast("string").as("fop"), lit(5L).as("fval"))
      val appId = spark.sparkContext.applicationId
      val flatOut = SearchApi.searchRouted(spark, dirS, d, reqs("FLAT"), 10)
      assert(flatOut.count() > 0)
      // the expensive NSW dependency was never touched: no kNN graph
      // (nor symmetrized edge table) materialized for this dir
      assert(!ByproductCache.cached(appId, s"knngraph|$dirS|8|2"),
        "all-FLAT batch materialized the kNN graph")
      assert(!ByproductCache.cached(appId, s"nswedges|$dirS|8"),
        "all-FLAT batch built the NSW edge table")
      // and the plan carries no checkpoint-RDD scan (the graph leg's
      // signature operator)
      assert(!flatOut.queryExecution.executedPlan.toString
        .contains("ExistingRDD"),
        "all-FLAT plan contains an approximate-leg scan")
      // vice versa: an all-HNSW batch IS the graph leg — its rows
      // equal the direct nswSearch call exactly (an exact-leg union
      // branch would add rows and break equality), and now the graph
      // byproduct exists
      val hnswOut = SearchApi.searchRouted(spark, dirS, d, reqs("HNSW"), 10)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val direct = graft.operators.Ann.nswSearch(spark, dirS, q, k = 10)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .filter(_._2 <= 5).toSet
      assert(hnswOut == direct && hnswOut.nonEmpty,
        "all-HNSW batch is not exactly the graph leg")
      assert(ByproductCache.cached(appId, s"knngraph|$dirS|8|2"))
    } finally {
      import scala.reflect.io.Directory
      new Directory(tmp.toFile).deleteRecursively()
    }
  }

  test("k > maxK fails loudly on EVERY routed leg, not just FLAT") {
    // r13 (ADVICE r12): the loud-failure contract formerly ran only
    // inside searchRequests on the FLAT sub-batch — an approximate
    // request with k > maxK was silently truncated by the k=maxK
    // legs. Now the whole-batch max(k) is validated before splitting.
    def reqs(t: String) = qs.select(col("qid"), col("qvec"),
      lit(t).as("index_type"), lit(20L).as("k"), lit("L2").as("metric"),
      lit(null).cast("string").as("fop"), lit(5L).as("fval"),
      lit(48L).as("ef"))
    val eHnsw = intercept[IllegalArgumentException] {
      SearchApi.searchRouted(spark, sf, data, reqs("HNSW"), maxK = 10)
    }
    assert(eHnsw.getMessage.contains("maxK=10"))
    val eIvf = intercept[IllegalArgumentException] {
      SearchApi.searchRouted(spark, sf, data, reqs("IVF"), maxK = 10)
    }
    assert(eIvf.getMessage.contains("k=20"))
    val eEf = intercept[IllegalArgumentException] {
      SearchApi.searchRoutedEf(spark, sf, data, reqs("HNSW"), maxK = 10)
    }
    assert(eEf.getMessage.contains("maxK=10"))
    // legal batches still flow on both surfaces
    assert(SearchApi.searchRouted(spark, sf, data,
      reqs("FLAT").withColumn("k", lit(10L)), maxK = 10).count() > 0)
    assert(SearchApi.searchRoutedEf(spark, sf, data,
      reqs("HNSW").withColumn("k", lit(10L)), maxK = 10).count() > 0)
  }

  test("count batch: per-request filters agree with direct counts; " +
    "unmatched requests zero-anchor; one partial-aggregated pass") {
    import spark.implicits._
    val data = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("label"))
    val reqs = Seq(
      (0L, Option("="), 5L), (1L, Option("!="), 5L),
      (2L, Option.empty[String], 0L), (3L, Option("="), 9999L))
      .toDF("qid", "fop", "fval")
    val got = SearchApi.countRequests(data, reqs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = data.count()
    val eq5 = data.where(col("label") === 5).count()
    assert(got == Map(0L -> eq5, 1L -> (n - eq5), 2L -> n, 3L -> 0L))
    // the qid-keyed count partial-aggregates before the exchange: the
    // shuffle carries request-sized partials, never corpus rows
    val plan = SearchApi.countRequests(data, reqs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count") || plan.contains("partial"),
      s"no map-side partial aggregation in:\n$plan")
  }

  test("fused pass equals the cross-join form on every metric, filter " +
    "and NULL edge, float and double corpora") {
    val v = Tables.embeddings(spark, sf).where(col("vec_id") < 16)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val reqs = batch(Seq(
      Row(0L, v(0L), 10L, "L2", "=", 5L),
      Row(1L, v(1L), 10L, "L1", "!=", 5L),
      Row(2L, v(2L), 5L, "IP", null, 0L),
      Row(3L, v(3L), 10L, null, "=", 3L),        // NULL metric ranks as IP
      Row(4L, v(4L), 10L, "cosine", "!=", 2L),   // unknown metric: IP
      Row(5L, v(5L), 10L, "L2", "<", 5L),        // unknown op: nothing
      Row(6L, null, 10L, "L2", null, 0L),        // NULL qvec: dropped
      Row(7L, v(7L).take(10), 10L, "L1", null, 0L), // dim mismatch
      Row(8L, v(8L), null, "L2", null, 0L),      // NULL k: nothing
      Row(9L, v(9L), 10L, "L2", "=", null),      // NULL fval: nothing
      Row(0L, v(10L), 10L, "L2", "!=", 5L),      // qid 0 again, same group
      Row(11L, v(11L), 3L, "IP", "=", 1L),
      Row(12L, v(12L), 10L, "L1", null, 0L),
      Row(13L, v(13L), 10L, "IP", "!=", 4L)))
    // corpus rows with a NULL label or a NULL vector
    val holed = data
      .withColumn("label", when(col("id") % 7 === 3, lit(null))
        .otherwise(col("label")))
      .withColumn("vec", when(col("id") % 11 === 4, lit(null))
        .otherwise(col("vec")))
    val asDouble = holed.withColumn("vec", col("vec").cast("array<double>"))
    val doubleReqs = reqs.withColumn("qvec", col("qvec").cast("array<double>"))
    for ((corpus, b) <- Seq(holed -> reqs, asDouble -> reqs,
                            asDouble -> doubleReqs)) {
      val fused = rowsOf(SearchApi.searchRequests(corpus, b, 10))
      val want = rowsOf(crossJoinReference(corpus, b, 10))
      assert(fused == want)
      assert(fused.map(_._1).toSet == Set(0L, 1L, 2L, 3L, 4L, 11L, 12L, 13L))
      assert(fused.count(_._1 == 0L) == 10 && fused.count(_._1 == 2L) == 5 &&
        fused.count(_._1 == 11L) == 3)
    }
    assert(SearchApi.searchRequests(holed, batch(Nil), 10).collect().isEmpty)
    assert(crossJoinReference(holed, batch(Nil), 10).collect().isEmpty)
  }

  test("one fused pass: a single corpus scan, no Q×N join or range " +
    "exchange, at most 3 jobs per batch") {
    val plan = SearchApi.searchRequestsQuery(spark, sf)
      .queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllMatchIn(plan).length == 1, plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("rangepartitioning"), plan)

    val raw = spark.read.parquet(s"$sf/embeddings.parquet")
    val corpus = raw.select(col("vec_id").as("id"),
      col("embedding").as("vec"), col("label"))
    val reqs = raw.where(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        lit(10L).as("k"), lit("L2").as("metric"), lit("!=").as("fop"),
        lit(5L).as("fval"))
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach(jobs.add)
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup("searchapi-batch", "one batch, build and action")
      val n = try SearchApi.searchRequests(corpus, reqs, 10).collect().length
        finally sc.clearJobGroup()
      assert(n == 60)
      // listener delivery is async and in order: once a later marker
      // job's start arrives, every job of the batch has been seen
      sc.setJobGroup("searchapi-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (!jobs.contains("searchapi-marker") && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(jobs.contains("searchapi-marker"), "marker job never observed")
      val batchJobs = jobs.toArray.count(_ == "searchapi-batch")
      assert(batchJobs >= 1 && batchJobs <= 3, s"$batchJobs jobs for one batch")
    } finally sc.removeSparkListener(l)
  }

  test("a batch above MaxBatchRequests fails loudly, naming the limit") {
    def reqs(n: Int) = spark.range(n).select(col("id").as("qid"),
      array_repeat(lit(0.1f), 64).as("qvec"), lit(10L).as("k"),
      lit("L2").as("metric"), lit(null).cast("string").as("fop"),
      lit(0L).as("fval"))
    val e = intercept[IllegalArgumentException] {
      SearchApi.searchRequests(data, reqs(SearchApi.MaxBatchRequests + 1), 10)
    }
    assert(e.getMessage.contains(
      s"MaxBatchRequests=${SearchApi.MaxBatchRequests}"), e.getMessage)
    // exactly at the bound the batch runs
    assert(SearchApi.searchRequests(data, reqs(SearchApi.MaxBatchRequests), 10)
      .select("qid").distinct().count() == SearchApi.MaxBatchRequests)
  }
}
