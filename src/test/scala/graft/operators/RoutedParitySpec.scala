package graft.operators

import java.nio.file.Files

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The driver-side routed API ([[SearchApi.searchRouted]],
  * [[SearchApi.searchRoutedEf]], [[Ann.ivfSearchCached]]) against the
  * relational plans it replaced ([[LegacyRouted]], test-side only):
  * rows with their multiplicity and the schema, nullability included,
  * must be EXACTLY equal — on every leg, mixed batches with FLAT, the
  * routing quirks (repeated, NULL qid; NULL and unknown index_type;
  * NULL k, k = 0), degenerate query vectors, a corpus of tied vectors
  * and duplicate ids, an empty batch and an int-typed qid.
  */
class RoutedParitySpec extends SparkSuite {

  private def reqSchema(qidType: DataType) = StructType(Seq(
    StructField("qid", qidType), StructField("qvec", ArrayType(FloatType)),
    StructField("index_type", StringType), StructField("k", LongType),
    StructField("metric", StringType), StructField("fop", StringType),
    StructField("fval", LongType), StructField("ef", LongType)))

  private def vecs(dir: String): Array[Seq[Float]] =
    Tables.table(spark, dir, "embeddings").orderBy("vec_id").collect()
      .map(_.getSeq[Float](1))

  /** (qid, qvec, index_type, k, ef) requests; metric and filter cycle. */
  private def batch(reqs: Seq[(Any, Seq[Float], String, java.lang.Long, java.lang.Long)],
                    qidType: DataType = LongType): DataFrame = {
    val list = new java.util.ArrayList[Row]()
    reqs.zipWithIndex.foreach { case ((qid, v, t, k, ef), i) =>
      list.add(Row(qid, v, t, k, Seq("L2", "IP", "L1")(i % 3),
        Seq("=", "!=", null)(i % 3), 5L, ef)) }
    spark.createDataFrame(list, reqSchema(qidType))
  }

  /** Every request shape the routing distinguishes. */
  private def mixed(dir: String, qidType: DataType = LongType): DataFrame = {
    val v = vecs(dir)
    val dim = v(0).length
    def q(i: Int): Any = if (qidType == IntegerType) i else i.toLong
    val zero = Seq.fill(dim)(0f)
    val nan = v(13).updated(5, Float.NaN)
    batch(Seq[(Any, Seq[Float], String, java.lang.Long, java.lang.Long)](
      (q(0), v(0), "FLAT", 10L, 16L),
      (q(1), v(1), "IVF", 10L, 48L),
      (q(2), v(2), "HNSW", 5L, 16L),
      (q(3), v(3), "HNSW_HIER", 7L, 48L),
      (q(4), v(4), "FOO", 5L, 32L),           // unknown: IVF
      (q(5), v(5), null, 10L, 48L),           // NULL index_type: no leg
      (q(1), v(6), "IVF", 3L, 16L),           // repeated qid, one heap
      (q(2), v(7), "HNSW", 10L, null),        // repeated qid, NULL ef
      (null, v(8), "IVF", 10L, 48L),          // NULL qid
      (null, v(9), "HNSW", 10L, 48L),
      (q(9), v(9), "IVF", null, 48L),         // NULL k
      (q(10), v(10), "HNSW", 0L, 48L),        // k = 0
      (q(11), zero, "IVF", 10L, 48L),         // zero norm
      (q(12), Seq(1f, 2f, 3f), "HNSW", 10L, 16L), // 3-d
      (q(13), nan, "IVF", 10L, 48L),          // NaN component
      (q(14), nan, "HNSW_HIER", 10L, 48L),
      (q(15), v(15), "FLAT", 5L, 16L),
      (q(16), v(16), "IVF", 10L, 16L),        // one qid on two legs
      (q(16), v(16), "HNSW", 8L, 48L),
      (q(17), v(17), "HNSW_HIER", 10L, 16L),
      (q(18), v(18), "FLAT", 10L, 48L)), qidType)
  }

  /** Rows with their multiplicity; doubles by their bits, so a NaN
    * score equals itself.
    */
  private def counted(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case v => v
    }).groupBy(identity).map { case (r, rs) => r -> rs.size }

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, s"$what: schema ${got.schema} vs ${want.schema}")
    val (g, w) = (counted(got), counted(want))
    assert(g == w, s"$what: only new ${g.toSet -- w.toSet}; only legacy ${w.toSet -- g.toSet}")
    val rows = got.collect()
    val ord = TypeUtils.getInterpretedOrdering(got.schema("qid").dataType)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(got.schema("qid").dataType)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        val c = ord.compare(toCatalyst(a.get(0)), toCatalyst(b.get(0)))
        assert(c < 0 || (c == 0 && a.getInt(1) <= b.getInt(1)), s"$what: not in (qid, rk) order")
      case _ =>
    }
  }

  private def data(dir: String) = Tables.embeddings(spark, dir)
    .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))

  private def routed(dir: String, reqs: DataFrame, what: String): Unit = {
    assertSame(SearchApi.searchRouted(spark, dir, data(dir), reqs, 10),
      LegacyRouted.searchRouted(spark, dir, data(dir), reqs, 10), what)
    assertSame(SearchApi.searchRoutedEf(spark, dir, data(dir), reqs, 10),
      LegacyRouted.searchRoutedEf(spark, dir, data(dir), reqs, 10), s"$what (ef)")
  }

  test("mixed batch: every leg, FLAT included, and every routing quirk") {
    val reqs = mixed(sf)
    routed(sf, reqs, "mixed")
    val got = SearchApi.searchRouted(spark, sf, data(sf), reqs, 10).collect()
    val qids = got.map(_.get(0)).toSet
    // NULL index_type, NULL k, NULL qid and k = 0 return nothing
    assert(!qids(5L) && !qids(9L) && !qids(10L) && !qids(null))
    // the repeated IVF qid pools one heap and comes back per request
    assert(got.count(_.get(0) == 1L) == 10 + 3)
    assert(qids(0L) && qids(1L) && qids(2L) && qids(3L) && qids(4L) && qids(16L))
    routed(sf, reqs.where(col("index_type") =!= "FLAT"), "approximate only")
  }

  test("single-leg batches, the NULL-typed batch and an empty batch") {
    val reqs = mixed(sf)
    for (t <- Seq("FLAT", "IVF", "HNSW", "HNSW_HIER"))
      routed(sf, reqs.where(col("index_type") === t), s"all $t")
    routed(sf, reqs.where(col("index_type").isNull), "NULL index_type only")
    routed(sf, reqs.where(lit(false)), "empty")
    val q = reqs.where(col("index_type").isin("IVF", "FOO")).select("qid", "qvec")
    assertSame(Ann.ivfSearchCached(spark, sf, q, 10),
      LegacyRouted.ivfSearchCached(spark, sf, q, 10).where(col("qid").isNotNull),
      "ivfSearchCached")
  }

  test("int-typed qid keeps its type and its answers") {
    val reqs = mixed(sf, IntegerType)
    routed(sf, reqs, "int qid")
    assert(SearchApi.searchRouted(spark, sf, data(sf), reqs, 10)
      .schema("qid").dataType == IntegerType)
  }

  test("tied vectors and duplicate ids rank as the aggregate ranks them") {
    val dir = Files.createTempDirectory(java.nio.file.Paths.get("target"), "routedties")
    try {
      val src = Tables.table(spark, sf, "embeddings")
      // ids 150-299 repeat the vectors of 0-149 (ties); ids 0-19 appear
      // twice, the second time with the vector of id 400+ (duplicate ids)
      src.where(col("vec_id") < 150)
        .unionByName(src.where(col("vec_id") < 150).withColumn("vec_id", col("vec_id") + 150))
        .unionByName(src.where(col("vec_id") >= 400 && col("vec_id") < 420)
          .withColumn("vec_id", col("vec_id") - 400))
        .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
      val d = dir.toString
      val v = vecs(d)
      val reqs = batch((0 until 12).map { i =>
        (i.toLong % 8: Any, v(i * 11), Seq("IVF", "HNSW", "HNSW_HIER", "FLAT")(i % 4),
          java.lang.Long.valueOf(10L), java.lang.Long.valueOf(48L)) })
      routed(d, reqs, "ties")
      val ivf = SearchApi.searchRouted(spark, d, data(d),
        reqs.where(col("index_type") === "IVF"), 10)
      assert(ivf.groupBy("qid", "score").count().where(col("count") > 1).count() > 0,
        "fixture has no tied scores")
    } finally new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
  }
}
