package graft

import graft.operators.{Ann, Knn, SearchApi}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Codegen class-cache reuse: a request batch's values are data, never
  * generated code. Each search runs once to warm, then again with other
  * query vectors, filter values and ids; the second run must compile no
  * new class (Spark's `CodegenMetrics` compile count). A batch literal
  * inlined below an aggregate, or a plan node whose generated source is
  * unique per plan (a `Limit`'s counter), recompiles every batch.
  */
class CodegenReuseSpec extends SparkSuite {

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private lazy val vecs: Array[Seq[Float]] =
    Tables.table(spark, sf, "embeddings").orderBy("vec_id").collect()
      .map(_.getSeq[Float](1))

  private def data = Tables.embeddings(spark, sf)
    .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))

  private def frame(rows: Seq[Row], fields: (String, DataType)*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  /** Run `search` on batch 0, then on batch 1: 0 compiles the second time. */
  private def reuses(what: String)(search: Int => DataFrame): Unit = {
    search(0).collect()
    val n = compiles(search(1).collect())
    assert(n == 0, s"$what: the second batch compiled $n new classes")
  }

  // batch b of a test: qids 100b.., vectors from row base + 40b..,
  // filter value 5 - 2b; each test has its own base, so no batch
  // repeats a vector an earlier test compiled
  private def queries(b: Int, n: Int, base: Int): Seq[(Long, Seq[Float])] =
    (0 until n).map(i => (100L * (b + 1) + i, vecs(base + 40 * b + 3 * i + 1)))

  test("a /search batch reuses its compiled classes") {
    reuses("/search") { b =>
      SearchApi.searchRequests(data, frame(queries(b, 6, 0).zipWithIndex.map {
        case ((q, v), i) => Row(q, v, 10L, Seq("L2", "IP", "L1")(i % 3),
          Seq("=", "!=", null)(i % 3), 5L - 2 * b) },
        "qid" -> LongType, "qvec" -> ArrayType(FloatType), "k" -> LongType,
        "metric" -> StringType, "fop" -> StringType, "fval" -> LongType), 10)
    }
  }

  test("a routed batch reuses its compiled classes") {
    reuses("routed") { b =>
      SearchApi.searchRouted(spark, sf, data, frame(queries(b, 8, 100).zipWithIndex.map {
        case ((q, v), i) => Row(q, v, Seq("FLAT", "IVF", "HNSW", "HNSW_HIER")(i % 4),
          10L, "L2", if (i % 4 == 0) "=" else null, 5L - 2 * b) },
        "qid" -> LongType, "qvec" -> ArrayType(FloatType), "index_type" -> StringType,
        "k" -> LongType, "metric" -> StringType, "fop" -> StringType,
        "fval" -> LongType), 10)
    }
  }

  private def qset(b: Int, base: Int): DataFrame =
    frame(queries(b, 5, base).map { case (q, v) => Row(q, v) },
      "qid" -> LongType, "qvec" -> ArrayType(FloatType))

  test("a graph descent reuses its compiled classes") {
    reuses("nswSearch")(b => Ann.nswSearch(spark, sf, qset(b, 200)))
  }

  test("an exact Knn.topK reuses its compiled classes") {
    reuses("Knn.topK")(b => Knn.topK(data, qset(b, 300), 10, Knn.Metric.Cosine))
    reuses("Knn.topKFiltered")(b =>
      Knn.topKFiltered(data, qset(b, 400), 10, Knn.Metric.L2, col("label") =!= 3))
  }
}
