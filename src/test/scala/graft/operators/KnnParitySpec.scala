package graft.operators

import java.nio.file.Files

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact kNN on the fused per-query heaps ([[Knn.topK]],
  * [[Knn.topKExcludingSelf]], [[Knn.topKFiltered]], [[Knn.recommend]])
  * against the broadcast cross join it replaced ([[LegacyKnn]],
  * test-side only): the rows, their (qid, rk) order, the scores' bits
  * (also before the 4dp round) and the schema, nullability included,
  * must be EXACTLY equal — for
  * every metric, degenerate query vectors, repeated and NULL qids,
  * k = 0 and k above the corpus, float and double corpora, an int qid,
  * and a corpus of tied vectors and duplicate ids.
  */
class KnnParitySpec extends SparkSuite {
  import Knn.Metric

  private def corpus(dir: String): DataFrame = Tables.embeddings(spark, dir)
    .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))

  private def vecs(dir: String): Array[Seq[Float]] =
    Tables.table(spark, dir, "embeddings").orderBy("vec_id").collect()
      .map(_.getSeq[Float](1))

  /** Every query shape the engine distinguishes. */
  private def queries(dir: String, qidType: DataType = LongType): DataFrame = {
    val v = vecs(dir)
    def q(i: Int): Any = if (qidType == IntegerType) i else i.toLong
    val rows = Seq[(Any, Seq[Float])](
      (q(0), v(0)), (q(1), v(1)),
      (null, v(2)),                              // NULL qid
      (q(3), null),                              // NULL qvec
      (q(4), v(4).take(10)),                     // dimension mismatch
      (q(5), Seq.fill(v(5).length)(0f)),         // zero norm
      (q(6), v(6).updated(5, Float.NaN)),        // NaN component
      (q(7), v(7)), (q(7), v(8)),                // repeated qid, one heap
      (q(9), v(9)))
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (i, x) => Row(i, x) }: _*),
      StructType(Seq(StructField("qid", qidType), StructField("qvec", ArrayType(FloatType)))))
  }

  /** The rows in order, doubles by their bits (a NaN score equals itself). */
  private def bits(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case x => x
    })

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, s"$what: schema ${got.schema} vs ${want.schema}")
    val (g, w) = (bits(got), bits(want))
    assert(g == w, s"$what: only new ${g.diff(w).take(5)}; only legacy ${w.diff(g).take(5)}")
  }

  private val filter: Column = col("label") =!= 3

  /** Each metric plain, excluding self and filtered, at k. */
  private def everyMetric(data: DataFrame, q: DataFrame, k: Int, what: String): Unit =
    for (m <- Metric.values.toSeq) {
      assertSame(Knn.topK(data, q, k, m), LegacyKnn.topK(data, q, k, m, excludeSelf = false),
        s"$what $m")
      assertSame(Knn.topKExcludingSelf(data, q, k, m),
        LegacyKnn.topK(data, q, k, m, excludeSelf = true), s"$what $m excluding self")
      assertSame(Knn.topKFiltered(data, q, k, m, filter),
        LegacyKnn.topK(data.where(filter), q, k, m, excludeSelf = false), s"$what $m filtered")
    }

  test("every metric, plain, excluding self and filtered, on every query shape") {
    val q = queries(sf)
    everyMetric(corpus(sf), q, 10, "float corpus")
    val got = Knn.topK(corpus(sf), q, 10, Metric.Cosine).collect()
    val qids = got.map(_.get(0)).toSet
    // NULL qvec, dimension mismatch and zero norm score nothing; the
    // repeated qid pools one heap; a NULL qid is an answer of its own
    assert(!qids(3L) && !qids(4L) && !qids(5L) && qids(null) && qids(6L))
    assert(got.count(_.get(0) == 7L) == 10)
  }

  /** The engine's answer before the 4dp round: the query set and
    * aggregate [[Knn.topK]] builds, without the answer tail's round.
    */
  private def unrounded(data: DataFrame, q: DataFrame, k: Int, m: Metric.Value): DataFrame =
    data.agg(GraftColumnBridge.column(RequestTopK.forQueries(
        q.select("qid", "qvec").collect().toSeq, q.schema("qid"), k, m.id)
        .toAggregateExpression()).as("top"))
      .select(inline(col("top"))).orderBy("qid", "rk")

  test("scores are bit-equal to the kernels' before the 4dp round") {
    val asDouble = corpus(sf).withColumn("vec", col("vec").cast("array<double>"))
    for (data <- Seq(corpus(sf), asDouble); m <- Metric.values.toSeq)
      assertSame(unrounded(data, queries(sf), 10, m),
        LegacyKnn.topK(data, queries(sf), 10, m, excludeSelf = false, rounded = false),
        s"unrounded $m")
  }

  test("double corpus, double queries and an int qid") {
    val asDouble = corpus(sf).withColumn("vec", col("vec").cast("array<double>"))
    everyMetric(asDouble, queries(sf), 10, "double corpus")
    everyMetric(asDouble, queries(sf).withColumn("qvec", col("qvec").cast("array<double>")),
      10, "double corpus and queries")
    val intQ = queries(sf, IntegerType)
    everyMetric(corpus(sf), intQ, 10, "int qid")
    assert(Knn.topK(corpus(sf), intQ, 10, Metric.L2).schema("qid").dataType == IntegerType)
  }

  test("k = 0 and k above the corpus size") {
    val q = queries(sf)
    for (m <- Metric.values.toSeq) {
      assertSame(Knn.topK(corpus(sf), q, 0, m),
        LegacyKnn.topK(corpus(sf), q, 0, m, excludeSelf = false), s"k=0 $m")
      assertSame(Knn.topKFiltered(corpus(sf), q, 600, m, filter),
        LegacyKnn.topK(corpus(sf).where(filter), q, 600, m, excludeSelf = false), s"k=600 $m")
    }
    assert(Knn.topK(corpus(sf), q, 0, Metric.L2).collect().isEmpty)
  }

  test("recommend excludes its examples, and a NULL example id excludes all") {
    val v = vecs(sf)
    val rows = Seq[(Any, Seq[Double], Any, Any, Any)](
      (0L, v(0).map(_.toDouble), 0L, 1L, 6L),
      (1L, v(2).map(x => 2.0 * x - 0.5), 2L, 3L, 7L),
      (2L, v(4).map(_.toDouble), 4L, null, 8L),           // NULL example id
      (3L, Seq.fill(v(0).length)(0.0), 9L, 10L, 11L),     // zero norm
      (3L, v(12).map(_.toDouble), 12L, 13L, 14L),         // repeated qid
      (null, v(15).map(_.toDouble), 15L, 16L, 17L))
    val reqs = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (a, b, c, d, e) => Row(a, b, c, d, e) }: _*),
      StructType(Seq(StructField("qid", LongType), StructField("qvec", ArrayType(DoubleType)),
        StructField("ex1", LongType), StructField("ex2", LongType), StructField("ex3", LongType))))
    val data = corpus(sf).select("id", "vec")
    assertSame(Knn.recommend(data, reqs, 10), LegacyKnn.recommend(data, reqs, 10), "recommend")
    val got = Knn.recommend(data, reqs, 10).collect()
    assert(!got.exists(_.get(0) == 2L))
    assert(got.filter(_.get(0) == 0L).map(_.getLong(2)).toSet.intersect(Set(0L, 1L, 6L)).isEmpty)
  }

  test("tied vectors and duplicate ids rank as the legacy heap ranks them") {
    val dir = Files.createTempDirectory(java.nio.file.Paths.get("target"), "knnties")
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
      val data = corpus(d)
      val q = queries(sf)
      val tied = LegacyKnn.topK(data, q, 10, Metric.L2, excludeSelf = false)
        .groupBy("qid", "score").count().where(col("count") > 1).count()
      assert(tied > 0, "the fixture has no tied scores")
      everyMetric(data, q, 10, "ties")
    } finally new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
  }
}
