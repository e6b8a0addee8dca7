package graftbench

import graft.operators.SearchApi
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact `/search` batches over a corpus larger than every program
  * cache: each batch is one full corpus scan (re-read from parquet)
  * plus one request-sized validation job.
  */
final class FlatSearch(ctx: Ctx) extends Workload {
  val name = "flat_search"
  val clients = 2
  val rows: Long = 64L * Gen.BaseRows
  val batchSize = 16
  val op = "SearchApi.searchRequests"
  private var corpus: String = _

  private val schema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("qvec", Workload.floatVec, nullable = false),
    StructField("k", LongType, nullable = false),
    StructField("metric", StringType, nullable = false),
    StructField("fop", StringType, nullable = true),
    StructField("fval", LongType, nullable = false)))

  private def data: DataFrame = ctx.spark.read.parquet(corpus)
    .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))

  /** Answer of one batch: its requests and, per qid, (nn_id, score)
    * best first.
    */
  case class Answer(reqs: Seq[Gen.FlatReq], got: Map[Long, Seq[(Long, Double)]])

  private def batch(client: Int, idx: Int, req: Req): Answer = {
    val reqs = Gen.flatBatch(ctx.seed, rows, client, idx, batchSize)
    val df = Workload.frame(ctx.spark, schema, reqs.map(r =>
      Row(r.qid, r.qvec, r.k.toLong, r.metric, r.fop.orNull, r.fval)))
    val out = req.phase(op, "build")(SearchApi.searchRequests(data, df, 10))
    val got = req.phase(op, "action")(out.collect())
    Answer(reqs, got.toSeq
      .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2), r.getDouble(3))))
      .groupBy(_._1).map { case (q, xs) =>
        q -> xs.map(_._2).sortBy(_._1).map(x => (x._2, x._3)) })
  }


  def prepare(rep: Int, firstTouch: Boolean): Map[String, Double] = {
    corpus = ctx.dir(s"flat-$rep/embeddings.parquet")
    Workload.writeCorpus(ctx, corpus, rows, 2 * ctx.cores)
    if (!firstTouch) return Map.empty
    val t0 = System.nanoTime()
    batch(90 + rep, 0, Req.untraced(ctx.spark.sparkContext, "first"))
    Map(op -> (System.nanoTime() - t0) / 1e9)
  }

  def warmup(): Unit = (0 until 4).foreach { round =>
    Exact.par(0 until clients, clients)(c =>
      batch(80 + c, round, Req.untraced(ctx.spark.sparkContext, "warm")))
  }

  def request(client: Int, idx: Int, req: Req): (String, Int, AnyRef) =
    (op, batchSize, batch(client, idx, req))

  def warmRequest(kind: String, idx: Int, req: Req): Unit = batch(70, idx, req)

  /** A seeded sample (1 in 12) of the requests against a brute force
    * over the generated corpus.
    */
  def check(records: Seq[Record]): Check = {
    val sampled = records.filter(_.error.isEmpty).flatMap { r =>
      val a = r.answer.asInstanceOf[Answer]
      a.reqs.filter(q => Gen.rng(ctx.seed, "check", q.qid).nextInt(12) == 0)
        .map(q => (r, q, a.got.getOrElse(q.qid, Nil)))
    }
    val ids = Array.tabulate(rows.toInt)(_.toLong)
    val vecs = Exact.par((0 until ctx.cores), ctx.cores) { part =>
      (part until rows.toInt by ctx.cores).map(i => (i, Gen.corpusVec(ctx.seed, i)))
    }.flatten.sortBy(_._1).map(_._2).toArray
    val labels = Array.tabulate(rows.toInt)(i => Gen.label(ctx.seed, i))
    val results = Exact.par(sampled, ctx.cores) { case (r, q, got) =>
      val (score, lower) = q.metric match {
        case "L2" => ((v: Array[Float]) => Exact.l2(v, q.qvec), true)
        case "L1" => ((v: Array[Float]) => Exact.l1(v, q.qvec), true)
        case _    => ((v: Array[Float]) => Exact.dot(v, q.qvec), false)
      }
      val pass: Int => Boolean = q.fop match {
        case Some("=")  => i => labels(i) == q.fval
        case Some("!=") => i => labels(i) != q.fval
        case _          => _ => true
      }
      val want = Exact.topK(ids, vecs, q.k, score, lower, pass)
        .map { case (id, s) => (id, Exact.round4(s)) }
      val ok = Exact.sameRanking(got, want, id =>
        if (id < 0 || id >= rows || !pass(id.toInt)) None
        else Some(Exact.round4(score(vecs(id.toInt)))))
      val hit = got.map(_._1).toSet.intersect(want.map(_._1).toSet).size
      ((r.client, r.idx), ok, hit.toDouble / want.size)
    }
    Check(results.filterNot(_._2).map(_._1).toSet,
      if (results.isEmpty) 1.0 else results.map(_._3).sum / results.size,
      results.size, Seq(s"${results.size} sampled requests checked by brute force"))
  }

  def artifactDir: String = corpus

  def layerInputs: LayerInputs = {
    val d = ctx.spark.read.parquet(corpus)
    LayerInputs(corpus, d.select(col("embedding").as("vec")),
      d.select(concat(lit("v|"), col("vec_id").cast("string")).as("s")))
  }
}
