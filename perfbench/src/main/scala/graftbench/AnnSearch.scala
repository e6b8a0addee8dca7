package graftbench

import graft.Tables
import graft.operators.SearchApi
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Routed approximate batches (IVF, NSW graph, layered hierarchy, NSW
  * graph at per-request ef) over a corpus whose centroid, kNN-graph and
  * hierarchy memos all fit and are built during setup. Time sits in
  * driver-side build-phase jobs.
  */
final class AnnSearch(ctx: Ctx) extends Workload {
  val name = "ann_search"
  val clients = 2
  val rows: Long = Gen.BaseRows.toLong
  val batchSize = 8
  val k = 10
  val routed = "SearchApi.searchRouted"
  val routedEf = "SearchApi.searchRoutedEf"
  /** One batch is one leg; each client cycles through the legs in this
    * order, client c starting at leg c. With every other operation traced
    * in a traced run, client 0 traces IVF and HNSW_HIER batches and
    * client 1 the other two. (With four clients, one per leg, the job
    * streams kept every core busy and latency followed the host's load:
    * over ten seeds its quartile spread was 0.19 of the median.)
    */
  val legs = Seq("IVF", "HNSW", "HNSW_HIER", "HNSW_EF")
  private var dir: String = _

  private val schema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("qvec", Workload.floatVec, nullable = false),
    StructField("index_type", StringType, nullable = false),
    StructField("k", LongType, nullable = false),
    StructField("metric", StringType, nullable = false),
    StructField("fop", StringType, nullable = true),
    StructField("fval", LongType, nullable = false),
    StructField("ef", LongType, nullable = false)))

  private def data: DataFrame = Tables.embeddings(ctx.spark, dir)
    .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))

  case class Answer(reqs: Seq[Gen.AnnReq], got: Map[Long, Seq[(Long, Double)]])

  def legOf(client: Int, idx: Int): String = legs((idx + client) % legs.size)

  /** One batch on one leg: `HNSW_EF` goes through searchRoutedEf (every
    * request HNSW at its own ef), the others through searchRouted.
    */
  private def batch(leg: String, client: Int, idx: Int, req: Req): Answer = {
    val ef = leg == "HNSW_EF"
    val reqs = Gen.annBatch(ctx.seed, rows, client, idx, batchSize,
      if (ef) "HNSW" else leg)
    val df = Workload.frame(ctx.spark, schema, reqs.map(r =>
      Row(r.qid, r.qvec, r.indexType, k.toLong, "L2", null, 0L, r.ef)))
    val op = if (ef) routedEf else routed
    val out = req.phase(op, "build") {
      if (ef) SearchApi.searchRoutedEf(ctx.spark, dir, data, df, k)
      else SearchApi.searchRouted(ctx.spark, dir, data, df, k)
    }
    val got = req.phase(op, "action")(out.collect())
    Answer(reqs, got.toSeq
      .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2), r.getDouble(3))))
      .groupBy(_._1).map { case (q, xs) =>
        q -> xs.map(_._2).sortBy(_._1).map(x => (x._2, x._3)) })
  }

  /** Writes the corpus, then builds each leg's memos with that leg's
    * first request (the IVF centroids, the kNN graph and its symmetric
    * edges, the hierarchy layers and enterpoint).
    */
  def prepare(rep: Int, firstTouch: Boolean): Map[String, Double] = {
    dir = ctx.dir(s"ann-$rep")
    Workload.writeCorpus(ctx, s"$dir/embeddings.parquet", rows, 2 * ctx.cores)
    if (!firstTouch) return Map.empty
    legs.zipWithIndex.map { case (l, i) =>
      val t0 = System.nanoTime()
      batch(l, 90 + rep, i, Req.untraced(ctx.spark.sparkContext, "first"))
      l -> (System.nanoTime() - t0) / 1e9
    }.toMap
  }

  /** Each client's first batch, all at once as in the window (the
    * preparations ran the legs one at a time).
    */
  def warmup(): Unit =
    Exact.par(0 until clients, clients)(c =>
      batch(legOf(c, 0), 80 + c, 0, Req.untraced(ctx.spark.sparkContext, "warm")))

  def request(client: Int, idx: Int, req: Req): (String, Int, AnyRef) = {
    val leg = legOf(client, idx)
    (leg, batchSize, batch(leg, client, idx, req))
  }

  def warmRequest(kind: String, idx: Int, req: Req): Unit = batch(kind, 70, idx, req)

  /** recall@10 of every request against exact cosine top-10; a batch is
    * wrong if a request returns other than 10 distinct ids or reports a
    * score its id does not have.
    */
  def check(records: Seq[Record]): Check = {
    val ids = Array.tabulate(rows.toInt)(_.toLong)
    val vecs = ids.map(Gen.corpusVec(ctx.seed, _))
    val all = records.filter(_.error.isEmpty).flatMap { r =>
      val a = r.answer.asInstanceOf[Answer]
      a.reqs.map(q => (r, q, a.got.getOrElse(q.qid, Nil)))
    }
    val results = Exact.par(all, ctx.cores) { case (r, q, got) =>
      val want = Exact.topK(ids, vecs, k, Exact.cosine(_, q.qvec), lowerIsBetter = false)
      val scoresOk = got.forall { case (id, s) =>
        id >= 0 && id < rows &&
          math.abs(Exact.round4(Exact.cosine(vecs(id.toInt), q.qvec)) - s) <= 1.5e-4
      }
      val ok = got.size == k && got.map(_._1).distinct.size == k && scoresOk
      val hit = got.map(_._1).toSet.intersect(want.map(_._1).toSet).size
      ((r.client, r.idx), ok, hit.toDouble / k)
    }
    Check(results.filterNot(_._2).map(_._1).toSet,
      if (results.isEmpty) 0.0 else results.map(_._3).sum / results.size,
      results.size, Seq(s"${results.size} requests scored against exact cosine top-$k"))
  }

  /** Each leg's median batch latency (failures as +∞). */
  override def extraMetrics(records: Seq[Record], check: Check): Seq[Stats.Metric] =
    records.groupBy(r => legOf(r.client, r.idx)).toSeq.sortBy(_._1).map { case (l, rs) =>
      Stats.Metric(s"latency_p50_s.$l", Stats.median(Stats.latencies(rs.map(r =>
        (r.sec, r.error.isEmpty && !check.wrong((r.client, r.idx)))))), "s", rs.size)
    }

  def artifactDir: String = dir

  def layerInputs: LayerInputs = {
    val d = ctx.spark.read.parquet(s"$dir/embeddings.parquet")
    LayerInputs(s"$dir/embeddings.parquet", d.select(col("embedding").as("vec")),
      d.select(concat(lit("v|"), col("vec_id").cast("string")).as("s")))
  }
}
