package graftbench

import graft.Tables
import graft.operators.Dedup
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Batch curation: each job deduplicates a fresh ingest wave with
  * MinHash pairs and containment pairs — the CPU- and shuffle-bound
  * path (md5 kernels, band joins, a skewed boilerplate bucket) that no
  * vector workload exercises. `waves` waves are written per
  * preparation: wave 0 serves setup and warm-up, the others are timed
  * in turn.
  */
final class DedupBatch(ctx: Ctx, waves: Int) extends Workload {
  val name = "dedup_batch"
  val clients = 1
  val docs = 5000
  val minJaccard = 0.5
  val minContainment = 0.8
  val maxDf = 8
  val mh = "Dedup.minhashPairs"
  val cp = "Dedup.containmentPairsOn"
  private var base: String = _
  private var rep = 0

  private def waveDir(w: Int) = s"$base/wave-$w"
  private def waveSeed(w: Int) = rep * 1000 + w

  case class Answer(wave: Int, pairs: Seq[(Long, Long, Double)],
                    contained: Seq[(Long, Long, Double)])

  private def job(w: Int, req: Req): Answer = {
    val dir = waveDir(w)
    val p = req.phase(mh, "build")(Dedup.minhashPairs(ctx.spark, dir, minJaccard))
    val pairs = req.phase(mh, "action")(p.collect())
    val c = req.phase(cp, "build")(Dedup.containmentPairsOn(
      Tables.documents(ctx.spark, dir).select("doc_id", "text"),
      minContainment, maxDf))
    val contained = req.phase(cp, "action")(c.collect())
    Answer(w, pairs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq,
      contained.map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"),
        r.getAs[Double]("containment"))).toSeq)
  }


  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  def prepare(r: Int, firstTouch: Boolean): Map[String, Double] = {
    rep = r
    base = ctx.dir(s"dedup-$r")
    (0 until waves).foreach { w =>
      val ds = Gen.wave(ctx.seed, waveSeed(w), docs)
      Workload.frame(ctx.spark, schema, ds.map(d => Row(d.id, d.text)).toSeq)
        .repartition(2 * ctx.cores)
        .write.mode("overwrite").parquet(s"${waveDir(w)}/documents.parquet")
    }
    if (!firstTouch) return Map.empty
    val t0 = System.nanoTime()
    job(0, Req.untraced(ctx.spark.sparkContext, "first"))
    Map("dedup" -> (System.nanoTime() - t0) / 1e9)
  }

  def warmup(): Unit = job(0, Req.untraced(ctx.spark.sparkContext, "warm"))

  def request(client: Int, idx: Int, req: Req): (String, Int, AnyRef) =
    ("dedup", docs, job(1 + idx % (waves - 1), req))

  def warmRequest(kind: String, idx: Int, req: Req): Unit = job(0, req)

  /** Every reported pair meets its threshold under an exact Jaccard or
    * containment of the generated texts, with the reported value; and
    * at least 95% of planted pairs with exact Jaccard ≥ 0.9 come back
    * (4 bands of 3 rows catch such a pair with probability ≥ 0.994).
    */
  def check(records: Seq[Record]): Check = {
    val ok = records.filter(_.error.isEmpty)
    val byWave = ok.map(_.answer.asInstanceOf[Answer].wave).distinct
    val truth = Exact.par(byWave, ctx.cores) { w =>
      val ds = Gen.wave(ctx.seed, waveSeed(w), docs)
      w -> (ds, ds.map(d => Gen.shingles(d.text)))
    }.toMap
    val results = Exact.par(ok, ctx.cores) { r =>
      val a = r.answer.asInstanceOf[Answer]
      val (ds, sh) = truth(a.wave)
      def inter(x: Long, y: Long) = sh(x.toInt).count(sh(y.toInt).contains)
      def jac(x: Long, y: Long) = {
        val n = inter(x, y).toDouble
        n / (sh(x.toInt).size + sh(y.toInt).size - n)
      }
      val pairsOk = a.pairs.forall { case (x, y, j) =>
        val e = jac(x, y)
        e >= minJaccard - 1e-12 && math.abs(Exact.round4(e) - j) <= 1.5e-4
      }
      val contOk = a.contained.forall { case (x, y, c) =>
        val e = inter(x, y).toDouble / math.min(sh(x.toInt).size, sh(y.toInt).size)
        e >= minContainment - 1e-12 && math.abs(Exact.round4(e) - c) <= 1.5e-4
      }
      val found = a.pairs.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
      val planted = ds.filter(d => d.src >= 0 && d.editRate >= 0)
        .map(d => (math.min(d.src, d.id), math.max(d.src, d.id)))
        .filter { case (x, y) => x != y && jac(x, y) >= 0.9 }.distinct
      val recall =
        if (planted.isEmpty) 1.0 else planted.count(found).toDouble / planted.length
      ((r.client, r.idx), pairsOk && contOk && recall >= 0.95, recall,
        a.pairs.size, a.contained.size)
    }
    Check(results.filterNot(_._2).map(_._1).toSet,
      if (results.isEmpty) 0.0 else results.map(_._3).sum / results.size,
      results.size,
      Seq(s"${results.size} jobs: ${results.map(_._4).sum} minhash pairs and " +
        s"${results.map(_._5).sum} containment pairs verified exactly"))
  }

  override def extraMetrics(records: Seq[Record], check: Check): Seq[Stats.Metric] = {
    val good = records.filter(r => r.error.isEmpty && !check.wrong((r.client, r.idx)))
    val end = records.map(_.endNs).max
    val start = records.map(_.startNs).min
    Seq(
      Stats.Metric("throughput_docs_s", good.map(_.units).sum / ((end - start) / 1e9),
        "docs/s", good.size),
      Stats.Metric("job_p50_s", Stats.median(Stats.latencies(records.map(r =>
        (r.sec, r.error.isEmpty && !check.wrong((r.client, r.idx)))))), "s", records.size))
  }

  def artifactDir: String = base

  def layerInputs: LayerInputs = {
    val p = s"${waveDir(0)}/documents.parquet"
    val d = ctx.spark.read.parquet(p)
    LayerInputs(p, ctx.spark.range(docs).selectExpr(
      "transform(sequence(0, 63), i -> cast(sin(id * 64 + i) as float)) as vec"),
      d.select("text").withColumnRenamed("text", "s"))
  }
}
