package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** What a workload sees of the run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val runDir: java.nio.file.Path, val cores: Int) {
  def dir(name: String): String = runDir.resolve(name).toAbsolutePath.toString
}

/** One closed-loop operation as the client saw it. `answer` is what the
  * program returned, kept for the checks that run after the window.
  */
case class Record(client: Int, idx: Int, kind: String, startNs: Long,
                  endNs: Long, error: Option[String], units: Int,
                  answer: AnyRef, req: Req) {
  def sec: Double = (endNs - startNs) / 1e9
}

/** Outcome of a workload's answer checks. `wrong` holds (client, idx)
  * of operations whose answer failed a check; `recall` is the share of
  * the exact answer set the program returned, over `recallN` answers.
  */
case class Check(wrong: Set[(Int, Int)], recall: Double, recallN: Int,
                 notes: Seq[String])

/** Frames the traced run's per-layer probes read: the workload corpus
  * as stored (`scanPath`), a vector column and a string column.
  */
case class LayerInputs(scanPath: String, vectors: DataFrame, strings: DataFrame)

trait Workload {
  def name: String
  def clients: Int
  /** Generate inputs and run the builds into fresh directories, then
    * (if `firstTouch`) send each request kind's first request. Returns
    * those first requests' latencies.
    */
  def prepare(rep: Int, firstTouch: Boolean = true): Map[String, Double]

  /** JIT warm-up requests after the last preparation (part of setup). */
  def warmup(): Unit

  /** One closed-loop operation: (kind, units completed, answer). */
  def request(client: Int, idx: Int, req: Req): (String, Int, AnyRef)

  def check(records: Seq[Record]): Check

  /** One warm request of `kind`, for the first-touch comparison. */
  def warmRequest(kind: String, idx: Int, req: Req): Unit

  /** Checks that run after the window (end state, fresh session):
    * how many ran, and a message per failed one.
    */
  def finish(): (Int, Seq[String]) = (0, Nil)

  /** Directory holding the last preparation's inputs and builds. */
  def artifactDir: String

  /** Workload-specific per-layer figures from the traced operations. */
  def layerExtras(records: Seq[Record], t: Tracer): Seq[Stats.Metric] = Nil

  def layerInputs: LayerInputs

  /** Extra end-to-end figures (printed, not in the gated set). */
  def extraMetrics(records: Seq[Record], check: Check): Seq[Stats.Metric] = Nil
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "flat_search"   => new FlatSearch(ctx)
    case "ann_search"    => new AnnSearch(ctx)
    case "upsert_search" => new UpsertSearch(ctx)
    case "dedup_batch"   => new DedupBatch(ctx, waves = ctx.seconds / 2 + 3)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val names: Seq[String] = Seq("flat_search", "ann_search", "upsert_search",
    "dedup_batch")

  /** Layer probes a traced run drives after its own window: one seeded
    * pass (operations per client) of an ungated workload, so the
    * persisted index and its maintenance (flat_search) and the dedup
    * operators (ann_search) are measured in every traced benchmark run.
    */
  def probes(workload: String, ctx: Ctx): Seq[(Workload, Int)] = workload match {
    case "flat_search" => Seq(new UpsertSearch(ctx) -> 5)
    case "ann_search"  => Seq(new DedupBatch(ctx, waves = 2) -> 1)
    case _ => Nil
  }

  /** A corpus row as written to parquet (the sf embeddings schema). */
  def embRow(seed: Long, id: Long): EmbRow =
    EmbRow(id, Gen.corpusVec(seed, id), Gen.label(seed, id))

  /** Write `rows` generated corpus rows as `files` parquet files. */
  def writeCorpus(ctx: Ctx, path: String, rows: Long, files: Int): Unit = {
    import ctx.spark.implicits._
    val seed = ctx.seed
    ctx.spark.range(0, rows, 1, files)
      .map(id => embRow(seed, id))
      .write.mode("overwrite").parquet(path)
  }

  val floatVec: ArrayType = ArrayType(FloatType, containsNull = false)

  def frame(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame = {
    val list = new java.util.ArrayList[Row](rows.size)
    rows.foreach(list.add)
    spark.createDataFrame(list, schema)
  }
}

case class EmbRow(vec_id: Long, embedding: Array[Float], label: Int)
