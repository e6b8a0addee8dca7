package graftbench

import java.nio.file.{Files, Path, Paths}

import graft.GraftSession
import graft.operators.Ann
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** A seeded write/read sequence against a persisted IVF index and HNSW
  * hierarchy, in cycles of six operations: an `hnswUpsert` of 1% of the
  * corpus (half moved ids, half new), a `hnswSearchIndexed` read, an
  * `ivfSearchIndexed` read filtered `label = x`, an `hnswDelete` of 1%,
  * an `ivfSearchIndexed` read filtered `label != x`, and a
  * `hnswSearchIndexed` read. Reads include the ids just written.
  *
  * The maintained index layout keeps (id, vec, cell) only, so the label
  * a filter reads is derived from the id: label = id mod 10.
  */
final class UpsertSearch(ctx: Ctx) extends Workload {
  val name = "upsert_search"
  val clients = 1
  val rows: Long = Gen.BaseRows.toLong
  val writeSize: Int = (rows / 100).toInt
  val k = 10
  val readBatch = 8
  val upsertOp = "Ann.hnswUpsert"
  val deleteOp = "Ann.hnswDelete"
  val hnswOp = "Ann.hnswSearchIndexed"
  val ivfOp = "Ann.ivfSearchIndexed"
  /** User bytes per written row: the id and 64 floats. */
  val rowBytes: Int = 8 + 4 * Gen.Dim

  private var dir: String = _
  private def idx = s"$dir/ivf"
  private def hier = s"$dir/hnsw"

  /** Live (id → vec) after the writes so far; each read keeps the
    * version it ran against.
    */
  private var live: Map[Long, Array[Float]] = Map.empty
  private var nextId = 0L
  private var lastWritten: Seq[(Long, Array[Float])] = Nil
  private var deleted: Set[Long] = Set.empty

  def label(id: Long): Long = id % 10

  private val vecSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", Workload.floatVec, nullable = false)))
  private val qSchema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("qvec", Workload.floatVec, nullable = false)))

  sealed trait Answer
  /** A write, with its file-level footprint under the index dirs. */
  case class Wrote(op: String, rows: Int, bytesWritten: Long,
                   partitions: Int, files: Int) extends Answer
  /** A read: queries (qid → vec and, for read-your-writes, the id that
    * must come back first), the filter label, and the live set it saw.
    */
  case class Read(op: String, qs: Seq[(Long, Array[Float], Option[Long])],
                  filter: Option[(String, Long)], live: Map[Long, Array[Float]],
                  deleted: Set[Long], got: Map[Long, Seq[(Long, Double)]]) extends Answer

  // ------------------------------------------------------------ setup

  def prepare(rep: Int, firstTouch: Boolean): Map[String, Double] = {
    dir = ctx.dir(s"upsert-$rep")
    val corpus = s"$dir/corpus.parquet"
    Workload.writeCorpus(ctx, corpus, rows, 2 * ctx.cores)
    val emb = ctx.spark.read.parquet(corpus)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Ann.ivfBuildIndex(ctx.spark, emb, idx)
    Ann.hnswBuild(ctx.spark, idx, hier)
    live = (0L until rows).map(i => i -> Gen.corpusVec(ctx.seed, i)).toMap
    nextId = 1000000L
    lastWritten = Nil
    deleted = Set.empty
    if (!firstTouch) return Map.empty
    Seq(hnswOp -> 1, ivfOp -> 2).map { case (op, i) =>
      val t0 = System.nanoTime()
      read(i, 900 + rep, Req.untraced(ctx.spark.sparkContext, "first"))
      op -> (System.nanoTime() - t0) / 1e9
    }.toMap
  }

  def warmup(): Unit = Seq(1, 2, 4, 5).foreach(i =>
    read(i, 800 + i, Req.untraced(ctx.spark.sparkContext, "warm")))


  // ------------------------------------------------------------ ops

  /** Op i of the cycle U R R D R R: slot 0 upserts, slot 3 deletes; read
    * slots 1 and 5 go to the hierarchy, 2 (`=` filter) and 4 (`!=`) to
    * IVF.
    */
  def request(client: Int, i: Int, req: Req): (String, Int, AnyRef) =
    i % 6 match {
      case 0 => write(i / 3, delete = false, req)
      case 3 => write(i / 3, delete = true, req)
      case slot =>
        val a = read(slot, i, req)
        (a.op, 1, a)
    }

  private def write(wn: Int, delete: Boolean, req: Req): (String, Int, AnyRef) = {
    val r = Gen.rng(ctx.seed, "write", wn)
    val ids = live.keys.toIndexedSeq.sorted
    def pick(n: Int): Seq[Long] = {
      val chosen = scala.collection.mutable.LinkedHashSet[Long]()
      while (chosen.size < n) chosen += ids(r.nextInt(ids.size))
      chosen.toSeq
    }
    val before = snapshot()
    val (op, written) =
      if (delete) {
        val gone = pick(writeSize)
        val df = Workload.frame(ctx.spark, StructType(Seq(
          StructField("id", LongType, nullable = false))), gone.map(Row(_)))
        req.phase(deleteOp, "build")(Ann.hnswDelete(ctx.spark, idx, hier, df))
        val vecs = gone.map(id => id -> live(id))
        live = live -- gone
        deleted = deleted ++ gone
        (deleteOp, vecs)
      } else {
        val moved = pick(writeSize / 2).map(id =>
          id -> Gen.jitter(live(id), r, 0.3))
        val fresh = (0 until writeSize - writeSize / 2).map { _ =>
          nextId += 1
          nextId -> Gen.corpusVec(ctx.seed, r.nextLong(1L << 40))
        }
        val rows = moved ++ fresh
        val df = Workload.frame(ctx.spark, vecSchema, rows.map { case (id, v) => Row(id, v) })
        req.phase(upsertOp, "build")(Ann.hnswUpsert(ctx.spark, idx, hier, df))
        live = live ++ rows
        (upsertOp, rows)
      }
    lastWritten = written
    val after = snapshot()
    val changed = after.filter { case (p, sig) => !before.get(p).contains(sig) }
    (op, 1, Wrote(op, written.size, changed.values.map(_._1).sum,
      changed.keys.map(_.getParent)
        .filter(_.getFileName.toString.contains("=")).toSet.size, after.size))
  }

  /** Read slot 1, 2, 4 or 5 against the current live set. */
  private def read(slot: Int, i: Int, req: Req): Read = {
    val r = Gen.rng(ctx.seed, "read", i)
    val ids = live.keys.toIndexedSeq.sorted
    val (op, filter) = slot match {
      case 1 | 5 => (hnswOp, None)
      case 2 => (ivfOp, Some(("=", r.nextInt(10).toLong)))
      case _ => (ivfOp, Some(("!=", r.nextInt(10).toLong)))
    }
    def passes(id: Long) = filter.forall {
      case ("=", l) => label(id) == l
      case (_, l)   => label(id) != l
    }
    // just-written rows first: live ones must come back at rank 1 on the
    // IVF path (their own cell is the first probe); deleted ones never
    val recent = lastWritten.filter { case (id, _) =>
      filter.isEmpty || passes(id) || deleted(id) }.take(readBatch / 2)
    val others = (0 until readBatch - recent.size).map { _ =>
      Gen.jitter(live(ids(r.nextInt(ids.size))), r, 0.02)
    }
    val qs = recent.zipWithIndex.map { case ((id, v), j) =>
        (j.toLong, v, if (op == ivfOp && live.contains(id)) Some(id) else None)
      } ++ others.zipWithIndex.map { case (v, j) => ((recent.size + j).toLong, v, None) }
    val qdf = Workload.frame(ctx.spark, qSchema, qs.map(q => Row(q._1, q._2)))
    val out = req.phase(op, "build") {
      if (op == hnswOp) Ann.hnswSearchIndexed(ctx.spark, idx, hier, qdf, k)
      else Ann.ivfSearchIndexed(ctx.spark, idx, qdf, k, filter = filter.map {
        case ("=", l) => col("id") % 10 === l
        case (_, l)   => col("id") % 10 =!= l
      })
    }
    val got = req.phase(op, "action")(out.collect())
    Read(op, qs, filter, live, deleted, got.toSeq
      .map(x => (x.getLong(0), (x.getInt(1), x.getLong(2), x.getDouble(3))))
      .groupBy(_._1).map { case (q, xs) =>
        q -> xs.map(_._2).sortBy(_._1).map(y => (y._2, y._3)) })
  }

  def warmRequest(kind: String, i: Int, req: Req): Unit =
    read(if (kind == hnswOp) 1 else 2, 700 + i, req)

  /** (size, mtime) of every regular file under the index dirs. */
  private def snapshot(): Map[Path, (Long, Long)] =
    Seq(idx, hier).map(Paths.get(_)).filter(Files.exists(_)).flatMap { root =>
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
        p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toList
      finally st.close()
    }.toMap

  // ------------------------------------------------------------ checks

  /** Reads: every returned id is live and carries its exact cosine,
    * no deleted id returns, and on the IVF path a just-upserted vector
    * returns its own id first. recall@10 is against exact cosine over
    * the live (filtered) set the read saw.
    */
  def check(records: Seq[Record]): Check = {
    val reads = records.filter(r => r.error.isEmpty && r.answer.isInstanceOf[Read])
    val results = Exact.par(reads, ctx.cores) { rec =>
      val a = rec.answer.asInstanceOf[Read]
      val ids = a.live.keys.toArray.sorted
      val vecs = ids.map(a.live)
      def pass(id: Long) = a.filter.forall {
        case ("=", l) => label(id) == l
        case (_, l)   => label(id) != l
      }
      val per = a.qs.map { case (q, v, own) =>
        val got = a.got.getOrElse(q, Nil)
        val want = Exact.topK(ids, vecs, k, Exact.cosine(_, v), lowerIsBetter = false,
          i => pass(ids(i)))
        val valid = got.forall { case (id, s) =>
          a.live.contains(id) && !a.deleted(id) && pass(id) &&
            math.abs(Exact.round4(Exact.cosine(a.live(id), v)) - s) <= 1.5e-4
        } && got.map(_._1).distinct.size == got.size
        val ryw = own.forall(id => got.headOption.exists(_._1 == id))
        val hit = got.map(_._1).toSet.intersect(want.map(_._1).toSet).size
        (valid && ryw, hit.toDouble / math.max(1, want.size))
      }
      ((rec.client, rec.idx), per.forall(_._1), per.map(_._2))
    }
    val recalls = results.flatMap(_._3)
    val writes = records.count(_.answer.isInstanceOf[Wrote])
    Check(results.filterNot(_._2).map(_._1).toSet,
      if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size, recalls.size,
      Seq(s"${reads.size} reads checked (live ids, exact scores, read-your-writes, " +
        s"no deleted id) after $writes writes"))
  }

  /** Stop the session, start a fresh one, and check that the on-disk
    * index holds exactly the expected live (id, vec) set and that the
    * maintained hierarchy equals a fresh `hnswBuild` of that index.
    */
  override def finish(): (Int, Seq[String]) = {
    ctx.spark.stop()
    val s = GraftSession.builder(ctx.cores.toString)
      .config("spark.local.dir", ctx.runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", ctx.runDir.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    try {
      val onDisk = s.read.parquet(idx).select("id", "vec").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      val sameIndex = onDisk.length == live.size &&
        onDisk.forall { case (id, v) => live.get(id).exists(java.util.Arrays.equals(_, v)) }
      val fresh = s"$dir/hnsw-fresh"
      Ann.hnswBuild(s, idx, fresh)
      def edges(p: String) = Ann.hnswRead(s, p).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getDouble(4))).toSet
      val sameHier = edges(hier) == edges(fresh)
      (2, Seq(
        if (sameIndex) None else Some(s"on-disk index (${onDisk.length} rows) != expected live set (${live.size})"),
        if (sameHier) None else Some("maintained hierarchy != fresh hnswBuild")).flatten)
    } finally s.stop()
  }

  override def extraMetrics(records: Seq[Record], check: Check): Seq[Stats.Metric] = {
    val bad = (r: Record) => r.error.nonEmpty || check.wrong((r.client, r.idx))
    val writes = records.filter(r => r.kind == upsertOp || r.kind == deleteOp)
    val reads = records.filter(r => r.kind == hnswOp || r.kind == ivfOp)
    def p50(rs: Seq[Record]) = if (rs.isEmpty) Double.PositiveInfinity
      else Stats.median(Stats.latencies(rs.map(r => (r.sec, !bad(r)))))
    val wrote = writes.flatMap(r => Option(r.answer).collect { case w: Wrote => w })
    Seq(
      Stats.Metric("write_p50_s", p50(writes), "s", writes.size),
      Stats.Metric("read_p50_s", p50(reads), "s", reads.size),
      Stats.Metric("write_amp", wrote.map(_.bytesWritten).sum.toDouble /
        math.max(1L, wrote.map(_.rows.toLong * rowBytes).sum), "ratio", wrote.size))
  }

  override def layerExtras(records: Seq[Record], t: Tracer): Seq[Stats.Metric] = {
    val jobsBy = t.jobs.values.groupBy(_.trace)
    Seq(upsertOp, deleteOp).flatMap { op =>
      val rs = records.filter(_.kind == op)
      val ws = rs.map(_.answer.asInstanceOf[Wrote])
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      Seq(
        Stats.Metric(s"$op.s", med(rs.map(_.sec)), "s", rs.size),
        Stats.Metric(s"$op.jobs", med(rs.map(r => jobsBy.getOrElse(r.req.id, Nil).size.toDouble)),
          "jobs", rs.size),
        Stats.Metric(s"$op.bytes_written", med(ws.map(_.bytesWritten.toDouble)), "bytes", ws.size),
        Stats.Metric(s"$op.partitions_rewritten", med(ws.map(_.partitions.toDouble)),
          "partitions", ws.size))
    } ++ Seq(Stats.Metric("index.files",
      records.flatMap(r => Option(r.answer).collect { case w: Wrote => w.files.toDouble })
        .lastOption.getOrElse(snapshot().size.toDouble), "files",
      records.count(_.answer.isInstanceOf[Wrote])))
  }

  override def artifactDir: String = dir

  def layerInputs: LayerInputs = {
    val d = ctx.spark.read.parquet(idx)
    LayerInputs(idx, d.select("vec"),
      d.select(concat(lit("v|"), col("id").cast("string")).as("s")))
  }
}
