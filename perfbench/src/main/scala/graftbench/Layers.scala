package graftbench

import graft.Bench
import graft.functions.{Md5Prefix60, VectorDistance}
import graft.operators.TopKAgg
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The traced run's per-layer figures.
  *
  *  - probes: rows/s of the scan and of each kernel, each a timed noop
  *    select over the workload's frame held checkpointed in memory, so
  *    the scan is excluded from the kernel numbers;
  *  - request layers: build/action time and jobs, and Spark executor and
  *    scheduling counters, summed per request from the [[Tracer]].
  */
object Layers {
  import Stats.Metric

  private def timed(reps: Int)(f: => Unit): Seq[Double] =
    (0 until reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

  private def rate(name: String, rows: Long, f: => Unit): Metric = {
    f // untimed first pass: codegen and JIT
    val ts = timed(3)(f)
    Metric(name, rows / Stats.median(ts), "rows/s", ts.size)
  }

  def probes(ctx: Ctx, in: LayerInputs): Seq[Metric] = {
    val spark = ctx.spark
    val scanRows = spark.read.parquet(in.scanPath).count()
    val scan = rate("Tables.scan_rows_per_s", scanRows,
      Bench.materialize(spark.read.parquet(in.scanPath)))
    val vecs = in.vectors.localCheckpoint(true)
    val strs = in.strings.localCheckpoint(true)
    val nv = vecs.count()
    val ns = strs.count()
    val r = Gen.rng(ctx.seed, "probe")
    val q = Gen.normalize(Array.fill(Gen.Dim)(Gen.gaussian(r)))
    val qc = typedLit(q.toSeq)
    def kernel(name: String, c: Column, frame: DataFrame, n: Long) =
      rate(s"functions.$name.rows_per_s", n,
        Bench.materialize(frame.select(c.as("d"))))
    val cells = (0 until 64).map(_.toLong)
    val cvecs = (0 until 64).map(_ =>
      Gen.normalize(Array.fill(Gen.Dim)(Gen.gaussian(r))).toSeq)
    val kernels = Seq(
      kernel("VecL2", VectorDistance.l2(col("vec"), qc), vecs, nv),
      kernel("VecDot", VectorDistance.dot(col("vec"), qc), vecs, nv),
      kernel("VecL1", VectorDistance.l1(col("vec"), qc), vecs, nv),
      kernel("VecCosine", VectorDistance.cosine(col("vec"), qc), vecs, nv),
      kernel("CentroidTopM", VectorDistance.centroidTopM(col("vec"), cells, cvecs, 2),
        vecs, nv),
      kernel("Md5Prefix60", Md5Prefix60(col("s")), strs, ns))
    val agg = TopKAgg.topK(10)
    val keyed = vecs.withColumn("rid", monotonically_increasing_id())
      .select((col("rid") % 16).as("qid"),
        pmod(hash(col("rid")), lit(1000003)).cast("double").as("key"),
        col("rid").as("id"))
    val topk = rate("operators.TopKAgg.rows_per_s", nv,
      Bench.materialize(keyed.groupBy("qid").agg(agg(col("key"), col("id")).as("t"))))
    scan +: kernels :+ topk
  }

  /** Per-request layer counters from the traced operations. */
  def requestLayers(records: Seq[Record], tracer: Tracer, cores: Int): Seq[Metric] = {
    val jobsBy = tracer.jobs.values.groupBy(_.trace)
    val stagesBy = tracer.stages.values.groupBy(_.trace)
    val n = records.size
    def med(name: String, unit: String)(f: Record => Double): Metric =
      Metric(name, if (n == 0) 0.0 else Stats.median(records.map(f)), unit, n)
    def phaseS(r: Record, ph: String, op: Option[String] = None) =
      r.req.phases.filter(p => p.phase == ph && op.forall(_ == p.op))
        .map(p => (p.endNs - p.startNs) / 1e9).sum
    def jobs(r: Record, ph: String, op: Option[String] = None) =
      jobsBy.getOrElse(r.req.id, Nil)
        .count(j => j.phase == ph && op.forall(_ == j.op)).toDouble
    def st(r: Record) = stagesBy.getOrElse(r.req.id, Nil).toSeq
    def sum(r: Record)(f: StageRec => Double) = st(r).map(f).sum
    val generic = Seq(
      med("op.build_s", "s")(phaseS(_, "build")),
      med("op.build_jobs", "jobs")(jobs(_, "build")),
      med("op.action_s", "s")(phaseS(_, "action")),
      med("op.action_jobs", "jobs")(jobs(_, "action")),
      med("spark.stages", "stages")(st(_).size.toDouble),
      med("spark.tasks", "tasks")(sum(_)(_.tasks.toDouble)),
      med("spark.executor_cpu_s", "s")(sum(_)(_.cpuNs / 1e9)),
      med("spark.executor_run_s", "s")(sum(_)(_.runMs / 1e3)),
      med("spark.gc_s", "s")(sum(_)(_.gcMs / 1e3)),
      med("spark.shuffle_write_bytes", "bytes")(sum(_)(_.shuffleWrite.toDouble)),
      med("spark.shuffle_read_bytes", "bytes")(sum(_)(_.shuffleRead.toDouble)),
      med("spark.spill_bytes", "bytes")(sum(_)(_.spill.toDouble)),
      med("spark.input_bytes", "bytes")(sum(_)(_.input.toDouble)),
      med("spark.output_bytes", "bytes")(sum(_)(_.output.toDouble)),
      med("spark.sched_wait_s", "s")(sum(_)(tracer.schedWaitS)),
      med("spark.cpu_util", "fraction")(r =>
        sum(r)(_.cpuNs / 1e9) / (r.sec * cores)),
      med("spark.task_skew", "ratio") { r =>
        val big = st(r).filter(_.taskRunMs.nonEmpty).sortBy(-_.runMs).headOption
        big.map { s =>
          val ts = s.taskRunMs.map(_.toDouble).toSeq
          val m = Stats.median(ts)
          if (m <= 0) 1.0 else ts.max / m
        }.getOrElse(1.0)
      })
    // the same split per operator, for the report
    val ops = records.flatMap(_.req.phases.map(_.op)).distinct.sorted
    val perOp = ops.flatMap { op =>
      val rs = records.filter(_.req.phases.exists(_.op == op))
      def m(name: String, unit: String)(f: Record => Double) =
        Metric(s"$op.$name", Stats.median(rs.map(f)), unit, rs.size)
      Seq(m("build_s", "s")(phaseS(_, "build", Some(op))),
        m("build_jobs", "jobs")(jobs(_, "build", Some(op))),
        m("action_s", "s")(phaseS(_, "action", Some(op))),
        m("action_jobs", "jobs")(jobs(_, "action", Some(op))))
    }
    generic ++ perOp
  }
}
