package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import graft.GraftSession

import scala.jdk.CollectionConverters._

/** Runs one workload from one seed and prints every metric by name
  * with its unit and sample count; the last stdout line is the result
  * object `perfbench/run.py` relays.
  *
  * `--trace 0`: setup, one untraced window, checks, end-to-end metrics.
  * `--trace 1`: one window of twice the length with a [[Tracer]]
  * attached, in which every other operation is traced, then the
  * per-layer probes; reports per-layer metrics and the tracing overhead
  * (traced minus untraced latency of the same window).
  */
object Main {
  import Stats.Metric

  case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                  outDir: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val w = need("--workload")
    require(Workload.names.contains(w), s"unknown workload $w")
    Opts(w, need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Paths.get(need("--out-dir")))
  }

  /** Preparations per run; setup_s reports their median. */
  val SetupReps = 2

  private val spanIds = new AtomicLong(0L)
  def nextSpan(): Long = spanIds.incrementAndGet()

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val runDir = Paths.get("").toAbsolutePath
    val spark = GraftSession.builder(cores.toString)
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ctx = new Ctx(spark, o.seed, o.seconds, runDir, cores)
    val w = Workload(o.workload, ctx)

    // ---- setup: session once, preparation SetupReps times, warm-up once
    val preps = (0 until SetupReps).map { rep =>
      graft.ByproductCache.clear()
      val t0 = System.nanoTime()
      val cold = w.prepare(rep)
      ((System.nanoTime() - t0) / 1e9, cold)
    }
    val tw = System.nanoTime()
    w.warmup()
    val warmS = (System.nanoTime() - tw) / 1e9
    val prepS = Stats.median(preps.map(_._1))
    val setupS = sessionS + prepS + warmS
    val setupWallS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // ---- the timed window (a traced run's window is twice as long and
    // traces every other operation, so traced and untraced operations
    // meet the same conditions and the tracing overhead is their difference)
    val tracer = if (o.trace) Some(new Tracer) else None
    val all = tracer match {
      case None => window(w, ctx, o.seconds, _ => false)
      case Some(t) =>
        spark.sparkContext.addSparkListener(t)
        try window(w, ctx, 2 * o.seconds, tracedOp)
        finally { t.drain(); spark.sparkContext.removeSparkListener(t) }
    }
    val (traced, untraced) = all.partition(r => o.trace && tracedOp(r.idx))

    // ---- traced-run extras: warm per-kind latencies and layer probes
    val firstTouch = if (!o.trace) Nil else {
      val kinds = preps.head._2.keys.toSeq.sorted
      kinds.map { kind =>
        val cold = Stats.median(preps.map(_._2(kind)))
        val req = Req.untraced(spark.sparkContext, s"warm-$kind")
        val t0 = System.nanoTime()
        w.warmRequest(kind, 0, req)
        val warm = (System.nanoTime() - t0) / 1e9
        Metric(s"memo.first_touch_s.$kind", cold - warm, "s", preps.size)
      }
    }
    val probes = if (o.trace) Layers.probes(ctx, w.layerInputs) else Nil

    // ---- checks on the answers recorded in the windows, then end state
    val check = w.check(all)
    val (finishChecks, finishFailures) = w.finish()
    val bad: Record => Boolean = r => r.error.nonEmpty || check.wrong((r.client, r.idx))

    // ---- traced run: the ungated workloads as layer probes
    val extra = if (!o.trace) Nil
      else Workload.probes(o.workload, ctx).map { case (pw, ops) => probe(pw, ops, ctx) }
    val failed = all.count(bad) + finishFailures.size + extra.map(_.failed).sum
    val attempted = all.size + finishChecks + extra.map(_.attempted).sum

    val rss = peakRssMib()
    val probeS = hostProbe()

    def e2e(recs: Seq[Record]): Seq[Metric] = {
      val good = recs.filterNot(bad)
      // mean per-client busy time (first start to last end): a client
      // that happens to finish early does not stretch the window
      val wall = recs.groupBy(_.client).values
        .map(rs => (rs.map(_.endNs).max - rs.map(_.startNs).min) / 1e9).sum / w.clients
      val lat = Stats.latencies(recs.map(r => (r.sec, !bad(r))))
      val tail = Stats.tailPercentile(lat.size).filter(_ > 50.0).map { p =>
        val label = if (p == p.floor) p.toInt.toString else p.toString.replace('.', '_')
        Metric(s"latency_p${label}_s", Stats.percentile(lat, p), "s", lat.size)
      }
      Seq(
        Metric("setup_s", setupS, "s", preps.size),
        Metric("setup_wall_s", setupWallS, "s", 1),
        Metric("throughput_req_s", good.map(_.units).sum / wall, "req/s", good.size),
        Metric("latency_p50_s", Stats.median(lat), "s", lat.size),
        Metric("recall_at_10", check.recall, "fraction", check.recallN),
        Metric("peak_rss_mib", rss, "MiB", 1)) ++
        tail ++
        Seq(Metric("failed_frac", recs.count(bad).toDouble / recs.size, "fraction", recs.size)) ++
        w.extraMetrics(recs, check)
    }

    val metrics: Seq[Metric] =
      if (!o.trace) e2e(untraced)
      else {
        val t = tracer.get
        val p50 = (rs: Seq[Record]) => Stats.median(Stats.latencies(rs.map(r => (r.sec, !bad(r)))))
        Layers.requestLayers(traced, t, cores) ++ probes ++
          Seq(Metric("memo.first_touch_s", firstTouch.map(_.value).sum, "s", preps.size)) ++
          firstTouch ++
          Seq(
            Metric("setup.index_build_s", prepS, "s", preps.size),
            Metric("setup.index_bytes", dirBytes(w.artifactDir), "bytes", 1),
            Metric("trace.latency_p50_s", p50(traced), "s", traced.size),
            Metric("trace.untraced_latency_p50_s", p50(untraced), "s", untraced.size),
            Metric("trace.overhead_s", p50(traced) - p50(untraced), "s", traced.size),
            Metric("peak_rss_mib", rss, "MiB", 1)) ++
          w.layerExtras(traced, t) ++ extra.flatMap(_.metrics)
      }

    // ---- output: span file and report, then the printed record
    Files.createDirectories(o.outDir)
    val tag = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    tracer.foreach(t => writeSpans(o.outDir.resolve(s"spans-$tag.jsonl"), traced, t))
    val record = Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "seconds" -> o.seconds.toString, "trace" -> o.trace.toString,
      "clients" -> w.clients.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "spark_graft_cpus" -> Json.str(sys.env.getOrElse("SPARK_GRAFT_CPUS", "")),
      "heap_mib" -> (Runtime.getRuntime.maxMemory() / 1048576L).toString,
      "commit" -> Json.str(sys.props.getOrElse("graftbench.commit", "unknown")),
      "source_sha256" -> Json.str(sys.props.getOrElse("graftbench.source", "unknown")),
      "host_probe_s" -> Json.num(probeS),
      "session_s" -> Json.num(sessionS),
      "prepare_s" -> Json.arr(preps.map(p => Json.num(p._1))),
      "warmup_s" -> Json.num(warmS),
      "setup_wall_s" -> Json.num(setupWallS),
      "latencies_s" -> Json.arr(untraced.map(r => Json.num(r.sec))),
      "checks" -> Json.arr((check.notes ++ finishFailures.map("FAILED: " + _) ++
        extra.flatMap(_.notes)).map(Json.str)))
    val metricsJson = Json.obj(metrics.map(m => m.name -> Json.obj(Seq(
      "value" -> Json.num(m.value), "unit" -> Json.str(m.unit), "n" -> m.n.toString))))
    Files.writeString(o.outDir.resolve(s"report-$tag.json"),
      Json.obj(Seq("run" -> Json.obj(record), "metrics" -> metricsJson,
        "attempted" -> attempted.toString, "failed" -> failed.toString)) + "\n")

    println("run " + Json.obj(record))
    metrics.foreach(m => println(f"metric ${m.name}%-44s ${Json.num(m.value)}%s ${m.unit}%s n=${m.n}%d"))
    spark.stop()
    val gated = if (o.trace) Gated.perLayer else Gated.endToEnd
    val byName = metrics.map(m => m.name -> m).toMap
    val out = gated.map { n =>
      val m = byName.getOrElse(n, throw new IllegalStateException(s"metric $n not measured"))
      n -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
    }
    println(Json.obj(Seq("correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> Json.obj(out))))
  }

  case class ProbeResult(metrics: Seq[Metric], attempted: Int, failed: Int,
                         notes: Seq[String])

  /** One traced pass of `ops` operations of a workload, checked like a
    * benchmark window; its metrics carry operator names, or the
    * workload's name as a prefix.
    */
  def probe(pw: Workload, ops: Int, ctx: Ctx): ProbeResult = {
    graft.ByproductCache.clear()
    val t0 = System.nanoTime()
    pw.prepare(0, firstTouch = false)
    val prepS = (System.nanoTime() - t0) / 1e9
    val t = new Tracer
    ctx.spark.sparkContext.addSparkListener(t)
    val recs = try window(pw, ctx, 600, _ => true, maxOps = ops)
      finally { t.drain(); ctx.spark.sparkContext.removeSparkListener(t) }
    val ck = pw.check(recs)
    val setupBytes = dirBytes(pw.artifactDir)
    val (n, fails) = pw.finish()
    val bad = recs.count(r => r.error.nonEmpty || ck.wrong((r.client, r.idx)))
    val perOp = Layers.requestLayers(recs, t, ctx.cores)
      .filterNot(m => m.name.startsWith("op.") || m.name.startsWith("spark."))
    ProbeResult(
      Seq(Metric(s"${pw.name}.setup.index_build_s", prepS, "s", 1),
        Metric(s"${pw.name}.setup.index_bytes", setupBytes, "bytes", 1),
        Metric(s"${pw.name}.recall_at_10", ck.recall, "fraction", ck.recallN)) ++
        perOp ++ pw.extraMetrics(recs, ck).map(m => m.copy(name = s"${pw.name}.${m.name}")) ++
        pw.layerExtras(recs, t),
      recs.size + n, bad + fails.size,
      (ck.notes ++ fails.map("FAILED: " + _)).map(x => s"${pw.name} probe: $x"))
  }

  /** Operation `idx` of a client is traced in a traced run's window if
    * even, so traced and untraced operations see the same conditions.
    */
  def tracedOp(idx: Int): Boolean = idx % 2 == 0

  /** Closed loop: each client sends its next operation when the last one
    * returns, until `seconds` have passed (or it has sent `maxOps`);
    * operations started before the deadline run to completion.
    */
  def window(w: Workload, ctx: Ctx, seconds: Int, traced: Int => Boolean,
             maxOps: Int = Int.MaxValue): Seq[Record] = {
    val out = new ConcurrentLinkedQueue[Record]()
    val deadline = System.nanoTime() + seconds * 1000000000L
    val threads = (0 until w.clients).map { c =>
      new Thread(() => {
        var i = 0
        while (System.nanoTime() < deadline && i < maxOps) {
          val req = new Req(s"c$c-r$i", ctx.spark.sparkContext, traced(i), () => nextSpan())
          val t0 = System.nanoTime()
          val res = try Right(w.request(c, i, req)) catch { case e: Throwable => Left(e) }
          val t1 = System.nanoTime()
          out.add(res match {
            case Right((kind, units, ans)) => Record(c, i, kind, t0, t1, None, units, ans, req)
            case Left(e) => Record(c, i, "error", t0, t1, Some(e.toString), 0, null, req)
          })
          res.left.foreach(e => System.err.println(s"[perfbench] c$c-r$i failed: $e"))
          i += 1
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.asScala.toSeq.sortBy(r => (r.startNs, r.client))
  }

  def peakRssMib(): Double = {
    val p = Paths.get("/proc/self/status")
    if (!Files.exists(p)) Runtime.getRuntime.totalMemory() / 1048576.0
    else Files.readAllLines(p).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)
  }

  @volatile private var sink = 0.0

  /** A fixed pure-JVM loop, recorded so that a slow host can be told
    * from a slow program. Never used to scale a reported metric.
    */
  def hostProbe(): Double = Stats.median((0 until 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x12345L; var acc = 0.0; var i = 0
    while (i < 20000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += math.sqrt((x & 0xFFFF).toDouble); i += 1
    }
    sink = acc
    (System.nanoTime() - t0) / 1e9
  })

  def dirBytes(dir: String): Double =
    if (dir == null || !Files.exists(Paths.get(dir))) 0.0
    else {
      val st = Files.walk(Paths.get(dir))
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum.toDouble
      finally st.close()
    }

  /** Spans as JSON lines: request → `<op>.<phase>` → spark.job → spark.stage. */
  def writeSpans(path: Path, recs: Seq[Record], t: Tracer): Unit = {
    val client = recs.flatMap { r =>
      Span(r.req.id, r.req.span, 0L, "request", Clock.us(r.startNs), Clock.us(r.endNs),
        Map("client" -> r.client.toDouble, "units" -> r.units.toDouble)) +:
        r.req.phases.map(p => Span(r.req.id, p.span, r.req.span, s"${p.op}.${p.phase}",
          Clock.us(p.startNs), Clock.us(p.endNs), Map.empty))
    }
    val lines = (client ++ t.spans(() => nextSpan())).map { s =>
      Json.obj(Seq("trace" -> Json.str(s.trace), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString,
        "attrs" -> Json.obj(s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    }
    Files.write(path, lines.asJava)
  }
}

/** The metric names `BENCHMARK.json` lists, in its order. */
object Gated {
  val endToEnd: Seq[String] = Seq("setup_s", "throughput_req_s", "latency_p50_s",
    "recall_at_10")
  val perLayer: Seq[String] = Seq(
    "op.build_s", "op.build_jobs", "op.action_s", "op.action_jobs",
    "spark.stages", "spark.tasks", "spark.executor_cpu_s", "spark.executor_run_s",
    "spark.gc_s", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_bytes", "spark.input_bytes", "spark.output_bytes",
    "spark.sched_wait_s", "spark.cpu_util", "spark.task_skew",
    "Tables.scan_rows_per_s", "functions.VecL2.rows_per_s",
    "functions.VecDot.rows_per_s", "functions.VecL1.rows_per_s",
    "functions.VecCosine.rows_per_s", "functions.CentroidTopM.rows_per_s",
    "functions.Md5Prefix60.rows_per_s", "operators.TopKAgg.rows_per_s",
    "memo.first_touch_s", "setup.index_build_s", "setup.index_bytes",
    "trace.latency_p50_s", "trace.overhead_s", "peak_rss_mib")
}

/** Minimal JSON writing (the JVM side prints; it parses nothing). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  /** Every digit as measured; a failed median (+∞) reads 1e9. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "1.0E9" else java.lang.Double.toString(d)
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
