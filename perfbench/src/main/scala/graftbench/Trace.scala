package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed interval of the traced run. Spans of one request share
  * `trace` (the request id, also its Spark job group); `parent` is the
  * span that caused this one (0 for a request).
  */
case class Span(trace: String, id: Long, parent: Long, name: String,
                startUs: Long, endUs: Long, attrs: Map[String, Double])

/** Clock shared by client spans and Spark's listener events: epoch
  * microseconds, advanced by the monotonic clock so that intervals
  * measured on the client are exact.
  */
object Clock {
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def us(nano: Long): Long = epochMs0 * 1000L + (nano - nano0) / 1000L
}

/** Per-stage counters, filled by [[Tracer]]. */
final class StageRec(val id: Int, val trace: String, val jobId: Int) {
  var submittedMs = 0L
  var firstLaunchMs = Long.MaxValue
  var completedMs = 0L
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
  val taskRunMs = mutable.ArrayBuffer[Long]()
}

final class JobRec(val id: Int, val trace: String, val op: String,
                   val phase: String, val parentSpan: Long, val startMs: Long) {
  var endMs = 0L
}

/** The traced run's `SparkListener`. It reads the job group (request
  * id) and the local properties [[Req.phase]] sets, so every job and
  * stage is attributed to the request and phase that caused it — also
  * jobs submitted from threads the operator forks, which inherit the
  * caller's local properties.
  */
final class Tracer extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.LinkedHashMap[Int, StageRec]()
  private val stageJob = mutable.HashMap[Int, Int]()

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = prop(e.properties, Req.SpanKey)
    jobs(e.jobId) = new JobRec(e.jobId, prop(e.properties, Req.GroupKey),
      prop(e.properties, Req.OpKey), prop(e.properties, Req.PhaseKey),
      if (span.isEmpty) 0L else span.toLong, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val job = stageJob.get(id).flatMap(jobs.get)
    val rec = stages.getOrElseUpdate(id, new StageRec(id,
      job.map(_.trace).getOrElse(prop(e.properties, Req.GroupKey)),
      job.map(_.id).getOrElse(-1)))
    rec.submittedMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stages.get(e.stageId).foreach(s =>
      s.firstLaunchMs = math.min(s.firstLaunchMs, e.taskInfo.launchTime))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      val m = e.taskMetrics
      s.tasks += 1
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
        s.output += m.outputMetrics.bytesWritten
        s.taskRunMs += m.executorRunTime
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(_.completedMs =
      e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
  }

  /** Wait until every started job has ended and every submitted stage
    * has completed (the listener bus delivers asynchronously).
    */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var stableSince = System.currentTimeMillis()
    var last = -1
    while (System.currentTimeMillis() < deadline) {
      val (open, seen) = synchronized {
        (jobs.values.count(_.endMs == 0L) + stages.values.count(_.completedMs == 0L),
          jobs.size + stages.size)
      }
      if (seen != last) { last = seen; stableSince = System.currentTimeMillis() }
      if (open == 0 && System.currentTimeMillis() - stableSince > 300) return
      Thread.sleep(50)
    }
  }

  /** Job and stage spans, children of the phase spans that caused them. */
  def spans(nextId: () => Long): Seq[Span] = synchronized {
    val jobSpan = mutable.HashMap[Int, Long]()
    val js = jobs.values.filter(_.trace.nonEmpty).map { j =>
      val id = nextId()
      jobSpan(j.id) = id
      Span(j.trace, id, j.parentSpan, "spark.job", j.startMs * 1000L,
        j.endMs * 1000L, Map("job_id" -> j.id.toDouble))
    }.toSeq
    val ss = stages.values.filter(_.trace.nonEmpty).map { s =>
      Span(s.trace, nextId(), jobSpan.getOrElse(s.jobId, 0L),
        "spark.stage", s.submittedMs * 1000L, s.completedMs * 1000L,
        Map("stage_id" -> s.id.toDouble, "tasks" -> s.tasks.toDouble,
          "executor_cpu_s" -> s.cpuNs / 1e9, "executor_run_s" -> s.runMs / 1e3,
          "sched_wait_s" -> schedWaitS(s),
          "shuffle_write_bytes" -> s.shuffleWrite.toDouble,
          "shuffle_read_bytes" -> s.shuffleRead.toDouble,
          "input_bytes" -> s.input.toDouble))
    }.toSeq
    js ++ ss
  }

  def schedWaitS(s: StageRec): Double =
    if (s.firstLaunchMs == Long.MaxValue) 0.0
    else math.max(0L, s.firstLaunchMs - s.submittedMs) / 1e3
}

/** One request's instrumentation: phase timing always, plus job-group
  * and span properties when a [[Tracer]] is attached.
  */
final class Req(val id: String, sc: SparkContext, traced: Boolean,
                nextSpan: () => Long) {
  case class Phase(op: String, phase: String, startNs: Long, endNs: Long,
                   span: Long)
  val phases = mutable.ArrayBuffer[Phase]()
  val span: Long = if (traced) nextSpan() else 0L

  def phase[T](op: String, ph: String)(body: => T): T = {
    val sid = if (traced) nextSpan() else 0L
    if (traced) {
      sc.setJobGroup(id, s"$op.$ph", interruptOnCancel = false)
      sc.setLocalProperty(Req.OpKey, op)
      sc.setLocalProperty(Req.PhaseKey, ph)
      sc.setLocalProperty(Req.SpanKey, sid.toString)
    }
    val t0 = System.nanoTime()
    try body
    finally {
      phases += Phase(op, ph, t0, System.nanoTime(), sid)
      if (traced) {
        sc.clearJobGroup()
        sc.setLocalProperty(Req.OpKey, null)
        sc.setLocalProperty(Req.PhaseKey, null)
        sc.setLocalProperty(Req.SpanKey, null)
      }
    }
  }
}

object Req {
  /** A request outside the timed windows: timed, never traced. */
  def untraced(sc: SparkContext, id: String): Req = new Req(id, sc, traced = false, () => 0L)

  val OpKey = "graftbench.op"
  val PhaseKey = "graftbench.phase"
  val SpanKey = "graftbench.span"
  /** The local property `SparkContext.setJobGroup` sets. */
  val GroupKey = "spark.jobGroup.id"
}
