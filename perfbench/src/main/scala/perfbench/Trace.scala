package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** Per-layer tracing from outside the program: spans recorded around the
  * benchmark's calls into the program's public entry points, and a
  * `SparkListener` that counts the jobs, stages and tasks each span ran.
  *
  * A span tags its jobs through a Spark local property, which Spark
  * copies into every job the calling thread (or an SQL execution it
  * starts) submits, so attribution does not depend on timing. Listener
  * events arrive asynchronously; [[Tracer.drain]] runs a marker job and
  * waits for its end event, after which every earlier event has been
  * delivered (one listener queue delivers in order).
  */
final case class Span(id: String, name: String, parent: String,
                      startMs: Long, endMs: Long, seconds: Double)

final class JobRec(val id: Int, val span: String, val callSite: String,
                   val sqlExecution: String, val submitMs: Long,
                   val stageIds: Seq[Int]) {
  var endMs: Long = -1L
  var succeeded: Boolean = false
}

/** Task metrics summed over every attempt of one stage. */
final class StageAgg {
  var completed = false
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

final class Listener extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.HashMap[Int, StageAgg]()
  /** SQL execution id -> call site of the action that started it. */
  val sqlSites = mutable.HashMap[String, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(sqlSites(s.executionId.toString) = s.description)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).getOrElse("")
    // a job's call site is its result stage's name (the short form
    // Spark shows as the job description)
    val site = props.flatMap(p => Option(p.getProperty("callSite.short")))
      .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, span, site, exec, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.succeeded = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg).completed = true
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
    s.tasks += 1
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRecords += m.inputMetrics.recordsRead
      s.outputBytes += m.outputMetrics.bytesWritten
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Counts of the jobs attributed to a set of spans. */
final case class Usage(jobs: Long, stages: Long, tasks: Long, runS: Double,
                       cpuS: Double, gcS: Double, inputBytes: Long,
                       inputRecords: Long, outputBytes: Long, shuffleWriteBytes: Long,
                       spillBytes: Long)

final class Tracer(sc: SparkContext) {
  val listener = new Listener
  val spans = mutable.ArrayBuffer[Span]()
  private var on = false
  private var seq = 0
  private var drains = 0

  /** Attach or detach the listener; pending events are drained first so
    * a detached listener has seen every job of the spans it recorded. */
  def enable(flag: Boolean): Unit = if (flag != on) {
    if (flag) sc.addSparkListener(listener)
    else { drain(); sc.removeSparkListener(listener) }
    on = flag
  }

  /** Time `f`; when tracing is on, also record it as a span whose jobs
    * carry the span's id. */
  def span[T](name: String, parent: String = "")(f: => T): (T, Span) = {
    val id = if (on) { seq += 1; s"s$seq" } else ""
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    if (on) sc.setLocalProperty(Tracer.SpanKey, id)
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = f
      val sp = Span(id, name, parent, t0ms, System.currentTimeMillis(),
        (System.nanoTime() - t0) / 1e9)
      if (on) spans += sp
      (r, sp)
    } finally if (on) sc.setLocalProperty(Tracer.SpanKey, prev)
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (on) {
    drains += 1
    val tag = s"drain$drains"
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.SpanKey, prev)
    val deadline = System.nanoTime() + 30L * 1000000000L
    def done = listener.synchronized(
      listener.jobs.values.exists(j => j.span == tag && j.endMs >= 0))
    while (!done) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException("listener events did not drain within 30 s")
      Thread.sleep(5)
    }
  }

  /** Usage of the jobs tagged with any of `ids`. */
  def usage(ids: Set[String]): Usage = listener.synchronized {
    val js = listener.jobs.values.filter(j => ids.contains(j.span)).toSeq
    val ss = js.flatMap(_.stageIds).distinct.flatMap(listener.stages.get)
      .filter(_.completed)
    Usage(js.size, ss.size, ss.map(_.tasks).sum, ss.map(_.runMs).sum / 1e3,
      ss.map(_.cpuNs).sum / 1e9, ss.map(_.gcMs).sum / 1e3,
      ss.map(_.inputBytes).sum, ss.map(_.inputRecords).sum, ss.map(_.outputBytes).sum,
      ss.map(_.shuffleWriteBytes).sum, ss.map(_.spillBytes).sum)
  }

  def usage(id: String): Usage = usage(Set(id))

  /** Spans and jobs as JSON, for grouping a run's jobs by call site.
    * Adaptive-execution stage jobs carry an internal call site; each job
    * also gets `sql_call_site`, the call site of the action that started
    * its SQL execution. */
  def toJson: Any = listener.synchronized {
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "seconds" -> s.seconds)).toSeq,
      "jobs" -> listener.jobs.values.filterNot(_.span.startsWith("drain"))
        .map { j =>
          val ss = j.stageIds.flatMap(listener.stages.get).filter(_.completed)
          Map("id" -> j.id, "span" -> j.span, "call_site" -> j.callSite,
            "sql_call_site" -> listener.sqlSites.getOrElse(j.sqlExecution, j.callSite),
            "submit_ms" -> j.submitMs, "end_ms" -> j.endMs,
            "succeeded" -> j.succeeded, "stages" -> ss.size,
            "tasks" -> ss.map(_.tasks).sum, "input_bytes" -> ss.map(_.inputBytes).sum,
            "input_records" -> ss.map(_.inputRecords).sum,
            "shuffle_write_bytes" -> ss.map(_.shuffleWriteBytes).sum)
        }.toSeq)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
