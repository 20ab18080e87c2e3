package graft.perfbench

import scala.collection.mutable

import org.apache.spark.{Success, TaskEndReason}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** In-memory span tracer for the traced run.
  *
  * Harness spans (pass, operation, layer call) are opened and closed by
  * the harness thread. Job and stage records come from a SparkListener;
  * each job is attributed to the innermost `graft.*` frame of the call
  * site Spark reports for it, and later parented (by start time) to the
  * harness span that was open when it started. Nothing is written until
  * the run ends.
  */
final class Tracer extends SparkListener {
  import Tracer.Span

  final class StageRec(val id: Int, val job: Int, var submit: Long = 0L,
      var end: Long = 0L) {
    val taskRunMs = mutable.ArrayBuffer.empty[Long]
    var waitMs = 0L
  }

  final class JobRec(val id: Int, val start: Long, val site: String,
      val store: Boolean, val stages: Seq[Int]) {
    var end = 0L
    var ok = true
    var tasks = 0L
    var failures = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
  }

  /** Listener events are ignored while tracing is off, so an untraced
    * pass in the same JVM pays only the bus dispatch. `on` is read when
    * an event is delivered, so the harness drains the listener bus
    * before it flips it. */
  @volatile var on = false

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private var trace = 0
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val executions = mutable.HashMap.empty[Long, String]

  def newTrace(): Unit = trace += 1

  /** Runs `body` inside a span named `name`, a child of the innermost
    * open span. */
  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      trace, System.currentTimeMillis())
    spans += s
    open.push(s)
    try body finally { s.end = System.currentTimeMillis(); open.pop() }
  }

  /** SQL executions record the call site of the thread that ran the
    * Dataset action; jobs that Spark submits from its own threads
    * (adaptive query stages, broadcasts) carry only the execution id. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart if on => synchronized {
      executions(x.executionId) = x.details
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
    // The result stage is created last, so it has the highest id; its
    // details are the long form of the job's call site. Without a
    // graft frame there, the job's SQL execution's call site stands in.
    val details = if (e.stageInfos.isEmpty) ""
      else e.stageInfos.maxBy(_.stageId).details
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executions.get(id.toLong)).getOrElse("")
    val (site, store) = Tracer.attribute(
      if (Tracer.attribute(details)._1 == "unknown") execution + "\n" + details else details)
    jobs(e.jobId) = new JobRec(e.jobId, e.time, site, store, e.stageIds)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach { job =>
      val s = stages.getOrElseUpdate(e.stageInfo.stageId,
        new StageRec(e.stageInfo.stageId, job))
      s.submit = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jobId <- stageJob.get(e.stageId); j <- jobs.get(jobId)) {
      j.tasks += 1
      if (!Tracer.succeeded(e.reason)) j.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      stages.get(e.stageId).foreach { s =>
        if (m != null) s.taskRunMs += m.executorRunTime
        if (s.submit > 0) s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submit)
      }
    }
  }

  /** The trace for the record: spans (harness, job and stage), and
    * per-job records carrying the layer attribution and task
    * aggregates. Job spans are parented to the innermost harness span
    * that was open when the job started; stage spans to their job. */
  def toRecord: Map[String, Seq[Map[String, Any]]] = synchronized {
    val harness = spans.filter(_.end >= 0).toSeq
    def parentOf(t: Long): Option[Span] =
      harness.filter(s => s.start <= t && t <= s.end)
        .sortBy(s => (-s.start, s.end)).headOption
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    harness.foreach { s =>
      out += Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "trace" -> s.trace, "start" -> s.start, "end" -> s.end)
    }
    var next = spans.size
    val jobRecs = jobs.values.filter(_.end > 0).map { j =>
      val p = parentOf(j.start)
      val jid = next; next += 1
      out += Map("id" -> jid, "name" -> s"job ${j.id} ${j.site}",
        "parent" -> p.map(_.id).getOrElse(-1), "trace" -> p.map(_.trace).getOrElse(0),
        "start" -> j.start, "end" -> j.end)
      val st = j.stages.flatMap(stages.get).filter(s => s.submit > 0 && s.end > 0)
      st.foreach { s =>
        out += Map("id" -> next, "name" -> s"stage ${s.id}", "parent" -> jid,
          "trace" -> p.map(_.trace).getOrElse(0), "start" -> s.submit, "end" -> s.end)
        next += 1
      }
      val skews = st.filter(_.taskRunMs.size >= 2).map { s =>
        val sorted = s.taskRunMs.sorted
        val med = sorted(sorted.size / 2).toDouble
        sorted.last / math.max(med, 1.0)
      }
      Map[String, Any]("id" -> j.id, "start" -> j.start, "end" -> j.end, "ok" -> j.ok,
        "site" -> j.site, "store" -> j.store, "span" -> p.map(_.id).getOrElse(-1),
        "trace" -> p.map(_.trace).getOrElse(0),
        "stages" -> st.size, "tasks" -> j.tasks, "failures" -> j.failures,
        "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
        "wait_ms" -> st.map(_.waitMs).sum,
        "skew" -> (if (skews.isEmpty) 1.0 else skews.max),
        "shuffle_write" -> j.shuffleWrite, "shuffle_read" -> j.shuffleRead,
        "spill" -> j.spill)
    }.toSeq
    Map("spans" -> out.toSeq, "jobs" -> jobRecs)
  }
}

object Tracer {

  final case class Span(id: Int, name: String, parent: Int, trace: Int,
      start: Long, var end: Long = -1L)

  private def succeeded(r: TaskEndReason): Boolean = r == Success

  /** (innermost `graft.*` frame as `class.method`, whether any frame
    * passes through SessionStore) for a call site's long form — one
    * stack frame per line, innermost first. */
  def attribute(longForm: String): (String, Boolean) = {
    val frames = longForm.split("\n").map(_.trim)
    val site = frames.find(_.startsWith("graft.")).map(frameName)
      .getOrElse("unknown")
    (site, frames.exists(_.startsWith("graft.sources.SessionStore")))
  }

  /** `graft.ops.Subplan$.once(Subplan.scala:42)` → `graft.ops.Subplan.once`;
    * Scala's `$anonfun$name$1` and `$`-suffixed module names collapse to
    * the source-level name. */
  def frameName(frame: String): String = {
    val qualified = frame.takeWhile(_ != '(')
    val dot = qualified.lastIndexOf('.')
    val cls = qualified.take(dot).split('$').head
    val method = qualified.drop(dot + 1).split('$').filter(m =>
      m.nonEmpty && m != "anonfun" && !m.forall(_.isDigit)).headOption
      .getOrElse("apply")
    s"$cls.$method"
  }
}
