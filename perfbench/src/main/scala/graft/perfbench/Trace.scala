package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import scala.collection.mutable

/** Benchmark-side tracing, observed from outside the engine.
  *
  * Spans wrap the benchmark's own calls into the engine's public entry
  * points. The open span's id travels to Spark as a job-group-style local
  * property, so every Spark job becomes a child span of the benchmark
  * span that was open on the submitting thread (broadcast and adaptive
  * sub-jobs inherit the property). Task metrics are folded per job, and a
  * QueryExecutionListener records the planning phases of each action.
  * Everything stays in memory until `toJson` at the end of the run.
  *
  * Until `attach` a tracer records nothing and sets no property, so the
  * untraced measurement path carries no listener at all. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val actions = mutable.ArrayBuffer[ActionRec]()
  private val execSites = mutable.HashMap[Long, String]()

  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall-clock milliseconds on Spark's event clock, at nanosecond
    * resolution. */
  def nowMs: Double = epochMs + (System.nanoTime() - nano0) / 1e6

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      span.foreach { s =>
        // the result stage carries the job's call site
        val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
        val exec = Option(e.properties.getProperty("spark.sql.execution.id"))
          .map(_.toLong).getOrElse(-1L)
        Tracer.this.synchronized {
          jobs(e.jobId) = JobRec(e.jobId, s.toInt, e.time.toDouble, callSite = site,
            execId = exec)
          e.stageIds.foreach(id => stageJob.getOrElseUpdate(id, e.jobId))
        }
      }
    }
    // adaptive query stages run as jobs submitted from Spark's own
    // threads, whose call sites show no caller; the SQL execution they
    // belong to was started on the calling thread and keeps its stack
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        execSites(s.executionId) = s.details
      }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.taskMs += m.executorRunTime
        val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        val written = m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
        if (read == 0 && written == 0) j.emptyTasks += 1
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        j.spill += m.diskBytesSpilled
        j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
        j.ioRead += m.inputMetrics.bytesRead
        j.ioWrite += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)
    private def record(funcName: String, qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val planning = Seq("analysis", "optimization", "planning").flatMap(phases.get)
      if (planning.nonEmpty) Tracer.this.synchronized {
        actions += ActionRec(funcName, planning.map(_.startTimeMs).min.toDouble,
          planning.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble)
      }
    }
  }

  private var attached = false

  /** Start recording (listeners on, span property propagated). */
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  /** Stop recording after draining the listener buses. */
  def detach(): Unit = if (attached) {
    drain(spark)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** Run `body` inside a span named `name`. `module` names the engine
    * entry point the span calls (jobs whose call site shows no engine
    * frame are attributed to it); `op` tags the measured op the span
    * belongs to (inherited from the parent when -1). */
  def span[T](name: String, module: String, op: Int = -1)(body: => T): T =
    if (!attached) body
    else {
      val parent = stack.headOption
      val s = synchronized {
        val s = Span(spans.size, parent.map(_.id).getOrElse(-1), name, module,
          if (op >= 0) op else parent.map(_.op).getOrElse(-1), nowMs)
        spans += s
        s
      }
      stack.push(s)
      spark.sparkContext.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = nowMs
        stack.pop()
        spark.sparkContext.setLocalProperty(SpanKey,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  def toJson: String = synchronized {
    Serialization.write(Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "module" -> s.module, "op" -> s.op, "start_ms" -> s.start, "end_ms" -> s.end)),
      "jobs" -> jobs.values.map(j => Map("id" -> j.id, "span" -> j.span,
        "start_ms" -> j.start, "end_ms" -> j.end, "call_site" -> j.callSite,
        "exec_call_site" -> execSites.getOrElse(j.execId, ""),
        "tasks" -> j.tasks, "task_ms" -> j.taskMs, "empty_tasks" -> j.emptyTasks,
        "shuffle_write_b" -> j.shuffleWrite, "shuffle_read_b" -> j.shuffleRead,
        "spill_b" -> j.spill, "peak_mem_b" -> j.peakMem,
        "io_read_b" -> j.ioRead, "io_write_b" -> j.ioWrite)),
      "actions" -> actions.map(a => Map("func" -> a.func,
        "start_ms" -> a.start, "plan_ms" -> a.planMs))))(DefaultFormats)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, module: String,
      op: Int, start: Double, var end: Double = -1)

  final case class JobRec(id: Int, span: Int, start: Double, var end: Double = -1,
      callSite: String = "", execId: Long = -1L, var tasks: Int = 0, var taskMs: Long = 0L,
      var emptyTasks: Int = 0, var shuffleWrite: Long = 0L,
      var shuffleRead: Long = 0L, var spill: Long = 0L, var peakMem: Long = 0L,
      var ioRead: Long = 0L, var ioWrite: Long = 0L)

  final case class ActionRec(func: String, start: Double, planMs: Double)

  /** Block until every queued listener event has been delivered.
    * LiveListenerBus.waitUntilEmpty is private[spark], hence reflection. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus): Unit
  }
}
