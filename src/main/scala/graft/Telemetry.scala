package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** The one SparkListener of the measurement mains (`Profile`,
  * `StressSweep`). Per job it records id, submit and end time, stage
  * and task counts and `spark.job.description`; per completed stage it
  * adds up memory and disk spill and shuffle bytes read and written, and
  * keeps the peak execution memory.
  *
  * Protocol: [[drain]], [[reset]], run the measured work, [[drain]],
  * then read [[jobs]] / [[spill]] / [[shuffle]]. The bus delivers events
  * asynchronously, so a read without the second drain can miss the
  * tail of the work. */
final class Telemetry extends SparkListener {
  import Telemetry._

  private val jobMap = mutable.LinkedHashMap[Int, Job]()
  private val stageToJob = mutable.HashMap[Int, Int]()
  private var spilled = Spill(0L, 0L, 0L)
  private var shuffled = Shuffle(0L, 0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    e.stageIds.foreach(stageToJob(_) = e.jobId)
    jobMap(e.jobId) = Job(e.jobId, e.time, 0L, e.stageInfos.size, 0, desc)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobMap.get(e.jobId).foreach(j => jobMap(e.jobId) = j.copy(completed = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageToJob.get(si.stageId).flatMap(jobMap.get)
      .foreach(j => jobMap(j.id) = j.copy(tasks = j.tasks + si.numTasks))
    Option(si.taskMetrics).foreach { m =>
      spilled = Spill(spilled.memory + m.memoryBytesSpilled,
        spilled.disk + m.diskBytesSpilled,
        math.max(spilled.peakExec, m.peakExecutionMemory))
      shuffled = Shuffle(shuffled.read + m.shuffleReadMetrics.totalBytesRead,
        shuffled.written + m.shuffleWriteMetrics.bytesWritten)
    }
  }

  def reset(): Unit = synchronized {
    jobMap.clear(); stageToJob.clear()
    spilled = Spill(0L, 0L, 0L); shuffled = Shuffle(0L, 0L)
  }

  /** Blocks until the async listener bus has delivered every posted
    * event, so reads see all events of the jobs that ran before the
    * call. `LiveListenerBus.waitUntilEmpty` is `private[spark]`
    * (bytecode-public), reached via reflection; if that fails, a
    * settle-sleep only widens the window, never narrows it. */
  def drain(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus): Unit
    } catch { case NonFatal(_) => Thread.sleep(1500) }

  /** Jobs since the last [[reset]], in submit order. */
  def jobs: Seq[Job] = synchronized(jobMap.values.toVector)

  /** Spill and peak execution memory since the last [[reset]]. */
  def spill: Spill = synchronized(spilled)

  /** Shuffle bytes read and written since the last [[reset]]. */
  def shuffle: Shuffle = synchronized(shuffled)

  /** Milliseconds at least one job since the last [[reset]] ran. */
  def busy: Long = busyTime(jobs.map(j => (j.submitted, j.completed)))
}

object Telemetry {
  final case class Job(id: Int, submitted: Long, completed: Long,
      stages: Int, tasks: Int, desc: String) {
    def millis: Long = (completed - submitted).max(0L)
  }

  /** Bytes spilled from memory and to disk, summed over completed
    * stages, and the largest stage peak execution memory. */
  final case class Spill(memory: Long, disk: Long, peakExec: Long)

  /** Shuffle bytes read (local + remote) and written, summed over
    * completed stages. */
  final case class Shuffle(read: Long, written: Long)

  def attach(spark: SparkSession): Telemetry = {
    val t = new Telemetry
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** Length of the union of [start, end] intervals: the time at least
    * one job was running. Overlapping jobs are counted once, so the
    * driver gap `wall - busy` stays >= 0 (`wall - Σ job time` does not). */
  def busyTime(intervals: Seq[(Long, Long)]): Long =
    intervals.filter { case (s, e) => e > s }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((busy, end), (s, e)) =>
        if (e <= end) (busy, end) else (busy + e - math.max(s, end), e)
      }._1
}
