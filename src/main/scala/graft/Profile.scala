package graft

import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.util.control.NonFatal

/** r17 measurement harness (guide §1): per-JOB wall-time breakdown for a
  * query — how many Spark jobs an invocation schedules, what each costs,
  * and where the time concentrates (many sub-100ms jobs = fixed
  * per-round overhead dominating; one fat job = real data work worth a
  * plan look). Bench keys at sf0.1 are seconds-scale, so job COUNT and
  * per-job latency are the first split the optimization round needs
  * before touching any plan.
  *
  * Usage: sbt "runMain graft.Profile <sfDir> <query> [query...]"
  * Prints, per query: warmed total, job count, sum of job times, busy
  * time (the union of job intervals), the driver gap (wall - busy), and
  * the top jobs with their stage/task counts. Measurement-only — never
  * run by the driver, changes no query. */
object Profile {

  private final class JobListener extends SparkListener {
    final case class Job(id: Int, var submitted: Long = 0L,
        var completed: Long = 0L, var stages: Int = 0, var tasks: Int = 0,
        var desc: String = "")
    val jobs = mutable.LinkedHashMap[Int, Job]()
    val stageTasks = mutable.HashMap[Int, Int]()
    val stageToJob = mutable.HashMap[Int, Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val j = Job(e.jobId, submitted = e.time)
      j.stages = e.stageInfos.size
      j.desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      e.stageIds.foreach(stageToJob(_) = e.jobId)
      jobs(e.jobId) = j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.completed = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        stageToJob.get(si.stageId).foreach { jid =>
          jobs.get(jid).foreach(_.tasks += si.numTasks)
        }
      }
    def reset(): Unit = synchronized { jobs.clear(); stageTasks.clear(); stageToJob.clear() }
  }

  /** Blocks until the async listener bus has delivered every posted
    * event, so listener reads see all events of the jobs that ran
    * before the call. `LiveListenerBus.waitUntilEmpty` is
    * `private[spark]` (bytecode-public), reached via reflection; if that
    * fails, a settle-sleep only widens the window, never narrows it. */
  private[graft] def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus): Unit
    } catch { case NonFatal(_) => Thread.sleep(1500) }

  /** Length of the union of [start, end] intervals: the time at least
    * one job was running. Overlapping jobs are counted once, so the
    * driver gap `wall - busy` stays >= 0 (`wall - Σ job time` does not). */
  private[graft] def busyTime(intervals: Seq[(Long, Long)]): Long =
    intervals.filter { case (s, e) => e > s }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((busy, end), (s, e)) =>
        if (e <= end) (busy, end) else (busy + e - math.max(s, end), e)
      }._1

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <query> [query...]")
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus = Sessions.cpus
    val spark = Sessions.create("graft-profile", cpus)
    val fns = Queries.queries
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    // SPARK_GRAFT_PROFILE_ACTION=foreach executes FULL rows (the Verify/
    // stress render path) instead of count() — count prunes final
    // projections, so projection-only costs (e.g. the N-Triples escape)
    // are invisible to it (guide §1.4). Measurement-only knob.
    val action: org.apache.spark.sql.DataFrame => Unit =
      if (sys.env.get("SPARK_GRAFT_PROFILE_ACTION").contains("foreach"))
        df => df.foreach(_ => ())
      else df => { df.count(); () }
    names.foreach { name =>
      require(fns.contains(name), s"unknown query $name")
      // warmup (JIT + substrates), same lifecycle as Bench
      try action(fns(name)(spark, sfDir)) catch { case e: Throwable =>
        println(s"[profile] $name warmup failed: $e"); }
      drainListenerBus(spark)
      listener.reset()
      val t0 = System.nanoTime()
      action(fns(name)(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      drainListenerBus(spark)
      val jobs = listener.jobs.values.toSeq
      val jobSum = jobs.map(j => (j.completed - j.submitted).max(0L)).sum / 1e3
      val busy = busyTime(jobs.map(j => (j.submitted, j.completed))) / 1e3
      println(f"\n== $name%s wall=$wall%.3fs jobs=${jobs.size}%d jobSum=$jobSum%.3fs busy=$busy%.3fs gap=${wall - busy}%.3fs")
      jobs.sortBy(j => -(j.completed - j.submitted)).take(14).foreach { j =>
        val ms = (j.completed - j.submitted).max(0L)
        println(f"  job ${j.id}%3d ${ms / 1e3}%7.3fs stages=${j.stages}%2d tasks=${j.tasks}%4d ${j.desc.take(60)}%s")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
