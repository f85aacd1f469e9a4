package graft

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
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <query> [query...]")
    val sfDir = args(0)
    val names = Queries.select(Queries.all.map(_.name), Some(args.drop(1).toSeq), "Profile")
    val spark = Sessions.create("graft-profile", Sessions.cpus)
    val fns = Queries.queries
    val telemetry = Telemetry.attach(spark)
    // SPARK_GRAFT_PROFILE_ACTION=foreach executes FULL rows (the Verify/
    // stress render path) instead of count() — count prunes final
    // projections, so projection-only costs (e.g. the N-Triples escape)
    // are invisible to it (guide §1.4). Measurement-only knob.
    val action: org.apache.spark.sql.DataFrame => Unit =
      if (sys.env.get("SPARK_GRAFT_PROFILE_ACTION").contains("foreach"))
        df => df.foreach(_ => ())
      else df => { df.count(); () }
    names.foreach { name =>
      // warmup (JIT + substrates), same lifecycle as Bench
      try action(fns(name)(spark, sfDir)) catch { case e: Throwable =>
        println(s"[profile] $name warmup failed: $e"); }
      telemetry.drain(spark)
      telemetry.reset()
      val t0 = System.nanoTime()
      action(fns(name)(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      telemetry.drain(spark)
      val jobs = telemetry.jobs
      val jobSum = jobs.map(_.millis).sum / 1e3
      val busy = telemetry.busy / 1e3
      println(f"\n== $name%s wall=$wall%.3fs jobs=${jobs.size}%d jobSum=$jobSum%.3fs busy=$busy%.3fs gap=${wall - busy}%.3fs")
      jobs.sortBy(-_.millis).take(14).foreach { j =>
        println(f"  job ${j.id}%3d ${j.millis / 1e3}%7.3fs stages=${j.stages}%2d tasks=${j.tasks}%4d ${j.desc.take(60)}%s")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
