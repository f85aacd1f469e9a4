package graft

import org.scalatest.funsuite.AnyFunSuite

/** Busy time is the union of job intervals, so the driver gap
  * (wall - busy) cannot go negative when jobs overlap; the listener
  * sees the jobs run between a reset and a drain, and sums their
  * shuffle bytes. */
class TelemetrySpec extends AnyFunSuite {

  test("disjoint intervals sum") {
    assert(Telemetry.busyTime(Seq(0L -> 2L, 5L -> 8L)) == 5L)
  }

  test("overlapping intervals count their overlap once") {
    // Σ job time is 7 over a 5-unit window; the union is the window
    assert(Telemetry.busyTime(Seq(0L -> 4L, 2L -> 5L)) == 5L)
    assert(Telemetry.busyTime(Seq(2L -> 5L, 0L -> 4L)) == 5L)
  }

  test("nested intervals add nothing") {
    assert(Telemetry.busyTime(Seq(0L -> 10L, 2L -> 5L, 3L -> 4L)) == 10L)
  }

  test("empty and unfinished intervals are zero") {
    assert(Telemetry.busyTime(Seq.empty) == 0L)
    assert(Telemetry.busyTime(Seq(3L -> 0L, 4L -> 4L)) == 0L)
  }

  test("busy never exceeds the span, so the gap is >= 0") {
    val jobs = Seq(10L -> 40L, 15L -> 25L, 30L -> 60L, 70L -> 80L, 75L -> 90L)
    val span = jobs.map(_._2).max - jobs.map(_._1).min
    assert(Telemetry.busyTime(jobs) == 70L)
    assert(span - Telemetry.busyTime(jobs) >= 0L)
    assert(span - jobs.map { case (s, e) => e - s }.sum < 0L)
  }

  test("a job run between reset and drain is recorded, busy within wall") {
    val spark = TestSpark.spark
    val t = Telemetry.attach(spark)
    try {
      t.drain(spark)
      t.reset()
      val t0 = System.currentTimeMillis()
      spark.range(0L, 1000L, 1L, 2).selectExpr("sum(id)").collect()
      t.drain(spark)
      val wall = System.currentTimeMillis() - t0
      val jobs = t.jobs
      assert(jobs.nonEmpty)
      assert(jobs.forall(_.completed >= t0) && jobs.exists(_.tasks >= 1), jobs)
      assert(t.busy <= wall, s"busy ${t.busy} ms, wall $wall ms")
      t.reset()
      assert(t.jobs.isEmpty && t.spill == Telemetry.Spill(0L, 0L, 0L))
    } finally spark.sparkContext.removeSparkListener(t)
  }

  /** Shuffle bytes of `work`, run between a reset and a drain. */
  private def shuffleOf(work: => Unit): Telemetry.Shuffle = {
    val spark = TestSpark.spark
    val t = Telemetry.attach(spark)
    try {
      t.drain(spark)
      t.reset()
      work
      t.drain(spark)
      t.shuffle
    } finally spark.sparkContext.removeSparkListener(t)
  }

  test("shuffle bytes of an executed aggregation are recorded") {
    val sh = shuffleOf(Queries.queries("q1_agg")(TestSpark.spark, TestSpark.sf)
      .foreach(_ => ()))
    assert(sh.written > 0L && sh.read > 0L, sh)
  }

  test("a scan-only projection records zero shuffle bytes") {
    val spark = TestSpark.spark
    import spark.implicits._
    val sh = shuffleOf(Tables.load(spark, TestSpark.sf, "region")
      .select($"r_regionkey").foreach(_ => ()))
    assert(sh === Telemetry.Shuffle(0L, 0L))
  }
}
