package graft

import org.scalatest.funsuite.AnyFunSuite

/** Profile's busy time is the union of job intervals, so the driver gap
  * (wall - busy) cannot go negative when jobs overlap. */
class ProfileBusyTimeSpec extends AnyFunSuite {

  test("disjoint intervals sum") {
    assert(Profile.busyTime(Seq(0L -> 2L, 5L -> 8L)) == 5L)
  }

  test("overlapping intervals count their overlap once") {
    // Σ job time is 7 over a 5-unit window; the union is the window
    assert(Profile.busyTime(Seq(0L -> 4L, 2L -> 5L)) == 5L)
    assert(Profile.busyTime(Seq(2L -> 5L, 0L -> 4L)) == 5L)
  }

  test("nested intervals add nothing") {
    assert(Profile.busyTime(Seq(0L -> 10L, 2L -> 5L, 3L -> 4L)) == 10L)
  }

  test("empty and unfinished intervals are zero") {
    assert(Profile.busyTime(Seq.empty) == 0L)
    assert(Profile.busyTime(Seq(3L -> 0L, 4L -> 4L)) == 0L)
  }

  test("busy never exceeds the span, so the gap is >= 0") {
    val jobs = Seq(10L -> 40L, 15L -> 25L, 30L -> 60L, 70L -> 80L, 75L -> 90L)
    val span = jobs.map(_._2).max - jobs.map(_._1).min
    assert(Profile.busyTime(jobs) == 70L)
    assert(span - Profile.busyTime(jobs) >= 0L)
    assert(span - jobs.map { case (s, e) => e - s }.sum < 0L)
  }
}
