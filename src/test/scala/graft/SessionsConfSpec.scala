package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CONF` parsing: the one env-conf path every main shares.
  * A malformed entry must fail loudly, never fall back to defaults. */
class SessionsConfSpec extends AnyFunSuite {

  test("a k=v;k=v list parses in order, values may contain '='") {
    assert(Sessions.parseConf(
      " spark.memory.fraction=0.15 ; spark.graft.bandCap=256;a=b=c;") ==
      Seq("spark.memory.fraction" -> "0.15", "spark.graft.bandCap" -> "256",
        "a" -> "b=c"))
  }

  test("an empty or blank string sets nothing") {
    assert(Sessions.parseConf("").isEmpty)
    assert(Sessions.parseConf(" ; ").isEmpty)
  }

  test("an entry without k=v is rejected, not dropped") {
    val e = intercept[IllegalArgumentException](
      Sessions.parseConf("spark.memory.fraction=0.15;spark.graft.bandCap"))
    assert(e.getMessage.contains("SPARK_GRAFT_CONF entry not k=v: spark.graft.bandCap"))
    intercept[IllegalArgumentException](Sessions.parseConf("=0.15"))
  }
}
