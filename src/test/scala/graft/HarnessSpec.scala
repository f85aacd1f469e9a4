package graft

import java.nio.file.Files
import java.util.Locale

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** The shared pieces of the measurement mains: the key selector, the
  * JSON writer and the Bench final line the driver parses. */
class HarnessSpec extends AnyFunSuite {

  test("the selector keeps universe order and fails on unknown or empty") {
    val universe = Seq("a", "b", "c")
    assert(Queries.select(universe, None, "T") == universe)
    assert(Queries.select(universe, Some(Seq("c", "a")), "T") == Seq("a", "c"))
    val unknown = intercept[IllegalArgumentException](
      Queries.select(universe, Some(Seq("a", "typo")), "T"))
    assert(unknown.getMessage.contains("typo"))
    intercept[IllegalArgumentException](Queries.select(universe, Some(Nil), "T"))
  }

  test("Verify fails on an unknown name before writing anything") {
    val out = Files.createTempDirectory("graft_verify_typo").resolve("out")
    try {
      val e = intercept[IllegalArgumentException](
        Verify.main(Array(TestSpark.sf, out.toString, "typo_name")))
      assert(e.getMessage.contains("typo_name"))
      assert(!Files.exists(out))
    } finally Files.delete(out.getParent)
  }

  test("ExplainAudit fails on an unknown name with the name") {
    val e = intercept[IllegalArgumentException](
      ExplainAudit.main(Array(TestSpark.sf, "q1_agg", "typo_name")))
    assert(e.getMessage.contains("typo_name") && !e.getMessage.contains("q1_agg"))
  }

  test("numbers keep their decimals and a '.' separator under any locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(Json.write(JObject("a" -> Json.fixed(1.5, 3), "b" -> Json.fixed(2.0004, 1),
        "c" -> Json.fixed(-1.0, 3), "d" -> Json.fixed(0.0005, 3))) ==
        """{"a":1.500,"b":2.0,"c":-1.000,"d":0.001}""")
      val sf = """/data/a "quoted" dir\with\backslashes"""
      val line = Bench.finalLines(Seq("q1_agg" -> Right(0.25)), Seq("cal_cpu" -> 1.0), "abc", sf).last
      assert(line.contains("\"value\":0.250"))
      assert((parse(line) \ "sf") == JString(sf))
    } finally Locale.setDefault(saved)
  }

  test("the Bench final line is pinned: field order, 3 decimals, errors, shed form") {
    val cal = Seq("cal_cpu" -> 2.0004, "cal_shuffle" -> 1.9996)
    val ok = Bench.finalLines(Seq("a1_scan" -> Right(1.2346), "b2_join" -> Right(0.5)),
      cal, "abc123def456", "/root/testdata/sf0.1")
    assert(ok == Seq("""{"metric":"total","value":1.735,"unit":"sec",""" +
      """"queries":{"a1_scan":1.235,"b2_join":0.500},""" +
      """"calibration":{"cal_cpu":2.000,"cal_shuffle":2.000},""" +
      """"corpus":{"id":"abc123def456"},"sf":"/root/testdata/sf0.1"}"""))
    val failed = Bench.finalLines(
      Seq("a1_scan" -> Right(1.2346), "b2_join" -> Left("""java.lang.IllegalStateException: bad "x" C:\y""")),
      cal, "abc123def456", "/root/testdata/sf0.1")
    assert(failed == Seq("""{"metric":"total","value":-1.000,"unit":"sec",""" +
      """"queries":{"a1_scan":1.235,"b2_join":"err"},""" +
      """"calibration":{"cal_cpu":2.000,"cal_shuffle":2.000},""" +
      """"corpus":{"id":"abc123def456"},""" +
      """"errors":["b2_join: java.lang.IllegalStateException: bad \"x\" C:\\y"],""" +
      """"sf":"/root/testdata/sf0.1"}"""))
    val many = (1 to 60).map(i => f"k$i%02d_a_long_registry_key_name" -> Right(i.toDouble))
    val shed = Bench.finalLines(many, cal, "abc123def456", "/root/testdata/sf0.1")
    assert(shed.size == 2 && shed.head.startsWith("[bench] final line "))
    assert(shed.last == """{"metric":"total","value":1830.000,"unit":"sec",""" +
      """"queries":"see_sidecar",""" +
      """"calibration":{"cal_cpu":2.000,"cal_shuffle":2.000},""" +
      """"corpus":{"id":"abc123def456"},"sf":"/root/testdata/sf0.1"}""")
    assert((ok ++ failed ++ shed.tail).forall(_.length <= 1500))
  }
}
