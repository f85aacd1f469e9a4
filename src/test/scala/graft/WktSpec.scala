package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Wkt

class WktSpec extends AnyFunSuite {
  test("parse POINT and POLYGON") {
    assert(Wkt.parse("POINT(1.5 -2)") === Some(Wkt.Point(1.5, -2.0)))
    assert(Wkt.parse("POLYGON((0 0, 1 0, 1 1, 0 0))") ===
      Some(Wkt.Polygon(Seq((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 0.0)))))
    assert(Wkt.parse("LINESTRING(0 0, 1 1)") === None)
    assert(Wkt.parse("POINT(garbage)") === None)
    assert(Wkt.parse(null) === None)
  }

  test("kind and coordinate count") {
    assert(Wkt.parse("POINT(3 4)").map(_.kind) === Some("POINT"))
    assert(Wkt.parse("POLYGON((0 0, 1 0, 1 1, 0 0))").map(_.nCoords) === Some(4))
  }

  test("arbitration: polygon beats point, more coords beats fewer, ties keep first") {
    val pt = "POINT(1 2)"
    val poly4 = "POLYGON((0 0, 1 0, 1 1, 0 0))"
    val poly5 = "POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))"
    assert(Wkt.better(pt, poly4) === poly4)
    assert(Wkt.better(poly4, pt) === poly4)
    assert(Wkt.better(poly4, poly5) === poly5)
    assert(Wkt.better(poly5, poly4) === poly5)
    assert(Wkt.better(poly4, poly4) === poly4)
    assert(Wkt.better(pt, "bogus") === pt)
    assert(Wkt.better("bogus", pt) === pt)
  }

  test("precision tiebreak fires whenever b does not have more coords (merger.py:222-237)") {
    // equal coords, b textually more precise -> b
    val coarse = "POLYGON((1 2, 2 2, 2 3, 1 2))"
    val precise = "POLYGON((1.253 2, 2 2, 2 3, 1.253 2))"
    assert(Wkt.better(coarse, precise) === precise)
    assert(Wkt.better(precise, coarse) === precise)
    // b has FEWER coords but longer first-coordinate text: the reference's
    // else-branch still runs the string compare, so b wins
    val poly5coarse = "POLYGON((1 2, 2 2, 2 3, 1 3, 1 2))"
    val poly4precise = "POLYGON((1.253 2, 2 2, 2 3, 1.253 2))"
    assert(Wkt.better(poly5coarse, poly4precise) === poly4precise)
    // points use the same compare
    assert(Wkt.better("POINT(1 2)", "POINT(1.25 2)") === "POINT(1.25 2)")
  }

  test("columnar coord count reads only the exterior ring") {
    val spark = TestSpark.spark
    import spark.implicits._
    val multiRing =
      "POLYGON((0 0, 4 0, 4 4, 0 0),(1 1, 2 1, 2 2, 1 1))" // 4 + hole
    val got = Seq(multiRing, "POINT(1 2)").toDF("w")
      .select(Wkt.coordCountCol($"w").as("n")).as[Int].collect().toSeq
    assert(got === Seq(4, 1)) // interior ring does not inflate the count
  }
}
