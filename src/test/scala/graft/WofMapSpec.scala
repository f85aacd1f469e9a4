package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.WofMap

/** WOF mapper kernels (general/wof/mapper.py). */
class WofMapSpec extends AnyFunSuite {

  test("ramerdouglas: collinear collapses, spike above tolerance survives") {
    val flat = Seq((0.0, 0.0), (1.0, 0.0), (2.0, 0.0), (3.0, 0.0))
    assert(WofMap.ramerdouglas(flat, 0.5) === Seq((0.0, 0.0), (3.0, 0.0)))
    val spike = Seq((0.0, 0.0), (2.0, 2.0), (4.0, 0.0))
    assert(WofMap.ramerdouglas(spike, 1.1) === spike)
    assert(WofMap.ramerdouglas(Seq((0.0, 0.0), (2.0, 1.0), (4.0, 0.0)), 1.1)
      === Seq((0.0, 0.0), (4.0, 0.0)))
    assert(WofMap.ramerdouglas(Seq((0.0, 0.0), (1.0, 1.0)), 0.1).length === 2)
  }

  test("ramerdouglas: closed ring uses the second-to-last endpoint; " +
      "coincident endpoints raise (the EDIVZERO escape)") {
    val ring = Seq((0.0, 0.0), (2.0, 2.0), (4.0, 0.0), (0.0, 0.0))
    // begin=(0,0), end=(4,0): both interior points tested
    assert(WofMap.ramerdouglas(ring, 0.5) ===
      Seq((0.0, 0.0), (2.0, 2.0), (4.0, 0.0), (0.0, 0.0)))
    // closed ring whose second-to-last ALSO coincides with the head:
    // both chosen endpoints are equal → the reference divides by zero
    intercept[IllegalArgumentException] {
      WofMap.ramerdouglas(
        Seq((1.0, 1.0), (2.0, 2.0), (1.0, 1.0), (1.0, 1.0)), 0.5)
    }
    // head==last with a DISTINCT second-to-last picks that instead
    assert(WofMap.ramerdouglas(
      Seq((1.0, 1.0), (2.0, 2.0), (1.0, 1.0)), 0.5).nonEmpty)
  }

  test("fixIdentifier reduces paths and geojson names") {
    assert(WofMap.fixIdentifier("102/051/581/102051581.geojson") === "102051581")
    assert(WofMap.fixIdentifier("12345.geojson") === "12345")
    assert(WofMap.fixIdentifier("12345") === "12345")
  }

  test("nameLang: three-letter tag at chars 5-8, gated") {
    assert(WofMap.nameLang("name:eng_x_preferred") === Some("en"))
    assert(WofMap.nameLang("name:zho_x_preferred") === Some("zh"))
    assert(WofMap.nameLang("name:por_x_preferred") === None) // pt unprocessed
    assert(WofMap.nameLang("name:xyz_x_preferred") === None)
    assert(WofMap.nameLang("wof:name") === None)
  }

  test("concordances mint in wd/gn/loc/tgn order") {
    assert(WofMap.concordances(Some("Q1"), Some("2"), Some("n3"), Some("4")) ===
      Seq("http://www.wikidata.org/entity/Q1", "https://sws.geonames.org/2",
        "http://id.loc.gov/authorities/names/n3",
        "http://vocab.getty.edu/tgn/4"))
    assert(WofMap.concordances(None, None, None, None) === Nil)
  }

  test("hierarchyParent: positive id wins; predecessor key, first hit; " +
      "continent (index 0) never looks up") {
    assert(WofMap.hierarchyParent(42, "region", Nil) === Some(42))
    assert(WofMap.hierarchyParent(-1, "region", Seq(
      Map("county_id" -> 1L), Map("macroregion_id" -> 7L),
      Map("macroregion_id" -> 9L))) === Some(7))
    assert(WofMap.hierarchyParent(-1, "continent", Seq(Map("x_id" -> 1L))) === None)
    assert(WofMap.hierarchyParent(-1, "nowhere", Nil) === None)
  }

  test("bbox gates: point, broken (zero width/height), good ring") {
    assert(WofMap.bboxIsPoint(Seq(1, 2, 1, 2)))
    assert(!WofMap.bboxIsPoint(Seq(1, 2, 3, 4)))
    assert(WofMap.bboxRing(Seq(1, 2, 1, 5)) === None) // zero width
    assert(WofMap.bboxRing(Seq(1, 2, 3, 2)) === None) // zero height
    assert(WofMap.bboxRing(Seq(1, 2, 3, 5)).get.length === 5)
  }

  test("point fallback + spacing; tiny-polygon rejection") {
    assert(WofMap.pointFallback(Some(("1.5", "2.25")), Some(("9", "9")))
      === Some(("1.5", "2.25")))
    assert(WofMap.pointFallback(None, Some(("9", "8"))) === Some(("9", "8")))
    assert(WofMap.pointWkt(("12.5", "41.9")) === "POINT (12.5 41.9 )")
    assert(WofMap.tinyPolygon(Seq((0.0, 0.0), (0.01, 0.0), (0.01, 0.01))))
    assert(!WofMap.tinyPolygon(Seq((0.0, 0.0), (1.0, 0.0), (1.0, 1.0))))
  }
}
