package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.FastMap

/** M1i: the OCLC FAST authority mapper exemplar (`fast/mapper.py`). */
class FastMapSpec extends AnyFunSuite {

  test("guess_type: first tag in nameTypeMap order wins") {
    assert(FastMap.guessType(Set("100")) === Some("Person"))
    assert(FastMap.guessType(Set("100", "148")) === Some("Period")) // 148 first
    assert(FastMap.guessType(Set("151")) === Some("Place"))
    assert(FastMap.guessType(Set("411")) === Some("Activity"))
    assert(FastMap.guessType(Set("999")) === None)
  }

  test("fast_id_to_uri strips the prefix and leading zeros") {
    assert(FastMap.fastIdToUri("(OCoLC)fst00001234")
      === "http://id.worldcat.org/fast/1234")
    // all-zero id degenerates to the bare namespace (faithful lstrip)
    assert(FastMap.fastIdToUri("(OCoLC)fst00000000")
      === "http://id.worldcat.org/fast/")
  }

  test("equivalents: wikipedia→QID (miss drops), DLC→LCSH, dedupe keeps order") {
    val eqs = FastMap.equivalents(Seq(
      "https://en.wikipedia.org/wiki/Amsterdam",
      "https://de.wikipedia.org/wiki/Berlin",
      "(DLC) sh 85003553",
      "(OCoLC)fst01204271",
      "https://plain.org/x",
      "https://plain.org/x",
      ""),
      uri => if (uri.contains("Amsterdam")) Some("Q727") else None)
    assert(eqs === Seq(
      "http://www.wikidata.org/entity/Q727", // Berlin lookup missed: dropped
      "http://id.loc.gov/authorities/subjects/sh85003553",
      "http://id.worldcat.org/fast/1204271",
      "https://plain.org/x"))
  }

  test("dms_to_wkt: arc-second parse, S/W negation, POINT(lon lat) order") {
    // 52°22ʹ51ʺN = 188571″; 004°38ʹ13ʺE = 16693″
    assert(FastMap.dmsToArcsec("52°22ʹ51ʺN 004°38ʹ13ʺE") === Some((16693L, 188571L)))
    assert(FastMap.dmsToArcsec("52°22ʹ51ʺS 004°38ʹ13ʺW") === Some((-16693L, -188571L)))
    // ASCII marks and the optional seconds mark
    assert(FastMap.dmsToArcsec("52°22'51\"N 004°38'13\"E") === Some((16693L, 188571L)))
    assert(FastMap.dmsToArcsec("52°22ʹ51N 004°38ʹ13E") === Some((16693L, 188571L)))
    // ';'-prefixed source note keeps only the coordinate part
    assert(FastMap.dmsToArcsec("b. of Amsterdam;52°22ʹ51ʺN 004°38ʹ13ʺE")
      === Some((16693L, 188571L)))
    // fast/mapper.py uses split(';')[1]: ONLY the segment between the
    // first and second semicolon
    assert(FastMap.dmsToArcsec(
      "b. of Amsterdam;52°22ʹ51ʺN 004°38ʹ13ʺE;later of Leiden")
      === Some((16693L, 188571L)))
    assert(FastMap.dmsToArcsec("notacoord") === None)
    assert(FastMap.dmsToArcsec("52°22ʹ51ʺN") === None) // one part only
  }

  test("assign_names: first non-empty is primary unless one exists") {
    assert(FastMap.assignNames(Seq("", "a", "b"), hasPrimary = false)
      === Seq(("a", "Primary"), ("b", "Alternate")))
    assert(FastMap.assignNames(Seq("a", "b"), hasPrimary = true)
      === Seq(("a", "Alternate"), ("b", "Alternate")))
    assert(FastMap.assignNames(Nil, hasPrimary = false) === Nil)
  }

  test("build_timespan: four-point assembly, empty when neither side parses") {
    assert(FastMap.buildTimespan(Some("1990"), Some("2000")) === Some((
      "1990-01-01T00:00:00", "1990-12-31T23:59:59",
      "2000-01-01T00:00:00", "2000-12-31T23:59:59")))
    assert(FastMap.buildTimespan(Some("1990"), None) === Some((
      "1990-01-01T00:00:00", "1990-12-31T23:59:59", "", "")))
    assert(FastMap.buildTimespan(None, Some("9999")) === None)
    assert(FastMap.buildTimespan(None, None) === None)
  }
}
