package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.GettyMap
import graft.pipeline.GettyMap.GettyName

/** M1h: the Getty vocabulary mapper exemplar (`getty/mapper.py`). */
class GettyMapSpec extends AnyFunSuite {

  private val aat = "http://vocab.getty.edu/aat/"
  private val term = "http://vocab.getty.edu/term/"

  test("name classification: last match wins; POS ignored; default Name") {
    assert(GettyMap.name("x", Seq(s"${term}type/Descriptor"), None)
      === Some(GettyName("x", "Primary", None)))
    assert(GettyMap.name("x",
      Seq(s"${term}type/Descriptor", "http://vocab.getty.edu/historic/historic"),
      None) === Some(GettyName("x", "Alternate", None)))
    assert(GettyMap.name("x", Seq(s"${term}POS/Noun"), None)
      === Some(GettyName("x", "Name", None)))
    assert(GettyMap.name("x", Nil, None) === Some(GettyName("x", "Name", None)))
  }

  test("UsedForTerm names are KEPT (the reference's ignore flag is never read)") {
    // getty/mapper.py:23,58 set `ignore = True` but :64 builds the name
    // unconditionally — ported faithfully.
    assert(GettyMap.name("x", Seq(s"${term}type/UsedForTerm"), None)
      === Some(GettyName("x", "Name", None)))
  }

  test("name language: 3-letter truncation; unmapped language drops the name") {
    assert(GettyMap.name("x", Nil, Some("eng")).flatMap(_.lang) === Some("en"))
    assert(GettyMap.name("x", Nil, Some("fr")).flatMap(_.lang) === Some("fr"))
    assert(GettyMap.name("x", Nil, Some("xx")) === None) // :83 drop on floor
  }

  test("fix_getty_timestamp: short values route through the date parser by slot") {
    assert(GettyMap.fixTimestamp("1999", endPos = false) === "1999-01-01T00:00:00")
    assert(GettyMap.fixTimestamp("1999", endPos = true) === "1999-12-31T23:59:59")
    assert(GettyMap.fixTimestamp("9999", endPos = false) === "")
  }

  test("fix_getty_timestamp: 24:00:00 fixup, end-slot 23:59:59, sentinels") {
    assert(GettyMap.fixTimestamp("2001-05-03T24:00:00", endPos = false)
      === "2001-05-03T23:59:59")
    assert(GettyMap.fixTimestamp("2001-05-03T00:00:00", endPos = true)
      === "2001-05-03T23:59:59")
    assert(GettyMap.fixTimestamp("1200-01-01T00:00:00", endPos = false) === "")
    // the end-slot 00:00:00 rewrite runs BEFORE the 1200 sentinel check
    assert(GettyMap.fixTimestamp("1200-01-01T00:00:00", endPos = true) === "")
    assert(GettyMap.fixTimestamp("2030-01-01T00:00:00", endPos = false) === "")
    assert(GettyMap.fixTimestamp("2030-01-01T00:00:00", endPos = true) === "")
    // BCE values are exempt from the future-year drop (first char '-')
    assert(GettyMap.fixTimestamp("-0100-01-01T00:00:00", endPos = true)
      === "-0100-01-01T23:59:59")
  }

  private def guess(id: String = "X", types: Seq[String] = Seq("Type"),
      isList: Boolean = false, pob: Seq[String] = Nil, label: String = "x",
      langs: Set[String] = Set.empty, mats: Set[String] = Set.empty,
      units: Set[String] = Set.empty): String =
    GettyMap.aatGuessType(id, types, isList, pob, label, langs, mats, units)

  test("aat guess_type: id sets take precedence") {
    assert(guess(langs = Set("X")) === "Language")
    assert(guess(mats = Set("X")) === "Material")
    assert(guess(units = Set("X")) === "MeasurementUnit")
  }

  test("aat guess_type: list types, parent ids, label suffixes, fallbacks") {
    assert(guess(types = Seq("Type", "Language"), isList = true) === "Language")
    assert(guess(types = Seq("Type", "Material"), isList = true) === "Material")
    assert(guess(types = Seq("Type", "Facet"), isList = true) === "Type")
    assert(guess(pob = Seq(s"${aat}999", s"${aat}300411913")) === "Language")
    assert(guess(pob = Seq(s"${aat}300411993")) === "Currency")
    assert(guess(label = "saami (language)") === "Language")
    assert(guess(label = "bole (material)") === "Material")
    assert(guess(label = "sol (unit of money)") === "Currency")
    assert(guess(label = "lira (currency)") === "Currency")
    assert(guess(label = "carving (process)") === "Type")
    assert(guess(types = Seq("Activity")) === "Activity")
    assert(guess(types = Seq("Facet")) === "Type") // hasattr(model, …) fails
  }

  test("tgn broader: first nation-classified entry becomes part_of and wins") {
    val nation = Seq(s"${aat}300449152")
    assert(GettyMap.tgnBroader(Seq(("a", "A", Nil), ("b", "B", nation),
      ("c", "C", nation))) === ((Some(("b", "B")), Nil)))
    assert(GettyMap.tgnBroader(Seq(("a", "A", Nil), ("b", "B", Nil)))
      === ((None, Seq(("a", "A"), ("b", "B")))))
    assert(GettyMap.tgnBroader(Nil) === ((None, Nil)))
  }

  test("ulan classifications: ignore/accept lists, stop rules, multi-append") {
    assert(GettyMap.ulanClassifications(s"${aat}300379012", Seq(s"${aat}300055147"))
      === Nil) // ignore value wins over metas
    assert(GettyMap.ulanClassifications(s"${aat}300386154", Nil) === Seq("Type"))
    // nationality stops the scan; occupation before it still appends
    assert(GettyMap.ulanClassifications("x",
      Seq(s"${aat}300263369", s"${aat}300379842"))
      === Seq("Occupation", "Nationality"))
    // gender stops: the trailing occupation is never reached
    assert(GettyMap.ulanClassifications("x",
      Seq("junk", s"${aat}300055147", s"${aat}300263369")) === Seq("Gender"))
    // occupation + role both append (the faithful missing break)
    assert(GettyMap.ulanClassifications("x",
      Seq(s"${aat}300263369", s"${aat}300435108"))
      === Seq("Occupation", "Occupation"))
    assert(GettyMap.ulanClassifications("", Seq(s"${aat}300055147")) === Nil)
  }
}
