package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.WdClaims
import graft.pipeline.WdClaims._

/** M3/M4/M5 against handmade claim fixtures mirroring
  * `wikidata/mapper.py:297-658` behaviors. */
class WdClaimsSpec extends AnyFunSuite {

  // --- differentFrom expansion (base.py:84-109) ---

  test("disambiguation pages expand P1889 pairwise, both directions") {
    import graft.pipeline.WdClaims
    val d = WdClaims.processDifferentFrom("Qrec", Map(
      "P1889" -> Seq("QA", "QB", "QC"),
      "P31" -> Seq("Q5", "Q4167410"))) // membership among other types
    assert(d === Seq("QA" -> "QB", "QA" -> "QC", "QB" -> "QA",
      "QB" -> "QC", "QC" -> "QA", "QC" -> "QB"))
    // duplicate values: x != y compares CONTENT, so dup pairs collapse
    // to the cross terms only — faithful to the reference's nested loop
    val dd = WdClaims.processDifferentFrom("Qrec", Map(
      "P1889" -> Seq("QA", "QA", "QB"), "P31" -> Seq("Q4167410")))
    assert(dd === Seq("QA" -> "QB", "QA" -> "QB", "QB" -> "QA", "QB" -> "QA"))
  }

  test("regular records pair each value with the record id; empty emits none") {
    import graft.pipeline.WdClaims
    assert(WdClaims.processDifferentFrom("Qrec", Map(
      "P1889" -> Seq("QA", "QB"), "P31" -> Seq("Q5"))) ===
      Seq("QA" -> "Qrec", "QB" -> "Qrec"))
    assert(WdClaims.processDifferentFrom("Qrec",
      Map("P31" -> Seq("Q4167410"))) === Nil)
  }

  // --- process_labels (:311-368) ---

  test("must-have languages processed in priority order, content deduped") {
    val r = processLabels(Seq(
      "fr" -> "Rembrandt", "en" -> "Rembrandt", "de" -> "Rembrandt van Rijn"))
    // en before fr/de regardless of claim order; same content unions langs
    assert(r.names == Seq(
      WdName("Rembrandt", Seq("en", "fr")),
      WdName("Rembrandt van Rijn", Seq("de"))))
    assert(r.label.contains("Rembrandt"))
  }

  test("fallback walks all claims only when no must-have lang hit") {
    val r = processLabels(Seq("ru" -> "Рембрандт", "it" -> "Rembrandt"))
    assert(r.names == Seq(
      WdName("Рембрандт", Seq("ru")), WdName("Rembrandt", Seq("it"))))
    assert(r.label.contains("Рембрандт"))
    // with a must-have hit, non-must-have langs are NOT processed
    val r2 = processLabels(Seq("ru" -> "Рембрандт", "en" -> "Rembrandt"))
    assert(r2.names == Seq(WdName("Rembrandt", Seq("en"))))
  }

  test("mul appends without language and without content dedupe (:343-348)") {
    val r = processLabels(Seq("ru" -> "X", "mul" -> "X"))
    assert(r.names == Seq(WdName("X", Seq("ru")), WdName("X", Nil)))
    // unknown langs are skipped entirely
    val r2 = processLabels(Seq("xx" -> "Y"))
    assert(r2.names.isEmpty && r2.label.isEmpty)
  }

  test("descriptions only for must-have languages") {
    val r = processLabels(Seq("en" -> "N"),
      Seq("ru" -> "rudesc", "en" -> "endesc", "zh" -> "zhdesc"))
    assert(r.descriptions == Seq(
      WdName("endesc", Seq("en")), WdName("zhdesc", Seq("zh"))))
  }

  // --- process_equivalents (:370-417) ---

  test("ext_hash template expansion in table order") {
    val eqs = processEquivalents(Map(
      "P214" -> Seq("123"), "P2163" -> Seq("45"), "P268" -> Seq("999x")))
    assert(eqs == Seq(
      "http://id.worldcat.org/fast/45",
      "https://viaf.org/viaf/123",
      "http://data.bnf.fr/ark:/12148/cb999x"))
  }

  test("P244 splits LC subjects vs names by first char; unknown dropped") {
    val eqs = processEquivalents(Map("P244" -> Seq("n79021164", "sh85101712", "x1")))
    assert(eqs == Seq(
      "http://id.loc.gov/authorities/names/n79021164",
      "http://id.loc.gov/authorities/subjects/sh85101712"))
  }

  test("P6766 WOF ids chunk into 3-digit path segments with remainder tail") {
    assert(wofUrl("890424287") ==
      "https://data.whosonfirst.org/890/424/287/890424287.geojson")
    assert(wofUrl("85633041") ==
      "https://data.whosonfirst.org/856/330/41/85633041.geojson")
    assert(wofUrl("12") == "https://data.whosonfirst.org/12/12.geojson")
  }

  // --- clean_date / process_person (:79-96, :547-658) ---

  test("clean_date strips +/Z and clamps -00 but not a BCE sign") {
    assert(cleanDate("+1952-00-00T00:00:00Z") == "1952-01-01T00:00:00")
    assert(cleanDate("-0010-01-00T00:00:00Z") == "-0010-01-01T00:00:00")
  }

  test("person birth/death with precision ranges and display dates") {
    val r = processPerson(
      birth = Some(WdDate("+1606-07-15T00:00:00Z", 11)),
      death = Some(WdDate("+1669-00-00T00:00:00Z", 9)),
      birthPlace = Seq("Q365", "Q2"), deathPlace = Nil,
      genders = Seq("Q6581097", "Qbogus"), nationalities = Seq("Q55", "Q30"))
    val b = r.born.get
    assert(b.begin == "1606-07-15T00:00:00" && b.end == "1606-07-15T23:59:59")
    assert(b.display == "1606-07-15")
    // "can only be born in one place": first wins
    assert(b.place.contains("http://www.wikidata.org/entity/Q365"))
    val d = r.died.get
    assert(d.begin == "1669-01-01T00:00:00" && d.end == "1669-12-31T23:59:59")
    assert(r.genders == Seq("male")) // unknown dropped
    assert(r.nationalities == Seq("http://vocab.getty.edu/aat/300107956"))
  }

  test("place-only event when no parseable date; sub-year precision rejected") {
    val r = processPerson(None, Some(WdDate("+1669-01-01T00:00:00Z", 8)),
      birthPlace = Seq("Q365"), deathPlace = Nil, genders = Nil, nationalities = Nil)
    val b = r.born.get
    assert(b.begin == null && b.place.contains("http://www.wikidata.org/entity/Q365"))
    assert(r.died.isEmpty) // precision 8 (decade): ignored (mapper.py:99-103)
  }

  // --- process_group (:661-742) ---

  private val cls4: String => Option[String] =
    q => Some(Seq("Person", "Group", "Place", "Type")((q.drop(1).toInt % 4)))

  test("group formation/dissolution events, founders filtered to Person/Group") {
    val r = processGroup(
      formation = Some(WdDate("+1701-00-00T00:00:00Z", 9)),
      dissolution = Some(WdDate("+1890-03-02T00:00:00Z", 11)),
      formationPlace = Seq("Q84", "Q90"), parents = Seq("Q312"),
      founders = Seq("Q4", "Q5", "Q6", "Q7"), // Person, Group, Place, Type
      address = Some("1 High St"), refClass = cls4)
    val f = r.formed.get
    assert(f.begin == "1701-01-01T00:00:00" && f.end == "1701-12-31T23:59:59")
    assert(f.display == "1701-01-01")
    assert(f.place.contains("http://www.wikidata.org/entity/Q84")) // first only
    assert(r.founders == Seq("http://www.wikidata.org/entity/Q4",
      "http://www.wikidata.org/entity/Q5")) // Place/Type refs dropped (:696-700)
    assert(r.dissolved.get.begin == "1890-03-02T00:00:00")
    assert(r.memberOf == Seq("http://www.wikidata.org/entity/Q312"))
    assert(r.address.contains("1 High St"))
  }

  test("place-only formation when the date is absent") {
    val r = processGroup(None, None, Seq("Q84"), Nil, Nil, None, cls4)
    assert(r.formed.get.begin == null &&
      r.formed.get.place.contains("http://www.wikidata.org/entity/Q84"))
    assert(r.dissolved.isEmpty)
  }

  // --- process_place (:744-827) ---

  private val clsPlaceEven: String => Option[String] =
    q => Some(if (q.drop(1).toInt % 2 == 0) "Place" else "Person")

  test("place type map first-match in dict order; broader filtered to Place refs") {
    // both city and country present: country (earlier map entry) wins
    val r = processPlace(Seq("Q515", "Q6256"), Seq("Q2", "Q3"), Seq("Q4"),
      Seq("Q6"), None, None, None, None, None, clsPlaceEven)
    assert(r.classifiedAs.contains("http://vocab.getty.edu/aat/300128207"))
    // P361+P131 concat; odd (non-Place) refs dropped; P17 unused
    assert(r.partOf == Seq("http://www.wikidata.org/entity/Q2",
      "http://www.wikidata.org/entity/Q4"))
    // P17 only when both P361 and P131 are empty
    val r2 = processPlace(Nil, Nil, Nil, Seq("Q6"), None, None, None, None,
      None, clsPlaceEven)
    assert(r2.partOf == Seq("http://www.wikidata.org/entity/Q6"))
  }

  test("extreme points become a NW..SW box; area>2000 falls back to point") {
    val n = Some(WdCoord(0, 10.5)); val s = Some(WdCoord(0, 0.5))
    val e = Some(WdCoord(25.0, 0)); val w = Some(WdCoord(5.0, 0))
    val r = processPlace(Nil, Nil, Nil, Nil, n, s, e, w,
      Some(WdCoord(1.5, 2.5)), clsPlaceEven)
    // 20 x 10 degrees = area 200: kept, ring closed back at NW
    assert(r.definedBy.contains(
      "POLYGON (( 5.0 10.5,25.0 10.5,25.0 0.5,5.0 0.5,5.0 10.5 ))"))
    // 210 x 10 = 2100 > 2000: box rejected, P625 point wins (:815-817)
    val wide = processPlace(Nil, Nil, Nil, Nil, n, s, Some(WdCoord(215.0, 0)), w,
      Some(WdCoord(1.5, 2.5)), clsPlaceEven)
    assert(wide.definedBy.contains("POINT ( 1.5 2.5 )"))
    // no point either: nothing
    assert(processPlace(Nil, Nil, Nil, Nil, n, s, Some(WdCoord(215.0, 0)), w,
      None, clsPlaceEven).definedBy.isEmpty)
  }

  // --- process_humanmadeobject (:890-1032) ---

  private val cls3: String => Option[String] =
    q => Some(Seq("Person", "Group", "Place")((q.drop(1).toInt % 3)))

  test("hmo production, P176 fallback, dimensions with unit mapping") {
    val r = processHmo(types = Seq("Q3305213"),
      prodDate = Some(WdDate("+1642-00-00T00:00:00Z", 9)),
      creatorsP170 = Nil, manufacturersP176 = Seq("Q3", "Q4", "Q5"),
      prodPlaces = Seq("Q727"), catalogCodes = Seq("SK-C-5"),
      accessions = Seq("A1"), materials = Seq("Q296955"),
      width = Some(("+453.5", "Q174728")), height = Some(("379.5", "Q218593")),
      depth = Some(("+4.0", "Q218")), encPlaces = Nil, encDate = None,
      refClass = cls3)
    assert(r.classifiedAs.contains("http://vocab.getty.edu/aat/300033618"))
    assert(r.production.get.begin == "1642-01-01T00:00:00")
    // P176 fallback used; Q5 (Place) dropped
    assert(r.creators == Seq("http://www.wikidata.org/entity/Q3",
      "http://www.wikidata.org/entity/Q4"))
    assert(r.prodPlaces == Seq("http://www.wikidata.org/entity/Q727"))
    assert(r.dimensions == Seq(
      WdDimension("width", 453.5, unitCm),
      WdDimension("height", 379.5, unitInches),
      WdDimension("depth", 4.0, "http://www.wikidata.org/entity/Q218")))
    assert(r.materials == Seq("http://www.wikidata.org/entity/Q296955"))
  }

  test("hmo P170 present suppresses P176; encounter event") {
    val r = processHmo(Seq("Q42"), None, Seq("Q3"), Seq("Q99"), Nil, Nil, Nil,
      Nil, None, None, None, encPlaces = Seq("Q30"),
      encDate = Some(WdDate("+1922-11-15T00:00:00Z", 10)), refClass = cls3)
    assert(r.classifiedAs.isEmpty)
    assert(r.creators == Seq("http://www.wikidata.org/entity/Q3"))
    assert(r.encounter.get.begin == "1922-11-01T00:00:00")
    assert(r.encounter.get.end == "1922-11-30T23:59:59")
    assert(r.encounterPlaces == Seq("http://www.wikidata.org/entity/Q30"))
  }

  // --- process_work / process_event / process_concept (:832-1186) ---

  private val cls5: String => Option[String] = q => {
    val n = q.drop(1).toInt
    if (n % 5 == 4) None
    else Some(Seq("Person", "Group", "Place", "Type")(n % 5))
  }

  test("work: about keeps any resolvable ref, agents keep Person/Group") {
    val r = processWork(
      genres = Seq("Q100"), subjects = Seq("Q2", "Q4"), // Place kept, unresolved dropped
      movements = Seq("Q200"), authors = Seq("Q5", "Q6", "Q7"), // P, G, Place
      crePlaces = Seq("Q30"), creDate = Some(WdDate("+1667-00-00T00:00:00Z", 9)),
      publishers = Seq("Q10"), pubPlaces = Nil,
      pubDate = Some(WdDate("+1668-02-03T00:00:00Z", 11)),
      depicts = Seq("Q9", "Q11"), langs = Seq("Q1860"), refClass = cls5)
    assert(r.about == Seq("http://www.wikidata.org/entity/Q2"))
    assert(r.creators == Seq("http://www.wikidata.org/entity/Q5",
      "http://www.wikidata.org/entity/Q6"))
    assert(r.creation.get.begin == "1667-01-01T00:00:00")
    assert(r.creation.get.display == "1667-01-01")
    assert(r.publishing.get.begin == "1668-02-03T00:00:00")
    assert(r.publishers == Seq("http://www.wikidata.org/entity/Q10")) // Q10%5=0 Person
    // Q9%5=4 unresolved dropped; Q11%5=1 kept
    assert(r.represents == Seq("http://www.wikidata.org/entity/Q11"))
    assert(r.languages == Seq("http://www.wikidata.org/entity/Q1860"))
  }

  test("event: four-point timespan and P17+P276+P2293 place order") {
    val r = processEvent(
      start = Some(WdDate("+1914-00-00T00:00:00Z", 9)),
      end = Some(WdDate("+1918-11-11T00:00:00Z", 11)),
      countries = Seq("Q17c"), locations = Seq("Q276l"), venues = Seq("Q2293v"),
      participants = Seq("Q5"), chairs = Seq("Q7"), // Person kept, Place dropped
      broader = Seq("Q361b"), refClass = q => cls5("Q" + q.drop(1).takeWhile(_.isDigit)))
    assert(r.beginBegin == "1914-01-01T00:00:00" && r.endBegin == "1914-12-31T23:59:59")
    assert(r.beginEnd == "1918-11-11T00:00:00" && r.endEnd == "1918-11-11T23:59:59")
    assert(r.places.map(_.stripPrefix("http://www.wikidata.org/entity/")) ==
      Seq("Q17c", "Q276l", "Q2293v"))
    assert(r.participants == Seq("http://www.wikidata.org/entity/Q5"))
    assert(r.partOf == Seq("http://www.wikidata.org/entity/Q361b"))
  }

  test("concept identifier codes: P246-else-P274, P218, P219-else-P220") {
    assert(processConcept(Seq("Fe"), Seq("H2O"), Seq("en"), Seq("eng"), Seq("deu"))
      == Seq("Fe", "en", "eng"))
    assert(processConcept(Nil, Seq("H2O"), Nil, Nil, Seq("deu"))
      == Seq("H2O", "deu"))
    assert(processConcept(Nil, Nil, Nil, Nil, Nil) == Nil)
  }
}
