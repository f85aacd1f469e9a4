package graft.pipeline

import graft.functions.DateLib

/** M3/M4/M5: the wikidata claim processors — re-expression of
  * `pipeline/sources/general/wikidata/mapper.py`:
  *
  *   - `process_labels` (:311-368): multilingual
  *     prefLabel → PrimaryName list, must-have top-10 languages first,
  *     content-deduped with language union; descriptions for must-have
  *     languages; `mul` entries appended without a language.
  *   - `process_equivalents` (:370-417): claim → URI template expansion
  *     (the ext_hash table), the P244 LC subjects/names first-character
  *     split, and the P6766 Who's-On-First 3-digit path chunking.
  *   - `process_person` (:547-658) + `process_actor` (:464-510): birth /
  *     death events with precision-ranged timespans and 10-char display
  *     names, event places, gender and nationality lookup tables,
  *     occupation classifications.
  *
  * All pure functions over an ordered claims model, usable inside a typed
  * `Dataset.map` stage (SURVEY §2.3) — per-record, shuffle-free, so the
  * map stage is embarrassingly parallel at any scale. Dates flow through
  * DateLib (F1/F2), never TimestampType.
  */
object WdClaims {

  /** mapper.py:114 — the top-10 languages processed first, in order. */
  val mustHave: Seq[String] =
    Seq("en", "es", "fr", "pt", "de", "nl", "zh", "ja", "ar", "hi")

  /** The resolvable language set (process_langs keys): must-haves plus the
    * rest of the reference's "top 25 or so" (mapper.py:312-317). */
  val processLangs: Set[String] = mustHave.toSet ++ Set(
    "it", "ru", "el", "sv", "fi", "tr", "ko", "th", "id", "fa",
    "ur", "bn", "te", "ta", "mr", "pa", "sw")

  final case class WdName(content: String, languages: Seq[String])
  final case class LabelResult(label: Option[String], names: Seq[WdName],
      descriptions: Seq[WdName])

  /** M3 process_labels (mapper.py:311-368). `prefLabel`/`description` are
    * ordered (lang, content) pairs — the JSON dict's insertion order. */
  def processLabels(prefLabel: Seq[(String, String)],
      description: Seq[(String, String)] = Nil,
      processAllLangs: Boolean = false): LabelResult = {
    val prefByLang = prefLabel.toMap
    var names = Vector.empty[WdName]
    var label: Option[String] = None

    def addNew(content: String, lang: Option[String]): Unit = {
      names :+= WdName(content, lang.toSeq)
      if (label.isEmpty) label = Some(content)
    }
    def addLang(content: String, lang: String): Unit = {
      val i = names.indexWhere(_.content == content)
      names = names.updated(i,
        names(i).copy(languages = (names(i).languages :+ lang).distinct))
    }

    for (lang <- mustHave; v <- prefByLang.get(lang) if v != null && v.nonEmpty) {
      if (!names.exists(_.content == v)) addNew(v, None)
      addLang(v, lang) // language set in both branches (mapper.py:329-333)
    }
    // the all-langs fallback (mapper.py:336-348); the `hasattr` check runs
    // once, before the loop
    if (processAllLangs || names.isEmpty) {
      for ((lang, v) <- prefLabel if v != null && v.nonEmpty) {
        if (processLangs.contains(lang) && !names.exists(_.content == v)) {
          addNew(v, Some(lang))
        } else if (lang == "mul") {
          // "default for multiple languages": appended unconditionally,
          // no language, no content dedupe (mapper.py:343-348)
          addNew(v, None)
        }
      }
    }

    val descByLang = description.toMap
    var descs = Vector.empty[WdName]
    for (lang <- mustHave; v <- descByLang.get(lang) if v != null && v.nonEmpty)
      descs :+= WdName(v, Seq(lang))
    if (processAllLangs)
      for ((lang, v) <- description
           if processLangs.contains(lang) && !descs.exists(_.content == v))
        descs :+= WdName(v, Seq(lang))

    LabelResult(label, names, descs)
  }

  /** mapper.py:26-45 ext_hash, in iteration (insertion) order; P244 and
    * P6766 are handled specially below. */
  val extTemplates: Seq[(String, String)] = Seq(
    "P2163" -> "http://id.worldcat.org/fast/{ident}",
    "P1014" -> "http://vocab.getty.edu/aat/{ident}",
    "P245" -> "http://vocab.getty.edu/ulan/{ident}",
    "P1667" -> "http://vocab.getty.edu/tgn/{ident}",
    "P214" -> "https://viaf.org/viaf/{ident}",
    "P1566" -> "https://sws.geonames.org/{ident}",
    "P227" -> "https://d-nb.info/gnd/{ident}",
    "P4801" -> "http://id.loc.gov/vocabulary/{ident}",
    "P268" -> "http://data.bnf.fr/ark:/12148/cb{ident}",
    "P8516" -> "https://id.loc.gov/authorities/performanceMediums/{ident}",
    "P3763" -> "http://www.mimo-db.eu/InstrumentsKeywords/{ident}",
    "P846" -> "https://www.gbif.org/species/{ident}",
    "P11858" -> "https://nsf.gov/awards/{ident}",
    "P3500" -> "https://ringgold.com/{ident}",
    "P6782" -> "https://ror.org/{ident}",
    "P496" -> "https://orcid.org/{ident}",
    "P3430" -> "https://snaccooperative.org/ark:/99166/{ident}")

  /** P6766 Who's-On-First path chunking (mapper.py:394-407): the numeric
    * id split into 3-digit path segments, remainder kept as the tail. */
  def wofUrl(id: String): String =
    s"https://data.whosonfirst.org/${id.grouped(3).mkString("/")}/$id.geojson"

  /** The differentFrom expansion (`sources/general/wikidata/base.py:84-109`):
    * a record that is itself a DISAMBIGUATION page (P31 contains
    * Q4167410) asserts that the entities it lists under P1889 are
    * different from EACH OTHER — every ordered pair (x, y), x != y, in
    * list order, both directions (the reference's nested loops) — while
    * a regular record asserts each P1889 value different from the
    * record itself. These edges feed the J4 cannot-link veto. */
  val differentProp = "P1889"   // base.py:57
  val instanceOfProp = "P31"    // base.py:58
  val disambiguations: Seq[String] = Seq("Q4167410") // base.py:59

  def processDifferentFrom(recId: String,
      claims: Map[String, Seq[String]]): Seq[(String, String)] = {
    val vals = claims.getOrElse(differentProp, Nil)
    if (vals.isEmpty) Nil
    else {
      val types = claims.getOrElse(instanceOfProp, Nil)
      val isDisambig = disambiguations.exists(types.contains)
      if (isDisambig)
        for (x <- vals; y <- vals if x != y) yield (x, y)
      else vals.map(v => (v, recId))
    }
  }

  /** M4 process_equivalents (mapper.py:370-417): template expansion in
    * ext_hash order, then the P244 s/n split (unknown prefixes dropped),
    * then WOF chunking. */
  def processEquivalents(claims: Map[String, Seq[String]]): Seq[String] = {
    val sames = Vector.newBuilder[String]
    for ((p, tmpl) <- extTemplates; v <- claims.getOrElse(p, Nil))
      sames += tmpl.replace("{ident}", v)
    for (x <- claims.getOrElse("P244", Nil) if x.nonEmpty) x.charAt(0) match {
      case 's' => sames += s"http://id.loc.gov/authorities/subjects/$x"
      case 'n' => sames += s"http://id.loc.gov/authorities/names/$x"
      case _   => () // unknown LC authority: dropped (mapper.py:388-390)
    }
    for (x <- claims.getOrElse("P6766", Nil)) sames += wofUrl(x)
    sames.result()
  }

  /** mapper.py:17-23 gender map (instance labels, not URIs, here). */
  val genderMap: Map[String, String] = Map(
    "Q6581072" -> "female", "Q6581097" -> "male",
    "Q2449503" -> "transgender", "Q1052281" -> "transgender",
    "Q1097630" -> "intersex")

  /** mapper.py:47-66 nationality → AAT. */
  val natMap: Map[String, String] = Map(
    "Q30" -> "http://vocab.getty.edu/aat/300107956",
    "Q142" -> "http://vocab.getty.edu/aat/300111188",
    "Q183" -> "http://vocab.getty.edu/aat/300111192",
    "Q17" -> "http://vocab.getty.edu/aat/300018519",
    "Q145" -> "http://vocab.getty.edu/aat/300111159",
    "Q29" -> "http://vocab.getty.edu/aat/300111215",
    "Q38" -> "http://vocab.getty.edu/aat/300111198",
    "Q15180" -> "http://vocab.getty.edu/aat/300111276",
    "Q9903" -> "http://vocab.getty.edu/aat/300018322",
    "Q36" -> "http://vocab.getty.edu/aat/300111204",
    "Q34" -> "http://vocab.getty.edu/aat/300111218",
    "Q16" -> "http://vocab.getty.edu/aat/300107962",
    "Q252" -> "http://vocab.getty.edu/aat/300018704",
    "Q29999" -> "http://vocab.getty.edu/aat/300111175",
    "Q155" -> "http://vocab.getty.edu/aat/300107967",
    "Q159" -> "http://vocab.getty.edu/aat/300111276",
    "Q174193" -> "http://vocab.getty.edu/aat/300111159",
    "Q668" -> "http://vocab.getty.edu/aat/300018863")

  def expandUri(qid: String): String = s"http://www.wikidata.org/entity/$qid"

  /** clean_date (mapper.py:79-96): strip +/Z, clamp -00 month/day to -01
    * without touching a leading BCE sign. */
  def cleanDate(time: String): String = {
    var t = if (time.startsWith("+")) time.substring(1) else time
    if (t.endsWith("Z")) t = t.dropRight(1)
    if (t.length > 1 && t.substring(1).contains("-00"))
      t = s"${t.charAt(0)}${t.substring(1).replace("-00", "-01")}"
    t
  }

  final case class WdDate(time: String, precision: Int)
  /** A birth/death/formation event: precision-ranged timespan, the 10-char
    * display date (mapper.py:578-580), and an optional place. */
  final case class WdEvent(begin: String, end: String, display: String,
      place: Option[String])
  final case class PersonResult(born: Option[WdEvent], died: Option[WdEvent],
      genders: Seq[String], nationalities: Seq[String], occupations: Seq[String])

  private def mkEvent(d: WdDate, place: Option[String]): Option[WdEvent] =
    DateLib.makeDatetimeWikidata(d.time, d.precision).map { r =>
      WdEvent(r.begin, r.end, cleanDate(d.time).take(10), place.map(expandUri))
    }

  /** M5 process_person (mapper.py:547-658): birth/death events (place-only
    * events when just P19/P20 exist), gender/nationality via lookup,
    * occupations via process_actor's P106 (:489-493). Unknown genders and
    * nationalities are dropped. */
  def processPerson(birth: Option[WdDate], death: Option[WdDate],
      birthPlace: Seq[String], deathPlace: Seq[String],
      genders: Seq[String], nationalities: Seq[String],
      occupations: Seq[String] = Nil): PersonResult = {
    val bp = birthPlace.headOption // "can only be born in one place" (:585-588)
    val dp = deathPlace.headOption
    val born = birth.flatMap(mkEvent(_, bp))
      .orElse(bp.map(p => WdEvent(null, null, null, Some(expandUri(p)))))
    val died = death.flatMap(mkEvent(_, dp))
      .orElse(dp.map(p => WdEvent(null, null, null, Some(expandUri(p)))))
    PersonResult(born, died,
      genders.flatMap(genderMap.get),
      nationalities.flatMap(natMap.get),
      occupations.map(expandUri))
  }

  final case class GroupResult(memberOf: Seq[String], formed: Option[WdEvent],
      founders: Seq[String], dissolved: Option[WdEvent], address: Option[String])

  /** M5 process_group (mapper.py:661-742): P749 parents → member_of,
    * P571/P740 formation event (place-only when just P740), P112 founders
    * kept only when the referenced record is a Person or Group
    * (`get_reference` class check, :696-700), P576 dissolution, and the
    * P6375 street address (first claim; dict claims resolve to their first
    * value before reaching here). */
  def processGroup(formation: Option[WdDate], dissolution: Option[WdDate],
      formationPlace: Seq[String], parents: Seq[String], founders: Seq[String],
      address: Option[String], refClass: String => Option[String]): GroupResult = {
    val fp = formationPlace.headOption // same one-place rule as birth (:681-684)
    val formed = formation.flatMap(mkEvent(_, fp))
      .orElse(fp.map(p => WdEvent(null, null, null, Some(expandUri(p)))))
    GroupResult(
      parents.map(expandUri),
      formed,
      founders.filter(f => refClass(f).exists(c => c == "Person" || c == "Group"))
        .map(expandUri),
      dissolution.flatMap(mkEvent(_, None)),
      address)
  }

  final case class WdCoord(lon: Double, lat: Double)
  final case class PlaceResult(classifiedAs: Option[String], partOf: Seq[String],
      definedBy: Option[String])

  /** mapper.py:746-752 place_type_map, in dict order — first map entry
    * whose QID appears in P31 wins (the loop breaks). */
  val placeTypeMap: Seq[(String, String)] = Seq(
    "Q5107" -> "300128176", // Continent
    "Q6256" -> "300128207", // Country
    "Q35657" -> "300000776", // US State -> Province / State
    "Q106458883" -> "300000776", // State
    "Q515" -> "300008389") // City

  /** Planar shoelace area of a closed ring — what shapely's
    * `Polygon.area` computes for the mapper's box (mapper.py:816). */
  def ringArea(ring: Seq[(Double, Double)]): Double = {
    var s = 0.0
    var i = 0
    while (i < ring.length - 1) {
      s += ring(i)._1 * ring(i + 1)._2 - ring(i + 1)._1 * ring(i)._2
      i += 1
    }
    math.abs(s) / 2.0
  }

  /** M5 process_place (mapper.py:744-827): P31 → AAT via place_type_map,
    * broader = P361+P131 (else P17) kept only when the reference resolves
    * to a Place, and defined_by from the four extreme points as a
    * NW→NE→SE→SW box — rejected when the planar area exceeds 2000 square
    * degrees (:815-817) — falling back to the P625 point. Coordinate
    * formatting follows Python `str(float)` (shortest round-trip), which
    * JVM `Double.toString` matches for these values. */
  def processPlace(types: Seq[String], broaderP361: Seq[String],
      locatedInP131: Seq[String], countryP17: Seq[String],
      north: Option[WdCoord], south: Option[WdCoord], east: Option[WdCoord],
      west: Option[WdCoord], point: Option[WdCoord],
      refClass: String => Option[String]): PlaceResult = {
    val cls = placeTypeMap.collectFirst {
      case (q, aat) if types.contains(q) => s"http://vocab.getty.edu/aat/$aat"
    }
    val broader0 = broaderP361 ++ locatedInP131
    val broader = if (broader0.nonEmpty) broader0 else countryP17
    val partOf = broader.filter(b => refClass(b).contains("Place")).map(expandUri)
    val box = for (n <- north; s <- south; e <- east; w <- west) yield Seq(
      (w.lon, n.lat), (e.lon, n.lat), (e.lon, s.lat), (w.lon, s.lat), (w.lon, n.lat))
    val poly = box.filter(ringArea(_) <= 2000).map { ring =>
      s"POLYGON (( ${ring.map(p => s"${p._1} ${p._2}").mkString(",")} ))"
    }
    PlaceResult(cls, partOf,
      poly.orElse(point.map(c => s"POINT ( ${c.lon} ${c.lat} )")))
  }

  final case class WdDimension(kind: String, value: Double, unit: String)
  final case class HmoResult(classifiedAs: Option[String],
      production: Option[WdEvent], creators: Seq[String], prodPlaces: Seq[String],
      catalogIds: Seq[String], accessionNumbers: Seq[String],
      materials: Seq[String], dimensions: Seq[WdDimension],
      encounter: Option[WdEvent], encounterPlaces: Seq[String])

  /** mapper.py:894-899 type_map, first match in dict order wins. */
  val hmoTypeMap: Seq[(String, String)] = Seq(
    "Q3305213" -> "300033618", // Painting
    "Q860861" -> "300047090", // Sculpture
    "Q93184" -> "300033973", // Drawing
    "Q125191" -> "300046300") // Photograph

  /** The cromulent vocab instances the unit map resolves to
    * (mapper.py:988-992): cm and inches as their AAT unit terms. */
  val unitCm = "http://vocab.getty.edu/aat/300379098"
  val unitInches = "http://vocab.getty.edu/aat/300379100"

  def mapUnit(unit: String): String =
    if (unit.endsWith("Q174728")) unitCm
    else if (unit.endsWith("Q218593")) unitInches
    else expandUri(unit)

  final case class WorkResult(genres: Seq[String], movements: Seq[String],
      about: Seq[String], creation: Option[WdEvent], creators: Seq[String],
      creationPlaces: Seq[String], publishing: Option[WdEvent],
      publishers: Seq[String], pubPlaces: Seq[String],
      represents: Seq[String], languages: Seq[String])

  /** M5 process_work (mapper.py:1034-1102) + the thin visualitem /
    * linguisticobject wrappers (:1104-1121): P136 genres and P135
    * movements as classifications, P921 subjects → about (any resolvable
    * reference counts), P50/P495/P571 Creation and P123/P291/P577
    * Publishing (agents filtered to Person/Group, unresolved refs
    * dropped), P180 depicts (VisualItem), P407 languages
    * (LinguisticObject). `refClass` returning None = get_reference
    * failed. */
  def processWork(genres: Seq[String], subjects: Seq[String],
      movements: Seq[String], authors: Seq[String], crePlaces: Seq[String],
      creDate: Option[WdDate], publishers: Seq[String], pubPlaces: Seq[String],
      pubDate: Option[WdDate], depicts: Seq[String], langs: Seq[String],
      refClass: String => Option[String]): WorkResult = {
    def agents(claims: Seq[String]) = claims
      .filter(c => refClass(c).exists(x => x == "Person" || x == "Group"))
      .map(expandUri)
    WorkResult(
      genres.map(expandUri),
      movements.map(expandUri),
      subjects.filter(refClass(_).isDefined).map(expandUri),
      creDate.flatMap(mkEvent(_, None)),
      agents(authors),
      crePlaces.map(expandUri),
      pubDate.flatMap(mkEvent(_, None)),
      agents(publishers),
      pubPlaces.map(expandUri),
      depicts.filter(refClass(_).isDefined).map(expandUri),
      langs.map(expandUri))
  }

  final case class ActivityResult(beginBegin: String, endBegin: String,
      beginEnd: String, endEnd: String, places: Seq[String],
      participants: Seq[String], partOf: Seq[String])

  /** M5 process_activity / process_event (mapper.py:1123-1186): the
    * P580/P582 four-point timespan (start claim ranges the begin, end
    * claim ranges the end), took_place_at = P17 + P276 + P2293 in that
    * order, P710 participants + P488 chairs filtered to Person/Group,
    * and P361 broader events. */
  def processEvent(start: Option[WdDate], end: Option[WdDate],
      countries: Seq[String], locations: Seq[String], venues: Seq[String],
      participants: Seq[String], chairs: Seq[String], broader: Seq[String],
      refClass: String => Option[String]): ActivityResult = {
    val b = start.flatMap(mkEvent(_, None))
    val e = end.flatMap(mkEvent(_, None))
    ActivityResult(
      b.map(_.begin).orNull, b.map(_.end).orNull,
      e.map(_.begin).orNull, e.map(_.end).orNull,
      (countries ++ locations ++ venues).map(expandUri),
      (participants ++ chairs)
        .filter(c => refClass(c).exists(x => x == "Person" || x == "Group"))
        .map(expandUri),
      broader.map(expandUri))
  }

  /** M5 process_concept (mapper.py:832-867): identifier codes — element
    * symbol P246 (else formula P274), ISO 639-1 P218, ISO 639-2 P219
    * (else P220); first claim each, appended in that order. */
  def processConcept(p246: Seq[String], p274: Seq[String], p218: Seq[String],
      p219: Seq[String], p220: Seq[String]): Seq[String] =
    (p246.headOption.orElse(p274.headOption).toSeq ++
      p218.headOption.toSeq ++
      p219.headOption.orElse(p220.headOption).toSeq)

  /** M5 process_humanmadeobject (mapper.py:890-1032): P31 → AAT type_map,
    * production from P571 date + P170 creators (P176 manufacturer
    * fallback, Person/Group refs only) + P1071 places, P528/P217
    * identifiers, P186 materials, width/height/depth dimensions (first
    * claim only, '+'-stripped value, cm/inches unit mapping), and the
    * P189/P575 encounter. */
  def processHmo(types: Seq[String], prodDate: Option[WdDate],
      creatorsP170: Seq[String], manufacturersP176: Seq[String],
      prodPlaces: Seq[String], catalogCodes: Seq[String],
      accessions: Seq[String], materials: Seq[String],
      width: Option[(String, String)], height: Option[(String, String)],
      depth: Option[(String, String)], encPlaces: Seq[String],
      encDate: Option[WdDate], refClass: String => Option[String]): HmoResult = {
    val cls = hmoTypeMap.collectFirst {
      case (q, aat) if types.contains(q) => s"http://vocab.getty.edu/aat/$aat"
    }
    // P170 falls back to P176 only when absent entirely (mapper.py:909-912)
    val creatorClaims = if (creatorsP170.nonEmpty) creatorsP170 else manufacturersP176
    val creators = creatorClaims
      .filter(c => refClass(c).exists(x => x == "Person" || x == "Group"))
      .map(expandUri)
    def dim(kind: String, d: Option[(String, String)]): Option[WdDimension] =
      d.map { case (v0, u) =>
        val v = if (v0.startsWith("+")) v0.substring(1) else v0 // mapper.py:983-986
        WdDimension(kind, v.toDouble, mapUnit(u))
      }
    HmoResult(cls,
      prodDate.flatMap(mkEvent(_, None)),
      creators,
      prodPlaces.map(expandUri),
      catalogCodes,
      accessions,
      materials.map(expandUri),
      Seq(dim("width", width), dim("height", height), dim("depth", depth)).flatten,
      encDate.flatMap(mkEvent(_, None)),
      encPlaces.map(expandUri))
  }
}
