package graft.pipeline

import graft.functions.DateLib

/** The OCLC FAST authority mapper core — exemplar port of
  * `pipeline/sources/authorities/fast/mapper.py` (717 LoC, MARC-XML
  * over worldcat ids):
  *
  *   - `guess_type` (`:53-58`): entity class from the FIRST MARC
  *     datafield tag present, probed in the nameTypeMap's insertion
  *     order (148/448 Period before 100 Person — a record carrying
  *     both is a Period);
  *   - `fast_id_to_uri` (`:60-62`): `(OCoLC)fst00001234` → zero-
  *     stripped worldcat URI;
  *   - `process_equivalents` (`:112-134`): wikipedia URLs resolve to
  *     a wikidata QID (dropped when the lookup misses), `(DLC)`
  *     control numbers become id.loc.gov subject URIs with embedded
  *     spaces removed, `(OCoLC)fst` ids route through fast_id_to_uri,
  *     anything else passes through; first-seen order, deduped;
  *   - `dms_to_wkt` (`:76-93`): `52°22ʹ51ʺN 004°38ʹ13ʺE` degree/
  *     minute/second coordinates → decimal POINT. The seconds mark is
  *     optional and both the typographic (ʹ ʺ) and ASCII (' ") marks
  *     are accepted; a `;`-prefixed source note keeps only the part
  *     after the semicolon (`:527-529`). Re-expressed exactly in
  *     integer ARC-SECONDS (deg·3600+min·60+sec, negated for S/W) so
  *     the cross-engine compare is float-free; POINT(lon lat) order
  *     preserved. Parse failures return None where the reference
  *     raises ValueError out of the mapper;
  *   - `assign_names` (`:95-107`): first non-empty name → PrimaryName
  *     unless the record already has one, all others AlternateName.
  *     (In the reference `assign_names` returns None, so
  *     `process_place:521-523`'s `if not primary: return None` ALWAYS
  *     fires — place WKT and classifications after it are dead code.
  *     The functions are ported individually, so the intent survives;
  *     deviation documented here.)
  *   - `build_timespan` (`:141-166`): start/end strings through the
  *     shared date parser into a four-point timespan; empty when
  *     neither side parses.
  *
  * Pure per-record functions for a `Dataset.map` stage, like GettyMap
  * and LcNames. */
object FastMap {

  /** nameTypeMap in insertion order (`fast/mapper.py:20-24`). */
  val nameTypeTags: Seq[(String, String)] = Seq(
    "148" -> "Period", "448" -> "Period", "100" -> "Person",
    "150" -> "Type", "155" -> "Type", "151" -> "Place",
    "110" -> "Group", "411" -> "Activity", "147" -> "Activity")

  def guessType(tagsPresent: Set[String]): Option[String] =
    nameTypeTags.collectFirst { case (t, cls) if tagsPresent(t) => cls }

  def fastIdToUri(fastId: String): String = {
    val numeric = fastId.replace("(OCoLC)fst", "").dropWhile(_ == '0')
    s"http://id.worldcat.org/fast/$numeric"
  }

  /** process_equivalents: `qidOf` is the wikipedia→wikidata lookup
    * (config-driven in the reference); a miss drops the URI. */
  def equivalents(uris: Seq[String],
      qidOf: String => Option[String]): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    for (raw <- uris if raw.nonEmpty) {
      val uri =
        if (raw.contains("wikipedia.org"))
          qidOf(raw).map("http://www.wikidata.org/entity/" + _).orNull
        else if (raw.startsWith("(DLC)"))
          "http://id.loc.gov/authorities/subjects/" +
            raw.replace("(DLC)", "").replace(" ", "").trim
        else if (raw.startsWith("(OCoLC)fst")) fastIdToUri(raw)
        else raw
      if (uri != null) out += uri
    }
    out.toSeq
  }

  private val dmsPart = "^(\\d+)°(\\d+)[ʹ'](\\d+)[ʺ\"]?([NSEW])".r

  /** dms_to_wkt in integer arc-seconds: (lonArcsec, latArcsec).
    * parts[0] is latitude, parts[1] longitude — POINT(lon lat). */
  def dmsToArcsec(dmsRaw: String): Option[(Long, Long)] = {
    // reference takes split(';')[1]: ONLY the segment between the first
    // and second semicolon, not everything after the first
    val dms = if (dmsRaw.contains(";")) dmsRaw.split(";", -1)(1) else dmsRaw
    val parts = dms.trim.split("\\s+")
    if (parts.length != 2) return None
    def one(s: String): Option[Long] =
      dmsPart.findPrefixMatchOf(s).map { m =>
        val v = m.group(1).toLong * 3600 + m.group(2).toLong * 60 +
          m.group(3).toLong
        if (m.group(4) == "S" || m.group(4) == "W") -v else v
      }
    for (lat <- one(parts(0)); lon <- one(parts(1))) yield (lon, lat)
  }

  /** assign_names: (content, class) pairs in order. */
  def assignNames(names: Seq[String],
      hasPrimary: Boolean): Seq[(String, String)] = {
    var primary = hasPrimary
    names.filter(_.nonEmpty).map { n =>
      if (!primary) { primary = true; (n, "Primary") }
      else (n, "Alternate")
    }
  }

  /** build_timespan: four-point (bb, eb, be, ee) with "" for unset;
    * None when neither side parses. */
  def buildTimespan(start: Option[String],
      end: Option[String]): Option[(String, String, String, String)] = {
    val b = start.flatMap(DateLib.makeDatetime(_))
    val d = end.flatMap(DateLib.makeDatetime(_))
    if (b.isEmpty && d.isEmpty) None
    else Some((
      b.map(_.begin).getOrElse(""), b.map(_.end).getOrElse(""),
      d.map(_.begin).getOrElse(""), d.map(_.end).getOrElse("")))
  }
}
