package graft.pipeline

import graft.functions.DateLib

/** The Getty vocabulary mapper family core — exemplar port of
  * `pipeline/sources/authorities/getty/mapper.py` (559 LoC; AAT, ULAN
  * and TGN share a `GettyMapper` base):
  *
  *   - name classification election (`:14-23,50-62`): classification
  *     URI → name class, LAST match wins across the list; the
  *     `term/POS/` prefixes are ignored. The reference computes an
  *     `ignore` flag for
  *     `UsedForTerm` (`:23,58`) but never reads it (`:64`), so
  *     UsedForTerm names are in fact kept as plain names — ported
  *     faithfully (flag and all);
  *   - name language gate (`:66-86`): first language `_label`,
  *     truncated to 2 chars when longer; a name in a language outside
  *     process_langs is dropped ENTIRELY (`:83` returns None — unlike
  *     LC, which keeps the name and drops only the language);
  *   - `fix_getty_timestamp` (`:131-152`): len<19 → the shared date
  *     parser picks begin or end by position; `24:00:00` → `23:59:59`;
  *     end positions force `00:00:00` → `23:59:59`; the `1200-01-01T`
  *     placeholder epoch and post-2025 years are dropped (the Getty
  *     dumps use 1200 as "unknown" and future years for open ends);
  *   - AAT `guess_type` (`:253-300`): language/material/unit id sets,
  *     multi-valued rdf:type election, `part_of`/`broader` →
  *     Language(300411913)/Currency(300411993), then label-suffix
  *     heuristics, else Type;
  *   - TGN broader preference (`:520-545`): the FIRST `part_of`/
  *     `broader` entry classified as 300449152 (nation) becomes
  *     `part_of` and suppresses all others; with no such entry every
  *     one becomes `broader`;
  *   - ULAN meta-classification (`:383-410`): ignore/accept value
  *     lists, then the nested `classified_as` flags — nationality and
  *     gender elect-and-stop, occupation and role append WITHOUT
  *     stopping (so one node can contribute several classifications —
  *     faithful to the missing `break`).
  *
  * Pure per-record functions for a `Dataset.map` stage, like WdClaims
  * and LcNames. */
object GettyMap {

  val processLangs: Set[String] = LcNames.processLangs

  /** name_classifications (`getty/mapper.py:14-23`); values are the
    * elected class names. */
  private val nameClassifications: Map[String, String] = Map(
    "http://vocab.getty.edu/term/type/Descriptor" -> "Primary",
    "http://vocab.getty.edu/aat/300404670" -> "Primary",
    "http://vocab.getty.edu/term/type/AlternateDescriptor" -> "Alternate",
    "http://vocab.getty.edu/aat/300404650" -> "Name",
    "http://vocab.getty.edu/historic/localUse" -> "Alternate",
    "http://vocab.getty.edu/historic/historic" -> "Alternate",
    "http://vocab.getty.edu/aat/300449151" -> "Alternate")

  final case class GettyName(content: String, cls: String, lang: Option[String])

  /** process_getty_name (`:49-86`): classification election (last match
    * wins, default plain Name) + the drop-on-unmapped-language gate.
    * `lang` is the first language node's `_label`. */
  def name(content: String, classifications: Seq[String],
      lang: Option[String]): Option[GettyName] = {
    var cls = "Name"
    for (c <- classifications)
      nameClassifications.get(c).foreach(cls = _)
    lang match {
      case None => Some(GettyName(content, cls, None))
      case Some(l) =>
        val ll = if (l.length > 2) l.substring(0, 2) else l
        if (processLangs(ll)) Some(GettyName(content, cls, Some(ll)))
        else None // dropped on the floor (:83)
    }
  }

  /** fix_getty_timestamp (`:131-152`). `endPos` = the four-point slot
    * starts with `end_`. Returns "" for dropped values. */
  def fixTimestamp(raw: String, endPos: Boolean): String = {
    var value = raw
    if (value.length < 19) {
      DateLib.makeDatetime(value) match {
        case Some(r) => value = if (endPos) r.end else r.begin
        case None => return ""
      }
    }
    value = value.replace("24:00:00", "23:59:59")
    if (endPos) value = value.replace("00:00:00", "23:59:59")
    if (value.startsWith("1200-01-01T")) return ""
    if (value.nonEmpty && value.head != '-' && value.length >= 4 &&
      value.take(4).forall(_.isDigit) && value.take(4).toInt > 2025) return ""
    value
  }

  /** AAT guess_type (`:253-300`). `types` is rdf:type as found
    * (`isList` distinguishes the multi-valued form — the reference
    * branches on the Python type, so a one-element list still takes
    * the list path); `partOfBroader` is part_of ++ broader ids in
    * order; the id sets are the config-loaded language/material/unit
    * AAT memberships. */
  def aatGuessType(id: String, types: Seq[String], isList: Boolean,
      partOfBroader: Seq[String], label: String,
      langIds: Set[String], materialIds: Set[String],
      unitIds: Set[String]): String = {
    if (langIds(id)) "Language"
    else if (materialIds(id)) "Material"
    else if (unitIds(id)) "MeasurementUnit"
    else if (isList) {
      if (types.contains("Language")) "Language"
      else if (types.contains("Material")) "Material"
      else "Type"
    } else if (types.headOption.contains("Type")) {
      val byParent = partOfBroader.collectFirst {
        case "http://vocab.getty.edu/aat/300411913" => "Language"
        case "http://vocab.getty.edu/aat/300411993" => "Currency"
      }
      byParent.getOrElse {
        if (label.endsWith("language)")) "Language"
        else if (label.endsWith("material)")) "Material"
        else if (label.endsWith(" of money)")) "Currency"
        else if (label.endsWith("currency)")) "Currency"
        else "Type"
      }
    } else types.headOption.filter(knownClasses).getOrElse("Type")
  }

  /** The model classes an AAT record may name directly (`hasattr(model,
    * data["type"])`, `:295`). */
  private val knownClasses: Set[String] = Set(
    "HumanMadeObject", "DigitalObject", "LinguisticObject", "VisualItem",
    "Set", "Person", "Group", "Place", "Type", "Material", "Language",
    "Currency", "MeasurementUnit", "Activity", "Event", "Period")

  private val nationMarker = "http://vocab.getty.edu/aat/300449152"

  /** TGN broader preference (`:520-545`): (partOf, broaders). Each
    * entry is (id, label, classification ids). */
  def tgnBroader(brdrs: Seq[(String, String, Seq[String])])
      : (Option[(String, String)], Seq[(String, String)]) =
    brdrs.find(_._3.contains(nationMarker)) match {
      case Some((id, lbl, _)) => (Some((id, lbl)), Nil)
      case None => (None, brdrs.map(b => (b._1, b._2)))
    }

  // ULAN flag URIs (`:40-44`) and value lists (`:34-37,349`)
  private val genderFlag = "http://vocab.getty.edu/aat/300055147"
  private val nationalityFlag = "http://vocab.getty.edu/aat/300379842"
  private val occupationFlag = "http://vocab.getty.edu/aat/300263369"
  private val roleFlag = "http://vocab.getty.edu/aat/300435108"
  private val ignoreValues = Set(
    "http://vocab.getty.edu/aat/300379012", // undetermined
    "http://vocab.getty.edu/aat/300400512") // unavailable
  private val ulanAcceptValues = Set("http://vocab.getty.edu/aat/300386154")

  /** One ULAN classified_as node (`:383-410`) → the classifications it
    * contributes, in order. `metas` are the node's own nested
    * classified_as ids. Nationality/gender stop the meta scan;
    * occupation/role do not (faithful: one node can append several). */
  def ulanClassifications(cxid: String, metas: Seq[String]): Seq[String] = {
    if (cxid.isEmpty || ignoreValues(cxid)) Nil
    else if (ulanAcceptValues(cxid)) Seq("Type")
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var stop = false
      for (m <- metas if !stop) m match {
        case `nationalityFlag` => out += "Nationality"; stop = true
        case `genderFlag` => out += "Gender"; stop = true
        case `occupationFlag` => out += "Occupation"
        case `roleFlag` => out += "Occupation"
        case _ => ()
      }
      out.toSeq
    }
  }
}
