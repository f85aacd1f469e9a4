package graft.pipeline

/** WOF (Who's On First) mapper core — exemplar port of
  * `pipeline/sources/general/wof/mapper.py` (266 LoC; the sqlite
  * LOADER was already covered by `sources/Sqlite` + `s5_wof`, this
  * covers the mapper):
  *
  *   - ramerdouglas (`:37-55`): the recursive Ramer-Douglas-Peucker
  *     polyline simplification over SQUARED distances, including the
  *     closed-ring endpoint pick (first == last → use the
  *     second-to-last as the far end) and the divide-by-zero escape
  *     (coincident endpoints raise, the caller drops the geometry);
  *   - fix_identifier (`:64-69`): path/geojson ids reduce to the bare
  *     record number;
  *   - name:LLL_x_preferred properties (`:93-99`): the three-letter
  *     tag at chars 5-8 routes through lang_three_to_two and the
  *     must-have gate; English sets the record label;
  *   - wof:concordances (`:110-122`): wd/gn/loc/tgn ids mint
  *     wikidata/geonames/LoC/TGN equivalents;
  *   - parent election (`:126-140`): a positive wof:parent_id wins
  *     outright; otherwise the placetype's PREDECESSOR in the
  *     hierarchy order (continent stripped) is looked up in the
  *     wof:hierarchy dicts, first hit;
  *   - bbox gates (`:152-155`, `:236-257`): a zero-area bbox is a
  *     point (dropped, the point fallback takes over); a bbox ring
  *     with consecutive duplicate corners is broken and dropped;
  *   - the point fallback chain (`:157-163`): lbl: wins, then geom:;
  *     the mps: arm reads `lbl:latitude` — a key that is ABSENT
  *     whenever that arm is reached (else the lbl: arm would have
  *     fired) — so it can only crash; ported as dead (None);
  *   - tiny-polygon rejection (`:230-233`): shoelace area × 1000 < 5
  *     collapses the ring to the point fallback;
  *   - POINT rendering (`:262`): `POINT (x y )` — no space after the
  *     paren, one before the close, verbatim.
  */
object WofMap {
  type Pt = (Double, Double)

  private def dist2(p1: Pt, p2: Pt): Double = {
    val dx = p1._1 - p2._1; val dy = p1._2 - p2._2
    dx * dx + dy * dy
  }
  private def sub(p1: Pt, p2: Pt): Pt = (p1._1 - p2._1, p1._2 - p2._2)
  private def mult(p1: Pt, p2: Pt): Double = p1._1 * p2._1 + p1._2 * p2._2

  /** The faithful recursive RDP (`:37-55`): squared-distance residual
    * test against dist², closed-ring endpoint pick, and the EDIVZERO
    * ValueError when the chosen endpoints coincide. */
  def ramerdouglas(line: Seq[Pt], dist: Double): Seq[Pt] = {
    if (line.length < 3) return line
    val (begin, end) =
      if (line.head != line.last) (line.head, line.last)
      else (line.head, line(line.length - 2))
    val base = dist2(begin, end)
    if (base == 0.0) throw new IllegalArgumentException("EDIVZERO?")
    val distSq = line.slice(1, line.length - 1).map { curr =>
      val m = mult(sub(end, begin), sub(curr, begin))
      dist2(begin, curr) - m * m / base
    }
    val maxdist = distSq.max
    if (maxdist < dist * dist) Seq(begin, end)
    else {
      val pos = distSq.indexOf(maxdist)
      ramerdouglas(line.take(pos + 2), dist) ++
        ramerdouglas(line.drop(pos + 1), dist).tail
    }
  }

  /** fix_identifier (`:64-69`). */
  def fixIdentifier(id: String): String =
    if (id.contains("/") || id.contains("geojson"))
      id.split("/").last.replace(".geojson", "")
    else id

  /** name:LLL_x_preferred key → gated two-letter language (`:93-99`). */
  def nameLang(key: String): Option[String] =
    if (!key.startsWith("name:") || key.length < 8) None
    else SmallSources.langThreeToTwo.get(key.substring(5, 8))
      .filter(LcNames.processLangs)

  /** wof:concordances → equivalent URIs, fixed precedence (`:110-122`). */
  def concordances(wd: Option[String], gn: Option[String],
      loc: Option[String], tgn: Option[String]): Seq[String] =
    wd.map(i => s"http://www.wikidata.org/entity/$i").toSeq ++
      gn.map(i => s"https://sws.geonames.org/$i") ++
      loc.map(i => s"http://id.loc.gov/authorities/names/$i") ++
      tgn.map(i => s"http://vocab.getty.edu/tgn/$i")

  val hierarchyOrder: Seq[String] = Seq("continent", "country",
    "macroregion", "region", "county", "locality", "localadmin")

  /** Parent election (`:126-140`): positive parent_id wins; else the
    * placetype's predecessor id from the hierarchy dicts (continent
    * itself never looks up — idx 0 is falsy in the reference). */
  def hierarchyParent(parentId: Long, placetype: String,
      hierarchy: Seq[Map[String, Long]]): Option[Long] = {
    if (parentId > 0) return Some(parentId)
    val idx = hierarchyOrder.indexOf(placetype)
    if (idx <= 0) None
    else {
      val key = s"${hierarchyOrder(idx - 1)}_id"
      hierarchy.collectFirst {
        case h if h.contains(key) => h(key)
      }
    }
  }

  /** Zero-area bbox = point (`:152-155`). */
  def bboxIsPoint(b: Seq[Double]): Boolean =
    b.length == 4 && b(0) == b(2) && b(1) == b(3)

  /** bbox → closed ring, or None when consecutive corners coincide
    * (the `broken` gate, `:246-252`) — a width- or height-zero bbox. */
  def bboxRing(b: Seq[Double]): Option[Seq[Pt]] = {
    if (b.length != 4) return None
    val ring = Seq((b(0), b(1)), (b(2), b(1)), (b(2), b(3)),
      (b(0), b(3)), (b(0), b(1)))
    if (ring.sliding(2).exists(w => w(0) == w(1))) None else Some(ring)
  }

  /** The point fallback (`:157-163`): lbl, then geom; the mps arm is
    * DEAD in the reference (it reads lbl:latitude, absent whenever the
    * arm is reached) — modeled as never producing. Strings pass
    * through so rendering matches the source JSON. */
  def pointFallback(lbl: Option[(String, String)],
      geom: Option[(String, String)]): Option[(String, String)] =
    lbl.orElse(geom)

  /** `POINT (lon lat )` — reference spacing verbatim (`:262`). */
  def pointWkt(lonLat: (String, String)): String =
    s"POINT (${lonLat._1} ${lonLat._2} )"

  /** Tiny-polygon rejection (`:230-233`): shoelace area × 1000 < 5. */
  def tinyPolygon(ring: Seq[Pt]): Boolean = {
    val closed = if (ring.nonEmpty && ring.head != ring.last)
      ring :+ ring.head else ring
    val area2 = closed.sliding(2).collect { case Seq(a, b) =>
      a._1 * b._2 - b._1 * a._2 }.sum
    math.abs(area2) / 2 * 1000 < 5
  }
}
