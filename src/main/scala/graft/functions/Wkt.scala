package graft.functions

/** Minimal WKT geometry helpers (SURVEY F10) — pure Scala, registered as
  * UDFs. Covers the reference's geometry arbitration needs
  * (`pipeline/process/merger.py:177-244`): kind extraction, exterior
  * coordinate count, and the polygon>point / more-coords preference.
  * No JTS dependency (not on the offline classpath); parsing is
  * regex-free string walking over the two shapes the reference emits
  * (POINT, POLYGON with one exterior ring). */
object Wkt {

  sealed trait Geom { def kind: String; def nCoords: Int }
  final case class Point(x: Double, y: Double) extends Geom {
    def kind = "POINT"; def nCoords = 1
  }
  final case class Polygon(coords: Seq[(Double, Double)]) extends Geom {
    def kind = "POLYGON"; def nCoords = coords.size
  }

  def parse(wkt: String): Option[Geom] = {
    if (wkt == null) None
    else {
      val s = wkt.trim
      if (s.startsWith("POINT")) {
        val inner = s.substring(s.indexOf('(') + 1, s.lastIndexOf(')')).trim
        inner.split("\\s+") match {
          case Array(x, y) =>
            try Some(Point(x.toDouble, y.toDouble))
            catch { case _: NumberFormatException => None }
          case _ => None
        }
      } else if (s.startsWith("POLYGON")) {
        val open = s.indexOf("((")
        val close = s.indexOf("))")
        if (open < 0 || close < 0) None
        else {
          val pts = s.substring(open + 2, close).split(",").toSeq.map(_.trim)
          try Some(Polygon(pts.map { p =>
            val Array(x, y) = p.split("\\s+"); (x.toDouble, y.toDouble)
          })) catch { case _: Exception => None }
        }
      } else None
    }
  }

  // ---- columnar equivalents: stay inside whole-stage codegen, unlike
  // the UDF wrappers (kept for typed JVM-side callers like LaMerge)

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** Geometry kind as a codegen'd expression (NULL for non-WKT). */
  def kindCol(w: Column): Column =
    when(w.rlike("^\\s*POINT\\s*\\("), "POINT")
      .when(w.rlike("^\\s*POLYGON\\s*\\(\\("), "POLYGON")

  /** Exterior coordinate count as a codegen'd expression: 1 for points,
    * comma-count + 1 of the EXTERIOR ring for polygons — the capture
    * stops at the ring's first ')' so interior rings never inflate the
    * count (the JVM parser above reads only the exterior ring too). */
  def coordCountCol(w: Column): Column =
    when(kindCol(w) === "POINT", lit(1))
      .when(kindCol(w) === "POLYGON",
        size(split(regexp_extract(w, "\\(\\(([^)]*)\\)", 1), ",")))

  /** The textual x/y of the first coordinate — the reference compares the
    * STRING length of coordinates as a decimal-precision proxy
    * (`merger.py:234-244`: "just compare str len"). */
  private def firstCoordText(wkt: String): Option[(String, String)] = {
    if (wkt == null) return None
    val s = wkt.trim
    val open = if (s.startsWith("POLYGON")) s.indexOf("((") + 2
               else if (s.startsWith("POINT")) s.indexOf('(') + 1
               else return None
    if (open <= 1) return None
    val end = s.indexWhere(c => c == ',' || c == ')', open)
    if (end < 0) return None
    s.substring(open, end).trim.split("\\s+") match {
      case Array(x, y) => Some((x, y))
      case _ => None
    }
  }

  /** merger.py:177-244 preference: polygon beats point; among polygons the
    * one with more coordinates wins; otherwise (b has the same or FEWER
    * coords, merger.py:222-233's else-branch) the one whose first
    * coordinate has more textual decimal precision wins; ties keep `a`.
    * POLYGON vs POINT keeps the polygon side regardless of order
    * (merger.py:239-241: "Nope"). */
  def better(a: String, b: String): String =
    (parse(a), parse(b)) match {
      case (Some(ga), Some(gb)) =>
        if (ga.kind != gb.kind) { if (ga.kind == "POLYGON") a else b }
        else if (gb.nCoords > ga.nCoords) b
        else {
          ((firstCoordText(a), firstCoordText(b)) match {
            case (Some((ax, ay)), Some((bx, by)))
              if bx.length > ax.length || by.length > ay.length => b
            case _ => a
          })
        }
      case (Some(_), None) => a
      case (None, Some(_)) => b
      case _ => a
    }
}
