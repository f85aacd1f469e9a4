package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** The one JSON writer of the measurement mains' artifacts. */
object Json {
  /** `v` with exactly `decimals` places, rounded half-up as `%.Nf` does.
    * A BigDecimal, so the text never depends on the default locale. */
  def fixed(v: Double, decimals: Int): JValue =
    JDecimal(BigDecimal(v).setScale(decimals, BigDecimal.RoundingMode.HALF_UP))

  def write(v: JValue): String = compact(render(v))
}
