package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.LongAccumulator

/** Named corruption counters for the binary-container loaders (zip
  * dumps, SQLite dumps): at 100 TB a corrupt container is a certainty,
  * and the loader contract is quarantine-and-continue — one bad
  * archive must never kill a thousand-archive load with a task death.
  *
  * A Spark `LongAccumulator`, not a JVM `AtomicLong`: the increment
  * happens executor-side inside a flatMap, and only an accumulator
  * flows the count back to the driver on a real cluster. Like every
  * accumulator updated in a transformation, task retries can
  * over-count — the number is monitoring, never data. */
object Quarantine {
  /** The driver-created counter for `name`, memoized per session
    * ([[graft.Fixtures.once]]) so repeated loads share one total — a
    * losing duplicate accumulator would silently swallow its tasks'
    * counts. */
  def counter(spark: SparkSession, name: String): LongAccumulator =
    graft.Fixtures.once(spark, "quarantine", name)(
      spark.sparkContext.longAccumulator(s"graft.quarantine.$name"))

  /** Current count (0 before the first load). */
  def value(spark: SparkSession, name: String): Long =
    counter(spark, name).value.longValue
}
