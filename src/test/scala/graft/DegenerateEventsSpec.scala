package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite

/** The events twin of the degenerate sweeps: at 100 TB a null event
  * timestamp (a producer bug), a null user/session key, an unknown or
  * null event type, a NaN measure, and malformed or missing JSON props
  * are all certainties — and the event family leans on exactly those
  * columns for windowing, sessionization, as-of/range joins, funnel
  * matching, quantiles, and JSON extraction. The sf fixtures are
  * clean, so the oracle gate cannot catch the class; this spec is the
  * standing guard. A second fixture pins the EMPTY stream (a quiet
  * incremental slice): every windowed aggregation and stateful shape
  * must produce an empty result, not die on it. */
class DegenerateEventsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def writeFixture(tag: String)(
      events: org.apache.spark.sql.DataFrame): String = {
    val dir = Fixtures.tempDir(s"graft_degen_ev_$tag")
    for (t <- Tables.names if t != "events")
      java.nio.file.Files.createSymbolicLink(
        new java.io.File(dir, s"$t.parquet").toPath,
        new java.io.File(s"${TestSpark.sf}/$t.parquet").toPath)
    events.coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(dir, "events.parquet").getAbsolutePath)
    dir.getAbsolutePath
  }

  private lazy val degenDir: String = {
    import org.apache.spark.sql.Row
    val base = Tables.load(spark, TestSpark.sf, "events")
    val t0 = Timestamp.valueOf("2024-01-01 12:00:00")
    val rows = Seq[Row](
      // null event time: must drop out of (or sort stably in) every
      // window/as-of path, never null-propagate into an ANSI op
      Row(9000001L, null, 1L, "click", 1.0, """{"k": 1}"""),
      Row(9000002L, t0, null, "click", 1.0, """{"k": 2}"""),
      Row(9000003L, t0, 2L, null, 1.0, """{"k": 3}"""),
      Row(9000004L, t0, 3L, "zzz_unknown", 1.0, """{"k": 4}"""),
      Row(9000005L, t0, 4L, "click", null, """{"k": 5}"""),
      Row(9000006L, t0, 5L, "click", Double.NaN, """{"k": 6}"""),
      Row(9000007L, t0, 6L, "click", 1.0, null),
      Row(9000008L, t0, 7L, "click", 1.0, "not json {"),
      // duplicate event_id with a different payload: dedup paths must
      // elect deterministically, key-unique paths must not assume
      Row(9000009L, t0, 8L, "view", 2.0, """{"k": 9}"""),
      Row(9000009L, t0, 8L, "view", 3.0, """{"k": 10}"""))
    val degen = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      base.select("event_id", "ts", "user_id", "event_type", "value", "props").schema)
    writeFixture("rows")(base.unionByName(degen))
  }

  private lazy val emptyDir: String = {
    import spark.implicits._
    writeFixture("empty")(
      Tables.load(spark, TestSpark.sf, "events").filter($"event_id" < 0))
  }

  /** Every registered query that reads the events table. */
  private val battery: Seq[String] = Seq(
    "st1_tumbling_window", "st2_sliding_window", "st3_sessionize",
    "st5_session_window", "st6_stream_dedup", "st7_stream_topk",
    "st9_interval_join", "st10_stream_enrich", "st11_lateness_audit",
    "st12_stream_dq", "st4_upsert_merge",
    "j14_asof_join", "j15_range_join",
    "w8_rolling_window", "w9_funnel_steps", "w10_cohort_retention",
    "w11_event_transitions", "w13_attribution",
    "a9_exact_quantiles", "a12_pivot_report", "t_equidepth_hist",
    "s6_change_classify", "s10_scan_typed", "s12_scan_since",
    "s18_dq_rules", "c6_freshness_audit", "u1_changeset_replay")

  private def sweep(dir: String, label: String): Unit = {
    val byName = Queries.all.map(q => q.name -> q).toMap
    val unknown = battery.filterNot(byName.contains)
    assert(unknown.isEmpty, s"battery names not in the registry: $unknown")
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    for (name <- battery) {
      // foreach, NOT count: count() prunes every projection, so an
      // unguarded division in the select list would never execute
      try byName(name).fn(spark, dir).foreach(_ => ())
      catch {
        case e: Throwable =>
          failures += s"$name: ${String.valueOf(e.getMessage).linesIterator.next().take(160)}"
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries die on $label:\n" + failures.mkString("\n"))
  }

  test("the event battery survives degenerate rows") {
    sweep(degenDir, "degenerate event rows")
  }

  test("the event battery survives an empty stream") {
    sweep(emptyDir, "an empty events table")
  }
}
