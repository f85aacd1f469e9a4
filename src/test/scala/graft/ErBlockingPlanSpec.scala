package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.JoinPlanner.Config

/** The JoinPlanner's SECOND production adoption: r2's blocking
  * self-join (`OpsQueries.blockingJoin`). Pins the pick per regime on
  * the ER shape — broadcast while the record table fits the budget,
  * shuffle-hash past it, salt on a hot blocking key (the common-surname
  * reality) — plus result equality in every branch. Decision arithmetic is JoinPlannerSpec's; gather-site
  * adoption is GatherPlanSpec's; this pins the ER call site. */
class ErBlockingPlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cfg = Config(broadcastMaxRows = 64L, skewShareMilli = 200L,
    saltTargetPartitions = 32, maxSalt = 32)

  /** recs-shaped sides: hot=true puts 90% of rows on one blocking key;
    * `keys` sets the block count (fewer keys → higher per-probe-row
    * fan-out, the Shuffle hint signal). */
  private def sides(n: Int, hot: Boolean, keys: Int = 40)
      : (DataFrame, DataFrame) = {
    val recs = (1 to n).map { i =>
      val nm = if (hot && i % 10 < 9) "smith" else s"nm${i % keys}"
      (i.toLong, nm, s"c${i % 5}", s"s${i % 7}")
    }.toDF("rid", "k", "city", "street")
    (recs.select($"k", $"rid".as("ra"), $"city".as("ca"), $"street".as("sa")),
      recs.select($"k", $"rid".as("rb"), $"city".as("cb"), $"street".as("sb")))
  }

  private def agg(df: DataFrame) =
    df.agg(count(lit(1)), sum($"ra" + $"rb")).head()

  private def executed(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("er blocking: record table within budget → broadcast") {
    val (l, r) = sides(60, hot = false)
    val j = OpsQueries.blockingJoin(l, r, cfg)
    assert(executed(j).contains("BroadcastHashJoin"), executed(j))
    assert(agg(j) === agg(l.join(r, "k")))
  }

  test("er blocking: past the budget, modest fan-out → shuffle-hash") {
    // 2000 distinct blocks of ~2 rows/side: fan-out ≈ 2 ≤ the hint cap
    val (l, r) = sides(4000, hot = false, keys = 2000)
    val j = OpsQueries.blockingJoin(l, r, cfg)
    val plan = executed(j)
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(agg(j) === agg(l.join(r, "k")))
  }

  test("er blocking: pair-amplifying fan-out → unhinted shuffle (SMJ ok)") {
    // 40 blocks of 100 rows/side: fan-out ≈ 100 > shuffleHashMaxFanout —
    // the hint is dropped and Catalyst's sort-merge replays each
    // buffered key group sequentially (decision name stays `shuffle`)
    val (l, r) = sides(4000, hot = false, keys = 40)
    val j = OpsQueries.blockingJoin(l, r, cfg)
    val plan = executed(j)
    assert(!plan.contains("ShuffledHashJoin"), plan)
    assert(agg(j) === agg(l.join(r, "k")))
  }

  test("er blocking: hot blocking key → salted join on (k, salt)") {
    val (l, r) = sides(4000, hot = true)
    val j = OpsQueries.blockingJoin(l, r, cfg)
    val plan = executed(j)
    val joinLine = plan.linesIterator.find(_.contains("ShuffledHashJoin"))
    assert(joinLine.exists(_.contains("salt")), plan)
    assert(agg(j) === agg(l.join(r, "k")))
  }
}
