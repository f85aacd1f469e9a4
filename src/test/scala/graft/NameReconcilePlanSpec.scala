package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.JoinPlanner.Config

/** The JoinPlanner's THIRD production adoption: r1's candidate-vs-
  * name-index join (`OpsQueries.indexJoin`) — the reference's hottest
  * hand-sharded key class (AAT en names 820k, reconciler.py:66-75).
  * Pins the pick per regime on the reconcile shape: broadcast while the
  * index fits the budget (the pre-adoption plan, reproduced), shuffle-
  * hash past it, salt on a hot name (the "john smith" class), plus
  * result equality in every branch. */
class NameReconcilePlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cfg = Config(broadcastMaxRows = 64L, skewShareMilli = 200L,
    saltTargetPartitions = 32, maxSalt = 32)

  /** A candidate table + its name index, r1-shaped. hot=true puts 90%
    * of candidates on one name; `names` sets the distinct-name count
    * (the index side is one row per name). */
  private def fixtures(n: Int, hot: Boolean, names: Int = 40)
      : (DataFrame, DataFrame) = {
    val cands = (1 to n).map { i =>
      val nm = if (hot && i % 10 < 9) "john smith" else s"name${i % names}"
      (i.toLong, nm)
    }.toDF("rid", "k")
    val index = cands.groupBy($"k")
      .agg(min($"rid").as("canonical"), count(lit(1)).as("n_cluster"))
    (cands, index)
  }

  private def agg(df: DataFrame) =
    df.agg(count(lit(1)), sum($"rid" + $"canonical")).head()

  private def executed(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("name reconcile: index within budget → broadcast (pre-adoption plan)") {
    val (cands, index) = fixtures(60, hot = false)
    val j = OpsQueries.indexJoin(cands, index, cfg)
    assert(executed(j).contains("BroadcastHashJoin"), executed(j))
    assert(agg(j) === agg(cands.join(index, "k")))
  }

  test("name reconcile: index past the budget, unique names → shuffle-hash") {
    // 2000 distinct names over 4000 candidates: fan-out ≈ 2 ≤ hint cap
    val (cands, index) = fixtures(4000, hot = false, names = 2000)
    val j = OpsQueries.indexJoin(cands, index, cfg)
    val plan = executed(j)
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(agg(j) === agg(cands.join(index, "k")))
  }

  test("name reconcile: hot name → salted join on (k, salt)") {
    // index stays one-row-per-name, but 90% of the PROBE hits one name:
    // hotOut ≈ 0.9·|probe| ≥ 20% of est — the salt branch. names=2000
    // (→ 201 distinct under the i%10==9 residue filter) keeps the index
    // past the 64-row broadcast budget so the decision is skew's to make
    val (cands, index) = fixtures(4000, hot = true, names = 2000)
    val j = OpsQueries.indexJoin(cands, index, cfg)
    val plan = executed(j)
    val joinLine = plan.linesIterator.find(_.contains("ShuffledHashJoin"))
    assert(joinLine.exists(_.contains("salt")), plan)
    assert(agg(j) === agg(cands.join(index, "k")))
  }

  test("r1 itself: planner broadcast pick in the audited plan, rows intact") {
    val r1 = OpsQueries.nameReconcile(spark, TestSpark.sf)
    assert(executed(r1).contains("BroadcastHashJoin"), executed(r1))
    // result equality vs the pre-adoption two-column-condition join
    val parts = Tables.load(spark, TestSpark.sf, "part")
    val index = parts
      .groupBy(lower($"p_name").as("key"), $"p_brand".as("itype"))
      .agg(min($"p_partkey").as("canonical"), count(lit(1)).as("n_cluster"))
    val pre = parts.join(broadcast(index),
        lower($"p_name") === $"key" && $"p_brand" === $"itype")
      .select($"p_partkey", $"canonical", $"n_cluster")
    val cmp = (df: DataFrame) =>
      df.agg(count(lit(1)), sum($"p_partkey" + $"canonical" + $"n_cluster")).head()
    assert(cmp(r1) === cmp(pre))
  }
}
