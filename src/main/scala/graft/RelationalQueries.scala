package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Core relational operator surface (SURVEY.md §2.1/2.5/2.6): scans with
  * pushdown, grouped aggregation with exact quantized arithmetic, joins,
  * windows, set ops. Each query mirrors a reference operator's shape over
  * the deterministic test tables.
  */
object RelationalQueries extends QueryGroup {

  /** Exact money arithmetic: double dollars -> integer cents (BIGINT). */
  private[graft] def cents(c: Column): Column = hundredths(c)
  /** double 0.xx rate -> integer percent. */
  private def pct(c: Column): Column = hundredths(c)

  /** round(c * 100) as a long. A non-finite measure (NaN/Inf from a
    * broken producer — certain at 100 TB) or one whose |c * 100| is at
    * least 2^63, so that it overflows a long, is treated as ABSENT
    * (null): it drops out of sums/mins like a null measure instead of
    * killing the job with an ANSI CAST_OVERFLOW (the degenerate-events
    * sweep's finding). Every other input is bit-identical to the
    * oracles' CAST(ROUND(c*100) AS BIGINT), 1e16 dollars -> 1e18 cents
    * included. */
  private def hundredths(c: Column): Column =
    round(when(isnan(c) || abs(c * 100) >= math.pow(2, 63), lit(null).cast("double"))
      .otherwise(c) * 100).cast("long")

  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
    // TPC-H Q1 shape (reference analog: per-type grouped stats, SURVEY A5/A7)
    li.filter($"l_shipdate" <= lit(java.sql.Timestamp.valueOf("1998-09-01 00:00:00")))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum(round($"l_quantity").cast("long")).cast("long").as("sum_qty"),
        sum(cents($"l_extendedprice")).cast("long").as("sum_base_cents"),
        (sum(cents($"l_extendedprice") * (lit(100L) - pct($"l_discount")))
          .cast("double") / 10000.0).as("sum_disc_price"),
        (sum(cents($"l_extendedprice") * (lit(100L) - pct($"l_discount"))
          * (lit(100L) + pct($"l_tax"))).cast("double") / 1000000.0).as("sum_charge"),
        count(lit(1)).as("count_order"))
  }

  val q1AggOracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS DOUBLE) / 10000.0 AS sum_disc_price,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT)) * (100 + CAST(ROUND(l_tax*100) AS BIGINT))) AS DOUBLE) / 1000000.0 AS sum_charge,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** S1/S10/S12: scans with projection + predicate pushdown. */
  def scanPushdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .filter($"l_shipdate" >= lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")) &&
        $"l_shipdate" < lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        $"l_discount" > 0.05)
      .select($"l_orderkey", $"l_linenumber", cents($"l_extendedprice").as("price_cents"))
  }

  def scanTyped(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .filter($"event_type".isin("signup", "error"))
      .select($"event_id", $"user_id", $"event_type")
  }

  def scanSince(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .filter($"ts" >= lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")))
      .groupBy(date_trunc("day", $"ts").as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(cents($"value")).cast("long").as("value_cents"))
  }

  /** J1/W1: first-hit-wins candidate join — per customer its latest order
    * (rank by recency, unique tie-break), the reconciler's pick-one shape. */
  def firstMatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.load(spark, dir, "customer")
    val o = Tables.load(spark, dir, "orders")
    // argmax, not a rank window: (date desc, orderkey asc via negation)
    // as one max-of-struct — map-side combine per customer
    o.groupBy($"o_custkey")
      .agg(max(struct($"o_orderdate", (-$"o_orderkey").as("nk"))).as("b"))
      .select($"o_custkey", (-$"b.nk").as("o_orderkey"),
        $"b.o_orderdate".as("o_orderdate"))
      .join(c, $"o_custkey" === $"c_custkey")
      .select($"c_custkey", $"c_name", $"o_orderkey", $"o_orderdate")
  }

  /** J2/J3: multi-match resolved by most supporting evidence (vote max).
    * Argmax as ONE max-of-struct aggregate (votes desc, suppkey asc via
    * negation) — combines map-side where a rank window would sort each
    * part's whole candidate list. */
  def voteMax(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
    li.groupBy($"l_partkey", $"l_suppkey").agg(count(lit(1)).as("n"))
      .groupBy($"l_partkey")
      .agg(max(struct($"n", (-$"l_suppkey").as("ns"))).as("b"))
      .select($"l_partkey", (-$"b.ns").as("winner_suppkey"), $"b.n".as("votes"))
  }

  /** J4/§2.7: differentFrom veto = anti-join (customers with no orders). */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.load(spark, dir, "customer")
    val o = Tables.load(spark, dir, "orders")
    c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
  }

  /** semi-join (EXISTS): customers having any order above a threshold. */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.load(spark, dir, "customer")
    val o = Tables.load(spark, dir, "orders").filter($"o_totalprice" > 300000.0)
    c.join(o, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name")
  }

  /** J8: reidentify — rewrite foreign ids through a mapping table with a
    * do-not-reidentify fallback (left join + coalesce). */
  def rewriteIds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
      .filter($"l_orderkey" % 100 === 0)
    val p = Tables.load(spark, dir, "part")
      .filter($"p_size" > 10)
      .select($"p_partkey", $"p_name")
    li.join(broadcast(p), $"l_partkey" === $"p_partkey", "left")
      .select($"l_orderkey", $"l_linenumber",
        coalesce($"p_name", concat(lit("unknown:"), $"l_partkey")).as("part_ref"))
  }

  /** W1: candidate ranking by (priority asc, length desc) per partition —
    * top-3 documents per language by size. Bounded TopK aggregator, not
    * a window: the per-language partition is corpus/|langs| at scale,
    * while the aggregator ships 3 rows per (lang, partition). */
  def rankPriority(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"lang", $"n_chars".cast("long"), $"doc_id".cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, nc, id) => operators.TopK.Entry(nc, id) }
      .agg(operators.TopK.TopKAgg(3).toColumn.name("top"))
      .flatMap { case (lang, buf) =>
        buf.items.zipWithIndex.map { case (e, i) => (lang, i + 1L, e.id, e.v) }
      }
      .toDF("lang", "rnk", "doc_id", "n_chars")
  }

  /** W2: primary-name election with computed score per group. */
  def nameElection(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.load(spark, dir, "customer")
    val score = when($"c_acctbal" >= 0, 1).otherwise(0)
    // (score desc, name length asc, custkey asc) election as one
    // max-of-struct aggregate; winner payload in the trailing fields
    c.groupBy($"c_nationkey")
      .agg(max(struct(score.as("s"), (-length($"c_name")).as("nl"),
        (-$"c_custkey").as("nk"), $"c_custkey".as("ck"),
        $"c_name".as("nm"))).as("b"))
      .select($"c_nationkey", $"b.ck".as("elected_custkey"),
        $"b.nm".as("elected_name"))
  }

  /** §2.7 set ops: stale-equivalence removal = EXCEPT. */
  def setExcept(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.load(spark, dir, "orders")
    val h1 = o.filter($"o_orderdate" >= lit(java.sql.Timestamp.valueOf("1994-01-01 00:00:00")) &&
      $"o_orderdate" < lit(java.sql.Timestamp.valueOf("1994-07-01 00:00:00"))).select($"o_custkey")
    val h2 = o.filter($"o_orderdate" >= lit(java.sql.Timestamp.valueOf("1994-07-01 00:00:00")) &&
      $"o_orderdate" < lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00"))).select($"o_custkey")
    h1.except(h2)
  }

  def setIntersect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.load(spark, dir, "orders")
    val h1 = o.filter($"o_orderdate" >= lit(java.sql.Timestamp.valueOf("1994-01-01 00:00:00")) &&
      $"o_orderdate" < lit(java.sql.Timestamp.valueOf("1994-07-01 00:00:00"))).select($"o_custkey")
    val h2 = o.filter($"o_orderdate" >= lit(java.sql.Timestamp.valueOf("1994-07-01 00:00:00")) &&
      $"o_orderdate" < lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00"))).select($"o_custkey")
    h1.intersect(h2)
  }

  /** A4/K6: metatype aggregation — id-set union per key, rendered as a
    * sorted CSV string (deterministic across engines). */
  def groupCollect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.load(spark, dir, "customer")
    c.groupBy($"c_nationkey")
      .agg(concat_ws(",", array_sort(collect_set($"c_mktsegment"))).as("segments"),
        count(lit(1)).as("n_customers"))
  }

  /** A6: keyword frequency top-5 (words longer than 3 chars). */
  def topKeywords(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(explode(split($"text", " ")).as("word"))
      .filter(length($"word") > 3)
      .groupBy($"word").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"word".asc)
      .limit(5)
  }

  /** A7: refCtr — inbound-reference counting substrate. */
  def refCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "lineitem")
      .groupBy($"l_partkey")
      .agg(count(lit(1)).as("n_refs"),
        countDistinct($"l_orderkey").as("n_orders"))
  }

  /** Headline join-aggregate for bench: revenue per (nation, year) through
    * lineitem ⋈ orders ⋈ customer ⋈ nation; dims broadcast. */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders").select($"o_orderkey", $"o_custkey", $"o_orderdate")
    val c = Tables.load(spark, dir, "customer").select($"c_custkey", $"c_nationkey")
    val n = Tables.load(spark, dir, "nation").select($"n_nationkey", $"n_name")
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(c), $"o_custkey" === $"c_custkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name", year($"o_orderdate").cast("int").as("order_year"))
      .agg((sum(cents($"l_extendedprice") * (lit(100L) - pct($"l_discount")))
        .cast("double") / 10000.0).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Q2-shape snowflake rollup: revenue per (region, year) — one dim hop
    * above q3 through region ⋈ nation ⋈ customer ⋈ orders ⋈ lineitem.
    * The whole dim chain (region→nation→customer) broadcasts: at 100 TB
    * the fact table shuffles ONCE on orderkey and every dim hop is
    * map-side — the canonical star/snowflake plan. Completes table
    * coverage: every test table is now read by a registered query. */
  def revenueByRegion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderdate")
    val c = Tables.load(spark, dir, "customer").select($"c_custkey", $"c_nationkey")
    val n = Tables.load(spark, dir, "nation").select($"n_nationkey", $"n_regionkey")
    val r = Tables.load(spark, dir, "region").select($"r_regionkey", $"r_name")
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(c), $"o_custkey" === $"c_custkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", year($"o_orderdate").cast("int").as("order_year"))
      .agg((sum(cents($"l_extendedprice") * (lit(100L) - pct($"l_discount")))
        .cast("double") / 10000.0).as("revenue"),
        count(lit(1)).as("n_items"))
  }
  private val revenueByRegionOracle: String =
    """SELECT r_name, CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, CAST(YEAR(o_orderdate) AS INTEGER)""".stripMargin

  /** Supplier account-balance tiers per nation — the balance-banding
    * report (integer-cents comparisons so the band edges are
    * engine-exact); exercises s_acctbal. One bounded groupBy. */
  def supplierTiers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bal = cents($"s_acctbal")
    Tables.load(spark, dir, "supplier")
      .select($"s_nationkey",
        when(bal < 0L, "debt").when(bal < 500000L, "low")
          .otherwise("high").as("tier"), bal.as("bal"))
      .groupBy($"s_nationkey", $"tier")
      .agg(count(lit(1)).as("n_suppliers"), sum($"bal").as("bal_cents"))
  }
  private val supplierTiersOracle: String =
    """SELECT s_nationkey,
      |  CASE WHEN CAST(ROUND(s_acctbal*100) AS BIGINT) < 0 THEN 'debt'
      |       WHEN CAST(ROUND(s_acctbal*100) AS BIGINT) < 500000 THEN 'low'
      |       ELSE 'high' END AS tier,
      |  COUNT(*) AS n_suppliers,
      |  CAST(SUM(CAST(ROUND(s_acctbal*100) AS BIGINT)) AS BIGINT) AS bal_cents
      |FROM supplier GROUP BY 1, 2""".stripMargin

  /** Part-catalog profile by type — count and integer-exact average
    * retail cents per p_type (the last previously-unexercised column);
    * avg as total//count so both engines agree bit-for-bit. */
  def partTypes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "part")
      .groupBy($"p_type")
      .agg(count(lit(1)).as("n_parts"),
        floor(sum(cents($"p_retailprice")) / count(lit(1))).cast("long")
          .as("avg_retail_cents"))
  }
  private val partTypesOracle: String =
    """SELECT p_type, COUNT(*) AS n_parts,
      |  CAST(SUM(CAST(ROUND(p_retailprice*100) AS BIGINT)) AS BIGINT)
      |    // COUNT(*) AS avg_retail_cents
      |FROM part GROUP BY p_type""".stripMargin

  /** J14: AS-OF join — each click matched to the SAME user's most
    * recent view at-or-before it (the temporal-enrichment join Spark
    * has no native operator for). Implemented as the merge-asof
    * pattern: both sides union into one stream, ONE shuffle by user,
    * and a running `last(ignoreNulls)` over (ts, side) carries the
    * latest view forward — views sort before clicks at equal ts, so
    * the match is at-or-before inclusive. No join product is ever
    * materialized: cost is sort + linear scan per user, the plan
    * you'd want at 100 TB (cf. pandas merge_asof / Flink temporal
    * join). The oracle is DuckDB's NATIVE `ASOF LEFT JOIN`, so the
    * semantics are checked against the standard operator itself, not
    * a re-implementation. Views are deduped to one per (user, ts)
    * first — both engines then have a unique deterministic match. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", lit(1).as("side"), $"event_id",
        lit(null).cast("long").as("view_event_id"))
    val views = ev.filter($"event_type" === "view")
      .groupBy($"user_id", $"ts").agg(max($"event_id").as("view_event_id"))
      .select($"user_id", $"ts", lit(0).as("side"),
        lit(null).cast("long").as("event_id"), $"view_event_id")
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"side".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(views)
      .select($"event_id", $"user_id", $"ts", $"side",
        last($"view_event_id", ignoreNulls = true).over(w).as("v_id"),
        last(when($"side" === 0, $"ts"), ignoreNulls = true).over(w).as("v_ts"))
      .filter($"side" === 1)
      .select($"event_id", $"user_id", $"v_id".as("view_event_id"),
        // per-side floor to whole seconds: micros-exact cross-engine
        (expr("unix_micros(ts) div 1000000") -
          expr("unix_micros(v_ts) div 1000000")).as("lag_seconds"))
  }
  private val asofJoinOracle: String =
    """WITH clicks AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |views AS (
      |  SELECT user_id, ts, MAX(event_id) AS view_event_id
      |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
      |SELECT c.event_id, c.user_id, v.view_event_id,
      |  epoch_us(c.ts) // 1000000 - epoch_us(v.ts) // 1000000 AS lag_seconds
      |FROM clicks c ASOF LEFT JOIN views v
      |  ON c.user_id = v.user_id AND c.ts >= v.ts""".stripMargin

  /** J15: interval (range) join — every error within 30 minutes AFTER
    * a click by the same user. The naive form is an inequality join
    * (quadratic per user); the scale form buckets both sides into
    * 30-minute epochs and joins each click to its own and the next
    * bucket — every qualifying pair lands in exactly one of the two,
    * so the exact range predicate then filters a candidate set
    * bounded by per-bucket density, never |clicks|x|errors|. The
    * oracle runs the unbucketed inequality join: a hash match proves
    * the bucketing loses nothing. */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val W = 1800L * 1000000L // 30 minutes in microseconds (exact)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("click_id"),
        expr("unix_micros(ts)").as("cts"))
      .withColumn("cb", TextQueries.intDiv($"cts", lit(W)))
    val errors = ev.filter($"event_type" === "error")
      .select($"user_id", $"event_id".as("error_id"),
        expr("unix_micros(ts)").as("ets"))
      .withColumn("b", TextQueries.intDiv($"ets", lit(W)))
    clicks.withColumn("b", explode(array($"cb", $"cb" + 1L)))
      .join(errors, Seq("user_id", "b"))
      .filter($"ets" >= $"cts" && $"ets" <= $"cts" + W)
      .select($"user_id", $"click_id", $"error_id",
        expr("(ets - cts) div 1000000").as("gap_seconds"))
  }
  private val rangeJoinOracle: String =
    """SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id,
      |  (epoch_us(e.ts) - epoch_us(c.ts)) // 1000000 AS gap_seconds
      |FROM events c JOIN events e
      |  ON c.user_id = e.user_id
      |  AND c.event_type = 'click' AND e.event_type = 'error'
      |  AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 30 MINUTE""".stripMargin

  /** W8: time-RANGE rolling window — each event's trailing 1-hour sum
    * and count of same-user event values (rangeBetween over epoch
    * seconds, not rowsBetween — the semantics change when events
    * cluster). One shuffle by user; integer cents. */
  def rollingWindow(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select($"event_id", $"user_id",
        expr("unix_micros(ts) div 1000000").as("es"),
        cents($"value").as("v_cents"))
    val w = Window.partitionBy($"user_id").orderBy($"es")
      .rangeBetween(-3600L, 0L)
    ev.select($"event_id", $"user_id",
      sum($"v_cents").over(w).cast("long").as("roll_cents"),
      count(lit(1)).over(w).as("roll_n"))
  }
  private val rollingWindowOracle: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, epoch_us(ts) // 1000000 AS es,
      |    CAST(ROUND(value*100) AS BIGINT) AS v_cents
      |  FROM events)
      |SELECT event_id, user_id,
      |  CAST(SUM(v_cents) OVER w AS BIGINT) AS roll_cents,
      |  COUNT(*) OVER w AS roll_n
      |FROM ev
      |WINDOW w AS (PARTITION BY user_id ORDER BY es
      |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin

  /** W9: ordered funnel — users progressing view → click → purchase in
    * strict timestamp order. Sequential dependency resolved with three
    * key-partitioned aggregations chained by joins (first view, first
    * click AFTER it, first purchase after that): every stage shuffles
    * on user_id only, no windows over the whole table, no UDF state.
    * Ties at the same microsecond break by event_id, so each stage's
    * "first" is deterministic. Output is the per-step user count. */
  def funnelSteps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"),
        $"event_id")
    def firstAfter(events: DataFrame, typ: String, after: DataFrame,
        lower: String, out: String): DataFrame =
      events.filter($"event_type" === typ)
        .join(after, "user_id")
        .filter($"us" > col(lower))
        .groupBy($"user_id").agg(min(struct($"us", $"event_id"))
          .getField("us").as(out))
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id")
      .agg(min(struct($"us", $"event_id")).getField("us").as("t1"))
    val c = firstAfter(ev, "click", v, "t1", "t2")
    val p = firstAfter(ev, "purchase", c, "t2", "t3")
    val counts = Seq(("1_view", v), ("2_click", c), ("3_purchase", p))
      .map { case (step, df) =>
        df.agg(lit(step).as("step"), count(lit(1)).as("n_users"))
      }
    counts.reduce(_ unionByName _)
  }
  private val funnelOracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |v AS (SELECT user_id, MIN(us) AS t1 FROM ev
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT ev.user_id, MIN(us) AS t2 FROM ev JOIN v USING (user_id)
      |  WHERE event_type = 'click' AND us > t1 GROUP BY ev.user_id),
      |p AS (SELECT ev.user_id, MIN(us) AS t3 FROM ev JOIN c USING (user_id)
      |  WHERE event_type = 'purchase' AND us > t2 GROUP BY ev.user_id)
      |SELECT '1_view' AS step, COUNT(*) AS n_users FROM v
      |UNION ALL SELECT '2_click', COUNT(*) FROM c
      |UNION ALL SELECT '3_purchase', COUNT(*) FROM p""".stripMargin

  /** W10: cohort retention — users grouped by first-activity day, and
    * for each (cohort, day-offset) the count of distinct cohort
    * members active at that offset. Two aggregations and one join,
    * all partitioned by user_id / (cohort, offset); the classic
    * engagement matrix at any scale. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select($"user_id", to_date($"ts").as("day"))
    val cohort = ev.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    ev.join(cohort, "user_id")
      .select($"user_id", $"cohort_day",
        datediff($"day", $"cohort_day").cast("long").as("day_offset"))
      .distinct()
      .groupBy($"cohort_day", $"day_offset")
      .agg(count(lit(1)).as("n_users"))
  }
  private val cohortOracle: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM ev
      |  GROUP BY user_id),
      |act AS (SELECT DISTINCT ev.user_id, cohort_day,
      |    CAST(day - cohort_day AS BIGINT) AS day_offset
      |  FROM ev JOIN cohort USING (user_id))
      |SELECT cohort_day, day_offset, COUNT(*) AS n_users
      |FROM act GROUP BY 1, 2""".stripMargin

  /** J17: fuzzy self-join on names within edit distance 1 — the
    * scalable approximate-string-match shape (FastSS deletion
    * neighborhoods): each name emits itself plus every single-deletion
    * variant; two names within one edit ALWAYS share a variant, so an
    * equi-join on the variant is a complete candidate generator. The
    * variant join replaces the quadratic all-pairs comparison — at
    * 100 TB candidates ∝ matches, not n² — and a native levenshtein
    * verify removes the neighborhood's false positives (e.g. "ab" vs
    * "ba" share variants at distance 2). The oracle brute-forces the
    * cross product, which only the small test scale affords. */
  def fuzzyJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.load(spark, dir, "customer")
      .select($"c_custkey".cast("long").as("k"), $"c_name".as("name"))
    val vars = c.withColumn("v", explode(expr(
      """array_union(array(name),
        |  transform(sequence(1, length(name)),
        |    i -> concat(substr(name, 1, i-1), substr(name, i+1, 1000))))"""
        .stripMargin)))
    vars.as("x").join(vars.as("y"), "v")
      .filter($"x.k" < $"y.k")
      .select($"x.k".as("a_key"), $"y.k".as("b_key"),
        $"x.name".as("na"), $"y.name".as("nb"))
      .distinct()
      .filter(levenshtein($"na", $"nb") <= 1)
      .select($"a_key", $"b_key",
        levenshtein($"na", $"nb").cast("long").as("dist"))
  }
  private val fuzzyJoinOracle: String =
    """WITH c AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS name
      |  FROM customer)
      |SELECT a.k AS a_key, b.k AS b_key,
      |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
      |FROM c a JOIN c b ON a.k < b.k
      |WHERE levenshtein(a.name, b.name) <= 1""".stripMargin

  /** J17b: per-name CANDIDATE-LOAD diagnostic — the bounded-output twin
    * of j17 (same pattern as d4b): the variant join is
    * contract-quadratic when one name is duplicated k times (all k
    * share every variant → k² candidate pairs), so this twin MEASURES
    * the load instead of paying it — per key, the largest
    * deletion-variant bucket it sits in and the summed bucket sizes
    * (its candidate-pair bound). One shuffle on the variant key + one
    * per-key aggregate, linear at any duplication factor. */
  def fuzzyDegree(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.load(spark, dir, "customer")
      .select($"c_custkey".cast("long").as("k"), $"c_name".as("name"))
    val vars = c.withColumn("v", explode(expr(
      """array_union(array(name),
        |  transform(sequence(1, length(name)),
        |    i -> concat(substr(name, 1, i-1), substr(name, i+1, 1000))))"""
        .stripMargin)))
      .select($"k", $"v")
    val counts = vars.groupBy($"v").agg(count(lit(1)).as("n"))
    vars.join(counts, "v")
      .groupBy($"k")
      .agg(max($"n" - 1L).as("max_bucket"), sum($"n" - 1L).as("cand_bound"))
  }
  private val fuzzyDegreeOracle: String =
    """WITH c AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS name
      |  FROM customer),
      |vars AS (
      |  SELECT k, unnest(list_distinct(list_prepend(name,
      |    [substr(name, 1, i-1) || substr(name, i+1, 1000)
      |     for i in range(1, len(name)+1)]))) AS v
      |  FROM c),
      |counts AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM vars GROUP BY v)
      |SELECT k, MAX(n - 1) AS max_bucket,
      |  CAST(SUM(n - 1) AS BIGINT) AS cand_bound
      |FROM vars JOIN counts USING (v) GROUP BY k""".stripMargin

  /** W11: event-type transition matrix — per-user bigram counts of
    * consecutive event types in timestamp order (the Markov structure
    * of the clickstream; feeds next-event prediction and funnel
    * anomaly checks). One lag window partitioned by user, one count
    * aggregation — shuffles on user_id then on the (from, to) pair. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val w = Window.partitionBy($"user_id")
      .orderBy($"us".asc, $"event_id".asc)
    Tables.load(spark, dir, "events")
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"),
        $"event_type")
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNotNull)
      .groupBy($"prev_type".as("from_type"), $"event_type".as("to_type"))
      .agg(count(lit(1)).as("n"))
  }
  private val transitionsOracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type
      |  FROM events),
      |lagged AS (SELECT event_type, LAG(event_type) OVER
      |    (PARTITION BY user_id ORDER BY us, event_id) AS prev_type
      |  FROM ev)
      |SELECT prev_type AS from_type, event_type AS to_type,
      |  COUNT(*) AS n
      |FROM lagged WHERE prev_type IS NOT NULL GROUP BY 1, 2""".stripMargin

  /** Equi-depth histogram of event values — 16 buckets of equal ROW
    * count (what an optimizer's statistics collector builds, and what
    * equi-width histograms get wrong under skew). Global rank comes
    * from operators.GlobalRank (range partition + partition offsets),
    * so unlike an ntile() window nothing ever lands in one partition;
    * bucket = floor(rank0 * 16 / n) reproduces exactly in the oracle's
    * row_number arithmetic. */
  def equidepthHist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select(cents($"value").as("v"), $"event_id")
    val ranked = operators.GlobalRank.withRank(
      ev, "rk", $"v".asc, $"event_id".asc)
    val n = ranked.agg(count(lit(1)).cast("long").as("n"))
    ranked.crossJoin(broadcast(n))
      .select(TextQueries.intDiv(($"rk" - 1L) * 16L, $"n").as("bucket"), $"v")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_rows"),
        min($"v").as("v_lo"), max($"v").as("v_hi"))
  }
  private val equidepthOracle: String =
    """WITH ev AS (
      |  SELECT CAST(ROUND(value*100) AS BIGINT) AS v, event_id FROM events),
      |r AS (SELECT v,
      |    ROW_NUMBER() OVER (ORDER BY v, event_id) - 1 AS rk0,
      |    COUNT(*) OVER () AS n
      |  FROM ev)
      |SELECT (rk0 * 16) // n AS bucket, COUNT(*) AS n_rows,
      |  MIN(v) AS v_lo, MAX(v) AS v_hi
      |FROM r GROUP BY 1""".stripMargin

  /** A9: exact discrete quantiles (p50/p90/p99) of event values per
    * type — profiling without sketches: the rank-arithmetic form
    * (k = ceil(p·n), k-th smallest by (value, event_id)) is exact and
    * engine-independent where approximate percentile sketches are
    * not. One shuffle to rank, one tiny aggregate. */
  def exactQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // histogram form: one groupBy collapses the corpus to its DISTINCT
    // (event_type, value) pairs with counts; ranks come from a running
    // sum over that histogram. The value at position t is the smallest
    // value whose cumulative count reaches t — identical to ranking
    // every row, but the window runs over the value histogram (bounded
    // by the value domain), never over corpus-sized partitions.
    val hist = Tables.load(spark, dir, "events")
      .select($"event_type", cents($"value").as("v_cents"))
      .groupBy($"event_type", $"v_cents").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"event_type").orderBy($"v_cents".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = hist.withColumn("cum", sum($"c").over(w))
      .withColumn("n", sum($"c").over(Window.partitionBy($"event_type")))
    val pick = (p: Double, nm: String) =>
      min(when($"cum" >= ceil(lit(p) * $"n").cast("long"), $"v_cents"))
        .as(nm)
    ranked.groupBy($"event_type")
      .agg(max($"n").as("n"), pick(0.5, "p50_cents"),
        pick(0.9, "p90_cents"), pick(0.99, "p99_cents"))
  }
  private val exactQuantilesOracle: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(ROUND(value*100) AS BIGINT) AS v_cents,
      |    event_id
      |  FROM events),
      |r AS (
      |  SELECT event_type, v_cents,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY v_cents, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM ev)
      |SELECT event_type, MAX(n) AS n,
      |  MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN v_cents END) AS p50_cents,
      |  MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN v_cents END) AS p90_cents,
      |  MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN v_cents END) AS p99_cents
      |FROM r GROUP BY 1""".stripMargin

  /** W12: per-group top-k WITHOUT a window — per-nation top-3 customers
    * by account balance via operators.TopK, a typed Aggregator whose
    * buffer never exceeds k entries. The window form
    * (`row_number() OVER (PARTITION BY nation ORDER BY bal DESC) <= 3`)
    * shuffles and sorts every customer row; the aggregator discards to
    * k per (group, partition) BEFORE the exchange, so at 100 TB the
    * shuffle is k·|groups| rows. Tie-break c_custkey asc per the
    * determinism contract. The oracle is the window form — same set. */
  def groupedTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.load(spark, dir, "customer")
      .select($"c_nationkey".cast("long"), cents($"c_acctbal"),
        $"c_custkey".cast("long"))
      .as[(Long, Long, Long)]
    c.groupByKey(_._1)
      .mapValues { case (_, bal, ck) => operators.TopK.Entry(bal, ck) }
      .agg(operators.TopK.TopKAgg(3).toColumn.name("top"))
      .flatMap { case (nat, buf) =>
        buf.items.zipWithIndex.map { case (e, i) =>
          (nat, i + 1L, e.id, e.v)
        }
      }
      .toDF("c_nationkey", "rk", "c_custkey", "bal_cents")
  }
  private val groupedTopKOracle: String =
    """SELECT c_nationkey, rk, c_custkey, bal_cents FROM (
      |  SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
      |      ORDER BY CAST(ROUND(c_acctbal*100) AS BIGINT) DESC, c_custkey)
      |      AS BIGINT) AS rk,
      |    CAST(c_custkey AS BIGINT) AS c_custkey,
      |    CAST(ROUND(c_acctbal*100) AS BIGINT) AS bal_cents
      |  FROM customer) t
      |WHERE rk <= 3""".stripMargin

  /** W13: marketing-touch attribution — per conversion (purchase), the
    * first- and last-touch credit among that user's view/click events
    * inside a 7-day lookback. The pattern behind funnel ROI reporting:
    * a per-user range join (shuffle keyed on user_id; a power-user skew
    * gets the a8 salting treatment at 100 TB) followed by one
    * per-conversion min_by/max_by aggregation. Timestamps compare as
    * integer microseconds; the event stream is strictly ts-ordered by
    * construction so min_by/max_by on ts is deterministic. Unattributed
    * conversions survive the left join with n_touches = 0. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val Lookback = 604800000000L // 7 days in µs
    val ev = Tables.load(spark, dir, "events")
      .select($"event_id", $"user_id", unix_micros($"ts").as("us"), $"event_type")
    val conv = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("conv_id"), $"user_id", $"us".as("cus"))
    val touch = ev.filter($"event_type".isin("view", "click"))
      .select($"event_id".as("touch_id"), $"user_id".as("tu"),
        $"us".as("tus"), $"event_type".as("ch"))
    conv.join(touch,
        $"user_id" === $"tu" && $"tus" < $"cus" && $"tus" >= $"cus" - Lookback,
        "left")
      .groupBy($"conv_id", $"user_id")
      .agg(min_by($"touch_id", $"tus").as("first_touch_id"),
        min_by($"ch", $"tus").as("first_channel"),
        max_by($"touch_id", $"tus").as("last_touch_id"),
        max_by($"ch", $"tus").as("last_channel"),
        count($"touch_id").as("n_touches"))
  }
  private val attributionOracle: String =
    """WITH conv AS (
      |  SELECT event_id AS conv_id, user_id, epoch_us(ts) AS cus
      |  FROM events WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT event_id AS touch_id, user_id AS tu, epoch_us(ts) AS tus,
      |    event_type AS ch
      |  FROM events WHERE event_type IN ('view', 'click'))
      |SELECT conv_id, user_id,
      |  min_by(touch_id, tus) AS first_touch_id,
      |  min_by(ch, tus) AS first_channel,
      |  max_by(touch_id, tus) AS last_touch_id,
      |  max_by(ch, tus) AS last_channel,
      |  CAST(COUNT(touch_id) AS BIGINT) AS n_touches
      |FROM conv LEFT JOIN t
      |  ON user_id = tu AND tus < cus AND tus >= cus - 604800000000
      |GROUP BY conv_id, user_id""".stripMargin

  /** A12: the pivoted daily activity report — event counts per day wide
    * by type, the dashboard-export shape. The pivot value list is
    * STATIC (the event-type domain), which is the 100 TB contract: a
    * dynamic pivot needs a driver-side distinct pass first; a declared
    * domain keeps it one groupBy. Empty cells coalesce to 0. */
  def pivotReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val types = Seq("view", "click", "purchase", "signup", "error")
    val p = Tables.load(spark, dir, "events")
      .groupBy(date_trunc("day", $"ts").as("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    p.select($"day" +: types.map(t =>
      coalesce(col(t), lit(0L)).as(t)): _*)
  }
  private val pivotReportOracle: String =
    """SELECT date_trunc('day', ts) AS day,
      |  CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS view,
      |  CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS click,
      |  CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
      |  CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
      |  CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS error
      |FROM events GROUP BY 1""".stripMargin

  override def register(): Unit = {
    Queries.register(QueryDef("a12_pivot_report", pivotReport,
      Some(pivotReportOracle)))
    Queries.register(QueryDef("w13_attribution", attribution, Some(attributionOracle)))
    Queries.register(QueryDef("w12_grouped_topk", groupedTopK, Some(groupedTopKOracle)))
    Queries.register(QueryDef("j14_asof_join", asofJoin, Some(asofJoinOracle)))
    Queries.register(QueryDef("j15_range_join", rangeJoin, Some(rangeJoinOracle)))
    Queries.register(QueryDef("w8_rolling_window", rollingWindow, Some(rollingWindowOracle)))
    Queries.register(QueryDef("w9_funnel_steps", funnelSteps, Some(funnelOracle)))
    Queries.register(QueryDef("t_equidepth_hist", equidepthHist, Some(equidepthOracle)))
    Queries.register(QueryDef("w11_event_transitions", eventTransitions, Some(transitionsOracle)))
    Queries.register(QueryDef("j17_fuzzy_join", fuzzyJoin, Some(fuzzyJoinOracle)))
    Queries.register(QueryDef("j17b_fuzzy_degree", fuzzyDegree,
      Some(fuzzyDegreeOracle)))
    Queries.register(QueryDef("w10_cohort_retention", cohortRetention, Some(cohortOracle)))
    Queries.register(QueryDef("a9_exact_quantiles", exactQuantiles, Some(exactQuantilesOracle)))
    Queries.register(QueryDef("q1_agg", q1Agg, Some(q1AggOracle), bench = true))
    Queries.register(QueryDef("s1_scan_pushdown", scanPushdown, Some(
      """SELECT l_orderkey, l_linenumber, CAST(ROUND(l_extendedprice*100) AS BIGINT) AS price_cents
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount > 0.05""".stripMargin)))
    Queries.register(QueryDef("s10_scan_typed", scanTyped, Some(
      """SELECT event_id, user_id, event_type FROM events
        |WHERE event_type IN ('signup','error')""".stripMargin)))
    Queries.register(QueryDef("s12_scan_since", scanSince, Some(
      """SELECT date_trunc('day', ts) AS day, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events WHERE ts >= TIMESTAMP '2024-03-01'
        |GROUP BY 1""".stripMargin)))
    Queries.register(QueryDef("j1_first_match", firstMatch, Some(
      """SELECT c_custkey, c_name, o_orderkey, o_orderdate FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey ASC) AS rn
        |  FROM orders) o
        |JOIN customer ON o_custkey = c_custkey
        |WHERE rn = 1""".stripMargin), bench = true))
    Queries.register(QueryDef("j2_vote_max", voteMax, Some(
      """SELECT l_partkey, l_suppkey AS winner_suppkey, n AS votes FROM (
        |  SELECT l_partkey, l_suppkey, COUNT(*) AS n,
        |    ROW_NUMBER() OVER (PARTITION BY l_partkey ORDER BY COUNT(*) DESC, l_suppkey ASC) AS rn
        |  FROM lineitem GROUP BY l_partkey, l_suppkey) v
        |WHERE rn = 1""".stripMargin)))
    Queries.register(QueryDef("j4_anti_join", antiJoin, Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)))
    Queries.register(QueryDef("j_semi_join", semiJoin, Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)""".stripMargin)))
    Queries.register(QueryDef("j8_rewrite_ids", rewriteIds, Some(
      """SELECT l_orderkey, l_linenumber,
        |  COALESCE(p.p_name, 'unknown:' || l_partkey) AS part_ref
        |FROM lineitem
        |LEFT JOIN (SELECT p_partkey, p_name FROM part WHERE p_size > 10) p
        |  ON l_partkey = p_partkey
        |WHERE l_orderkey % 100 = 0""".stripMargin)))
    Queries.register(QueryDef("w1_rank_priority", rankPriority, Some(
      """SELECT lang, rnk, doc_id, n_chars FROM (
        |  SELECT lang, doc_id, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rnk
        |  FROM documents) d
        |WHERE rnk <= 3""".stripMargin)))
    Queries.register(QueryDef("w2_name_election", nameElection, Some(
      """SELECT c_nationkey, c_custkey AS elected_custkey, c_name AS elected_name FROM (
        |  SELECT c_nationkey, c_custkey, c_name,
        |    ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |      ORDER BY (CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END) DESC,
        |               LENGTH(c_name) ASC, c_custkey ASC) AS rn
        |  FROM customer) c
        |WHERE rn = 1""".stripMargin)))
    Queries.register(QueryDef("set_except", setExcept, Some(
      """SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1994-01-01' AND o_orderdate < TIMESTAMP '1994-07-01'
        |EXCEPT
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1994-07-01' AND o_orderdate < TIMESTAMP '1995-01-01'""".stripMargin)))
    Queries.register(QueryDef("set_intersect", setIntersect, Some(
      """SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1994-01-01' AND o_orderdate < TIMESTAMP '1994-07-01'
        |INTERSECT
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1994-07-01' AND o_orderdate < TIMESTAMP '1995-01-01'""".stripMargin)))
    Queries.register(QueryDef("a4_group_collect", groupCollect, Some(
      """SELECT c_nationkey,
        |  array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
        |  COUNT(*) AS n_customers
        |FROM customer GROUP BY c_nationkey""".stripMargin)))
    Queries.register(QueryDef("a6_top_keywords", topKeywords, Some(
      """SELECT word, COUNT(*) AS cnt FROM (
        |  SELECT UNNEST(string_split(text, ' ')) AS word FROM documents) w
        |WHERE LENGTH(word) > 3
        |GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 5""".stripMargin)))
    Queries.register(QueryDef("a7_ref_count", refCount, Some(
      """SELECT l_partkey, COUNT(*) AS n_refs, COUNT(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_partkey""".stripMargin)))
    Queries.register(QueryDef("q4_region_rollup", revenueByRegion,
      Some(revenueByRegionOracle)))
    Queries.register(QueryDef("q6_supplier_tiers", supplierTiers,
      Some(supplierTiersOracle)))
    Queries.register(QueryDef("q8_part_types", partTypes,
      Some(partTypesOracle)))
    Queries.register(QueryDef("q3_revenue_nation_year", revenueByNation, Some(
      """SELECT n_name, CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name, CAST(YEAR(o_orderdate) AS INTEGER)""".stripMargin), bench = true))
  }
}
