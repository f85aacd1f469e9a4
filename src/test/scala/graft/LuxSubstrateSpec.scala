package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.storage.StorageLevel
import graft.operators.Substrate
import graft.plans.LuxCompiler

/** The lux search substrate's layout (LuxQueries.substrate): entities
  * hash-partitioned on `id`, triples on `subject`, one shared partition
  * count sized by the tables' leaf bytes — not by their file layout and
  * not by the cores (`shuffle.partitions`). */
class LuxSubstrateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val tables =
    Seq("customer", "orders", "part", "supplier", "nation", "documents", "lineitem")

  /** The sf0.001 substrate tables rewritten as 1 and as 4 files each. */
  private lazy val rewritten: Map[Int, String] = {
    val root = Fixtures.tempDir("graft_lux_substrate_").toPath
    Seq(1, 4).map { k =>
      val d = root.resolve(s"files$k").toString
      tables.foreach { t =>
        spark.read.parquet(s"${TestSpark.sf}/$t.parquet").repartition(k)
          .write.parquet(s"$d/$t.parquet")
      }
      k -> d
    }.toMap
  }

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A freshly built substrate over `dir` (the memo is per dir, so the
    * build sees the confs in force). */
  private def fresh(dir: String): (DataFrame, DataFrame) = {
    LuxQueries.evictSubstrate(spark, Some(dir))
    LuxQueries.substrate(spark, dir)
  }

  // a new Dataset over the frame, so the plan is resolved against the
  // cache as it is NOW (a frame's own queryExecution is memoized); the
  // AQE wrapper is a leaf, so walk its static input plan
  private def plan(df: DataFrame): SparkPlan =
    df.select("*").queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }

  /** The cached scan a substrate frame reads, and its partitioning. */
  private def layout(df: DataFrame): Partitioning = {
    val p = plan(df)
    p.collectFirst { case s: InMemoryTableScanExec => s.outputPartitioning }
      .getOrElse(fail(s"frame does not read the cache:\n$p"))
  }

  private def nParts(df: DataFrame): Int = df.select("*").rdd.getNumPartitions

  /** Target bytes that put the sf0.001 substrate above one partition. */
  private def smallTarget(dir: String): Long = {
    val bytes = Substrate.leafBytes(LuxQueries.entities(spark, dir)) +
      Substrate.leafBytes(LuxQueries.triples(spark, dir))
    (bytes / 3).toLong
  }

  test("partition count follows bytes, not the file layout") {
    val four = rewritten(4)
    assert(spark.read.parquet(s"$four/orders.parquet").inputFiles.length === 4)
    val counts = Seq(1, 4).map { k =>
      val (e, t) = fresh(rewritten(k))
      (nParts(e), nParts(t))
    }
    assert(counts.head === counts.last)
    // a sub-MB corpus under the 64 MiB default target: one partition
    assert(counts.head === ((1, 1)))
    rewritten.values.foreach(d => LuxQueries.evictSubstrate(spark, Some(d)))
  }

  test("partition count has no shuffle.partitions (cores) floor") {
    val dir = rewritten(4)
    val counts = Seq("4", "32").map { sp =>
      withConf("spark.sql.shuffle.partitions" -> sp) {
        val (e, t) = fresh(dir)
        (nParts(e), nParts(t))
      }
    }
    assert(counts.head === counts.last)
    LuxQueries.evictSubstrate(spark, Some(dir))
  }

  /** A hop's join: a semi-join whose left side scans the triples. */
  private def isHop(p: SparkPlan): Boolean = p match {
    case j: BaseJoinExec if j.joinType == LeftSemi =>
      j.left.exists {
        case s: InMemoryTableScanExec => s.output.exists(_.name == "predicate")
        case _ => false
      }
    case _ => false
  }

  /** Nodes from `p` down to, not into, the first hop join: for a
    * semi-join over a hop, the entity leaf side plus the hop's
    * distinct, excluding the hop join's own inputs. */
  private def aboveHop(p: SparkPlan): Seq[SparkPlan] =
    p +: (if (isHop(p)) Nil else p.children.flatMap(aboveHop))

  /** The first semi-join that is not a hop: an AND's. */
  private def semiJoin(p: SparkPlan): BaseJoinExec = p.collectFirst {
    case j: BaseJoinExec if j.joinType == LeftSemi && !isHop(j) => j
  }.getOrElse(fail(s"no semi-join in\n$p"))

  test("keyed layout: a forward hop's distinct and its semi-join with an " +
      "entity leaf plan with no exchange") {
    val dir = rewritten(4)
    withConf(Substrate.TargetBytesKey -> smallTarget(dir).toString,
        "spark.sql.adaptive.enabled" -> "false") {
      val (e, t) = fresh(dir)
      val n = nParts(e)
      assert(n > 1, "the lowered target must split the substrate")
      assert(nParts(t) === n, "both tables share one partition count")
      val c = new LuxCompiler(e, t)
      // a broadcast threshold at the hop sub-result's own size estimate:
      // the hop broadcasts its sub-result (with no broadcast at all it
      // would sort-merge on `object` and shuffle the triples), while
      // the AND semi-join's hop side, estimated at the triple scan,
      // stays partitioned
      def estimate(q: String) = c.compile(q).queryExecution.optimizedPlan.stats.sizeInBytes
      val (sub, hop) = (estimate("""id="c3""""), estimate("""placedBy(id="c3")"""))
      assert(sub < hop, s"sub-result estimate $sub not below the hop's $hop")
      withConf("spark.sql.autoBroadcastJoinThreshold" -> sub.toString) {
        val fwd = plan(c.compile("""AND(etype="order", placedBy(id="c3"))"""))
        val semi = semiJoin(fwd)
        assert(!semi.isInstanceOf[BroadcastHashJoinExec],
          s"the semi-join must be partitioned for this check:\n$fwd")
        assert(semi.exists(isHop), s"no hop join below the semi-join:\n$fwd")
        val exchanges = aboveHop(semi).collect { case x: Exchange => x }
        assert(exchanges.isEmpty, s"forward hop shuffles above its join:\n$fwd")

        // contrast: an inverse hop returns `object`, which the layout
        // does not key, so its distinct still shuffles
        val inv = plan(c.compile("""AND(etype="customer", ^placedBy(id="o1"))"""))
        assert(aboveHop(semiJoin(inv)).exists(_.isInstanceOf[Exchange]),
          s"inverse hop unexpectedly exchange-free:\n$inv")
      }
    }
    LuxQueries.evictSubstrate(spark, Some(dir))
  }

  test("one-partition substrate: lux_q1's static plan has no shuffle") {
    val dir = rewritten(4)
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val (e, t) = fresh(dir)
      assert(nParts(e) === 1, "the default target keeps sf0.001 in one partition")
      val q1 = plan(new LuxCompiler(e, t).compile(LuxQueries.q1))
      assert(q1.exists(isHop), s"no hop join in\n$q1")
      val shuffles = q1.collect { case x: ShuffleExchangeExec => x }
      assert(shuffles.isEmpty, s"one-partition lux_q1 shuffles:\n$q1")
    }
    LuxQueries.evictSubstrate(spark, Some(dir))
  }

  test("clearCache re-arms the same keyed frames") {
    val dir = rewritten(4)
    withConf(Substrate.TargetBytesKey -> smallTarget(dir).toString) {
      val (e, t) = fresh(dir)
      val n = nParts(e)
      val rows = (e.count(), t.count())
      spark.catalog.clearCache()
      assert(e.storageLevel === StorageLevel.NONE)
      val (e2, t2) = LuxQueries.substrate(spark, dir)
      assert((e2 eq e) && (t2 eq t), "the memo must hand back the same frames")
      for ((df, key) <- Seq(e2 -> "id", t2 -> "subject")) {
        assert(df.storageLevel !== StorageLevel.NONE, s"$key frame not re-persisted")
        layout(df) match {
          case h: HashPartitioning =>
            assert(h.numPartitions === n)
            assert(h.references.map(_.name).toSeq === Seq(key))
          case other => fail(s"$key frame lost its layout: $other")
        }
      }
      assert((e2.count(), t2.count()) === rows)
    }
    LuxQueries.evictSubstrate(spark, Some(dir))
  }
}
