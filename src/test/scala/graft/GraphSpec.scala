package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Graph

class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("connected components on a known fixture") {
    import spark.implicits._
    // components: {1,2,3,4}, {10,11}, {20}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 20L))
      .toDF("src", "dst")
    val got = Graph.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("cc converges on a long chain (diameter > 1 round)") {
    import spark.implicits._
    val edges = (1L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = Graph.connectedComponents(edges).as[(Long, Long)].collect()
    assert(got.forall(_._2 == 1L) && got.length == 40)
  }

  test("local contraction preserves connectivity and the node set") {
    import spark.implicits._
    // force everything into ONE partition so the union-find sees the
    // whole chain: the star edges must collapse it to depth 1
    val sym = (1L until 20L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
      .toDF("src", "dst").repartition(1)
    val star = Graph.localContraction(sym)
      .as[(Long, Long)].collect().toMap
    assert(star.keySet === (1L to 20L).toSet) // every node kept
    assert(star.values.forall(_ == 1L)) // one local component, min rep
    // and across many partitions the global result is unchanged
    val spread = (1L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
      .repartition(8)
    val got = Graph.connectedComponents(spread).as[(Long, Long)].collect()
    assert(got.forall(_._2 == 1L) && got.length == 40)
  }

  test("bfs min-dist with bound") {
    import spark.implicits._
    // 1 -> 2 -> 3 -> 4 -> 5, plus shortcut 1 -> 4
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val got = Graph.bfs(edges, seeds, maxDist = 3)
      .as[(Long, Int)].collect().toMap
    assert(got === Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 5L -> 2))
  }

  test("bfs stops once its frontier is empty") {
    import spark.implicits._
    // the same chain: depth 2 is the deepest layer, so a bound of 50
    // must not cost 50 layers of jobs
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
      .toDF("src", "dst")
    val t = Telemetry.attach(spark)
    try {
      t.drain(spark)
      t.reset()
      val got = Graph.bfs(edges, Seq(1L).toDF("node"), maxDist = 50)
        .as[(Long, Int)].collect().toMap
      t.drain(spark)
      assert(got === Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 5L -> 2))
      assert(t.jobs.size < 30, s"${t.jobs.size} jobs for a depth-2 walk")
    } finally spark.sparkContext.removeSparkListener(t)
  }

  test("kcore reaches the true fixpoint within the round cap") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val core = Queries.queries("g5_kcore")(spark, TestSpark.sf)
      .as[(Long, Long)].collect().toMap
    assert(core.nonEmpty, "3-core of the co-part graph must be non-empty")
    // self-consistency: the reported degree IS the degree of the induced
    // subgraph on surviving nodes, and the min degree >= K — i.e. the
    // peel CONVERGED (one more unrolled round would remove nothing), so
    // the capped query equals the true k-core
    val po = Tables.load(spark, TestSpark.sf, "lineitem")
      .filter($"l_orderkey" % 50 === 0)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
    val survivors = core.keySet
    val induced = po.as("a").join(po.as("b"), "ok")
      .filter($"a.p" < $"b.p")
      .select($"a.p".as("u"), $"b.p".as("v")).distinct()
      .filter($"u".isInCollection(survivors) && $"v".isInCollection(survivors))
      .select(explode(array($"u", $"v")).as("n"))
      .groupBy($"n").agg(count(lit(1)).as("d"))
      .as[(Long, Long)].collect().toMap
    assert(induced == core, "reported core_deg != induced-subgraph degree")
    assert(core.values.min >= GraphQueries.CoreK, "un-peeled node below K")
  }

  test("incremental CC composition equals full CC over base ∪ delta") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // base: {1..4} and {10,11}; delta merges them via a NEW node 0 that
    // also becomes the merged component's min — the hardest composition
    // case — plus a delta-only component {30,31}
    val base = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("src", "dst")
    val delta = Seq((4L, 0L), (0L, 10L), (30L, 31L)).toDF("src", "dst")
    val l0 = Graph.connectedComponents(base)
    val contracted = delta
      .join(l0.select($"node".as("src"), $"component".as("sc")), Seq("src"), "left")
      .join(l0.select($"node".as("dst"), $"component".as("dc")), Seq("dst"), "left")
      .select(coalesce($"sc", $"src").as("src"), coalesce($"dc", $"dst").as("dst"))
      .filter($"src" =!= $"dst")
    val l1 = Graph.connectedComponents(contracted)
    val allNodes = base.select($"src".as("node")).union(base.select($"dst".as("node")))
      .union(delta.select($"src".as("node"))).union(delta.select($"dst".as("node")))
      .distinct()
    val inc = allNodes
      .join(l0, Seq("node"), "left")
      .select($"node", coalesce($"component", $"node").as("mid"))
      .join(l1.select($"node".as("mid"), $"component".as("fin")), Seq("mid"), "left")
      .select($"node", coalesce($"fin", $"mid").as("component"))
      .as[(Long, Long)].collect().toMap
    val full = Graph.connectedComponents(base.union(delta))
      .as[(Long, Long)].collect().toMap
    assert(inc === full)
    assert(inc(11L) === 0L, "merged component must take the new min node")
    assert(inc(30L) === 30L)
  }

  test("triangle count is non-vacuous and totals divide by three") {
    import spark.implicits._
    val perNode = Queries.queries("g4_triangle_count")(spark, TestSpark.sf)
      .select($"n_triangles").as[Long].collect()
    // every order with >= 3 sampled parts yields triangles, so the demo
    // must not be empty; each triangle touches exactly 3 nodes
    assert(perNode.nonEmpty && perNode.sum % 3 === 0)
  }

  test("modularity stays rational-exact and within Newman's bounds") {
    val r = Queries.queries("g8_modularity")(spark, TestSpark.sf).head()
    val (m, num, den) = (r.getLong(1), r.getLong(2), r.getLong(3))
    assert(den == 4L * m * m)
    // Q = num/den must lie in [-1, 1); the structure-blind p%16
    // partition lands near 0
    assert(math.abs(num) <= den, s"Q out of range: $num/$den")
  }
}
