package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Graph, Reconcile}

class ReconcileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("fixpoint alternates reconcilers until the edge set is stable") {
    import spark.implicits._
    // universe: nodes 1..6. Reconciler A links n ~ n+1 when both appear
    // as srcs of existing edges; reconciler B adds the symmetric edge.
    val seed = Seq((1L, 2L), (4L, 5L)).toDF("src", "dst")
    val bridge: DataFrame => DataFrame = e => {
      // link dst -> dst+1 if dst+1 <= 6 (simulates an index pass that
      // discovers one more equivalent per round)
      e.select($"dst".as("src"), ($"dst" + 1L).as("dst")).filter($"dst" <= 6L)
    }
    val symmetric: DataFrame => DataFrame = e =>
      e.select($"dst".as("src"), $"src".as("dst"))
    val edges = ReconcileSpec.fixpoint(seed, Seq(bridge, symmetric))
    // bridge cascades: 2->3, then 3->4, ... merging everything into one
    // component reaching 6
    val comps = Graph.connectedComponents(edges)
      .select(countDistinct($"component")).as[Long].head()
    assert(comps === 1L)
  }

  test("fixpoint with a no-op reconciler terminates immediately") {
    import spark.implicits._
    val seed = Seq((1L, 2L)).toDF("src", "dst")
    val noop: DataFrame => DataFrame = e => e.limit(0)
    val edges = ReconcileSpec.fixpoint(seed, Seq(noop))
    assert(edges.count() === 1)
  }

  test("frontierFixpoint equals the whole-set fixpoint on random node-anchored graphs") {
    import spark.implicits._
    val r = new scala.util.Random(0xBEEF)
    for (trial <- 0 until 3) {
      val n = 30
      val rel = Seq.fill(80)((r.nextInt(n).toLong, r.nextInt(n).toLong))
        .distinct.toDF("src", "dst")
      val seed = Seq.fill(3)((r.nextInt(n).toLong, r.nextInt(n).toLong))
        .distinct.toDF("src", "dst")
      // the node-anchored crawl shape both production call sites use
      def nodesOf(e: DataFrame) =
        e.select($"src".as("v")).union(e.select($"dst".as("v"))).distinct()
      val edgeCrawl: DataFrame => DataFrame = e =>
        rel.join(nodesOf(e).withColumnRenamed("v", "src"), "src")
      val nodeCrawl: DataFrame => DataFrame = ns =>
        rel.join(ns.withColumnRenamed("v", "src"), "src")
      val whole = ReconcileSpec.fixpoint(seed, Seq(edgeCrawl), maxIter = 50)
      val front = Reconcile.frontierFixpoint(seed, Seq(nodeCrawl))
      assert(whole.except(front).count() === 0L, s"trial $trial: whole ⊄ front")
      assert(front.except(whole).count() === 0L, s"trial $trial: front ⊄ whole")
    }
  }

  test("frontierFixpoint (2-layer unrolled) matches a per-layer reference " +
      "for every maxIter parity") {
    import spark.implicits._
    // plain-Scala per-layer reference of the node-anchored BFS closure:
    // layer k's edges = rel edges whose src is in frontier(k-1); the
    // result is seed ∪ all layers, frontier = unseen dsts. This is the
    // ONE-layer-per-round semantics the unrolled loop must reproduce
    // exactly, including the maxIter layer bound (odd values exercise
    // the single-layer tail).
    def reference(rel: Seq[(Long, Long)], seed: Seq[(Long, Long)],
        maxIter: Int): Set[(Long, Long)] = {
      val bySrc = rel.groupBy(_._1)
      var seen = seed.flatMap(e => Seq(e._1, e._2)).toSet
      var frontier = seen
      var out = seed.toSet
      var it = 0
      while (frontier.nonEmpty && it < maxIter) {
        val newEdges = frontier.toSeq.flatMap(bySrc.getOrElse(_, Nil)).toSet
        val newNodes = newEdges.map(_._2) -- seen
        out ++= newEdges
        seen ++= newNodes
        frontier = newNodes
        it += 1
      }
      out
    }
    val r = new scala.util.Random(0xF00D)
    for (trial <- 0 until 2; maxIter <- Seq(1, 2, 3, 5, 50)) {
      val n = 24
      // a chain spine plus random chords: guarantees depth > maxIter for
      // the small bounds, so the layer-count cut is actually exercised
      val rel = ((0L until (n - 1).toLong).map(i => (i, i + 1)) ++
        Seq.fill(30)((r.nextInt(n).toLong, r.nextInt(n).toLong))).distinct
      val seed = Seq((0L, 1L), (r.nextInt(n).toLong, r.nextInt(n).toLong)).distinct
      val relDf = rel.toDF("src", "dst")
      val crawl: DataFrame => DataFrame = ns =>
        relDf.join(ns.withColumnRenamed("v", "src"), "src")
      val got = Reconcile.frontierFixpoint(seed.toDF("src", "dst"),
          Seq(crawl), maxIter = maxIter)
        .as[(Long, Long)].collect().toSet
      val want = reference(rel, seed, maxIter)
      assert(got === want, s"trial $trial maxIter=$maxIter")
    }
  }

  test("frontierFixpoint: a closure ending on an odd layer expands an " +
      "empty frontier and still equals fixpoint") {
    import spark.implicits._
    // layer 1 finds {2, 4}, layer 2 finds {3, 5}, layer 3 finds nothing.
    // Layers run in pairs, so the round holding layer 3 also runs layer
    // 4 over layer 3's empty frontier: the empty-in/empty-out contract
    // is what keeps that layer from adding edges.
    val rel = Seq((0L, 1L), (1L, 2L), (1L, 4L), (2L, 3L), (4L, 5L))
      .toDF("src", "dst")
    val seed = Seq((0L, 1L)).toDF("src", "dst")
    val frontiers = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val crawl: DataFrame => DataFrame = ns => {
      frontiers += ns
      rel.join(ns.withColumnRenamed("v", "src"), "src")
    }
    val front = Reconcile.frontierFixpoint(seed, Seq(crawl))
    val edgeCrawl: DataFrame => DataFrame = e =>
      rel.join(e.select($"src").union(e.select($"dst")).distinct(), "src")
    val whole = ReconcileSpec.fixpoint(seed, Seq(edgeCrawl), maxIter = 50)
    assert(frontiers.size === 4, "expected two paired rounds")
    assert(frontiers.last.count() === 0L, "the last layer must expand an empty frontier")
    assert(front.as[(Long, Long)].collect().toSet ===
      whole.as[(Long, Long)].collect().toSet)
    assert(front.count() === 5L)
  }

  test("frontierFixpoint with a no-op expander terminates immediately") {
    import spark.implicits._
    val seed = Seq((1L, 2L)).toDF("src", "dst")
    val noop: DataFrame => DataFrame = ns => ns.limit(0)
      .select(col("v").as("src"), col("v").as("dst"))
    assert(Reconcile.frontierFixpoint(seed, Seq(noop)).count() === 1)
  }

  test("lux compiler rejects fields and predicates outside the catalog") {
    val c = new graft.plans.LuxCompiler(
      LuxQueries.entities(spark, TestSpark.sf),
      LuxQueries.triples(spark, TestSpark.sf))
    assertThrows[Exception](c.compile("""bogus="x""""))
    assertThrows[Exception](c.compile("""AND(etype="part", wrongRel(name="y"))"""))
    assertThrows[Exception](c.compile("""^wrongRel(etype="order")"""))
  }
}

object ReconcileSpec {

  /** The whole-set reconcile fixpoint, the reference `frontierFixpoint`
    * is checked against: each reconciler is `currentEdges => newEdges`
    * (same (src, dst) schema); the loop unions + dedupes the FULL edge
    * set and stops when the distinct count is stable. */
  def fixpoint(seed: DataFrame,
      reconcilers: Seq[DataFrame => DataFrame],
      maxIter: Int = 10): DataFrame = {
    var edges = seed.select("src", "dst").distinct().localCheckpoint()
    var n = edges.count()
    var iter = 0
    var grown = true
    while (grown && iter < maxIter) {
      var next = edges
      reconcilers.foreach { r =>
        next = next.union(r(next).select("src", "dst")).distinct()
      }
      next = next.localCheckpoint()
      val n2 = next.count()
      grown = n2 != n
      n = n2
      edges = next
      iter += 1
    }
    edges
  }
}
