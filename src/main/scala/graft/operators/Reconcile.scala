package graft.operators

import org.apache.spark.sql.DataFrame

/** The engine's one layered-frontier loop (`frontierFixpoint`): start
  * at seeds, expand one layer at a time, keep each node's least depth.
  * J6, the reconcile fixpoint (`pipeline/process/reconciler.py:34-125`:
  * URI pass, name pass, collector crawl repeated until `issubset`), and
  * the build chain read its closure edges, which feed
  * Graph.connectedComponents for idmap minting; `Graph.bfs` (the
  * reference walk, `post-build-portal.py:27-44`) and `Collector.collect`
  * (`collector.py`) read its per-layer node sets. The contract:
  *   - NODE-ANCHORED and monotone: an expander returns only edges whose
  *     `src` is in its frontier;
  *   - EMPTY IN, EMPTY OUT: an empty frontier expands to no edges;
  *   - KEY COLUMNS: every seed column but `src` and `dst` is a key that
  *     frontier, seen and edge rows carry next to the node `v` (none for
  *     j6 and bfs, `seed` for the collector);
  *   - LAYER BOUND: at most `maxIter` layers are expanded;
  *   - LEAST DEPTH: a node (per key) enters only the first layer that
  *     reaches it.
  * Its reference is the whole-set loop `ReconcileSpec.fixpoint` (test
  * side): union every reconciler's output and re-distinct until the
  * distinct count is stable.
  */
object Reconcile {

  import org.apache.spark.sql.functions.{col, lit}

  /** `(frontier, seen) => edges`: the frontier and the nodes seen so
    * far (frontier included) are (keys…, v); the edges (keys…, src,
    * dst) with every `src` in the frontier. */
  type Expander = (DataFrame, DataFrame) => DataFrame

  /** What the loop reached, one entry per layer: layer 0 is the seed's
    * edges and node set, layer d ≥ 1 the edges expanded from layer
    * d - 1 and the nodes they reached first. Node layers are disjoint. */
  final case class Layers(edges: Seq[DataFrame], nodes: Seq[DataFrame]) {
    /** Every edge of every layer, once. */
    def closure: DataFrame = edges.reverse.reduce(_ union _).distinct()
    /** Every reached (keys…, v) row with its least depth `dist`. */
    def depths: DataFrame = nodes.zipWithIndex
      .map { case (n, d) => n.withColumn("dist", lit(d)) }.reduce(_ union _)
  }

  /** Frontier-driven fixpoint: each edge is produced once, in the layer
    * its anchor node first appears, so per-layer work is proportional to
    * the FRONTIER fan-out, not the accumulated reach (the whole-set loop
    * re-joins the full edge set every round, O(rounds × total) — a BFS
    * against re-crawling the whole graph per round at 100 TB). One
    * scalar (the new-node count) reaches the driver per two layers;
    * lineage is cut with localCheckpoint. `seed` is (keys…, src, dst)
    * and its nodes are layer 0; a root without a seed edge enters as its
    * self-edge (n, n). The closure needs EMPTY IN, EMPTY OUT: the round
    * whose first layer finds the last new nodes still expands the empty
    * frontier in its second, where an expander adding constant edges
    * would enlarge the closure instead of stopping. `apply` is J6's
    * form: node-only expanders, the closure edges. */
  object frontierFixpoint {
    def apply(seed: DataFrame, expanders: Seq[DataFrame => DataFrame],
        maxIter: Int = 50): DataFrame =
      layers(seed, expanders.map(x => (f: DataFrame, _: DataFrame) => x(f)),
        maxIter).closure

    def layers(seed: DataFrame, expanders: Seq[Expander], maxIter: Int): Layers = {
      val keys = seed.columns.toSeq.filterNot(Set("src", "dst")).map(col)
      val edgeCols = keys :+ col("src") :+ col("dst")
      val seedE = seed.select(edgeCols: _*).distinct().localCheckpoint()
      var seen = seedE.select(keys :+ col("src").as("v"): _*)
        .union(seedE.select(keys :+ col("dst").as("v"): _*)).distinct().localCheckpoint()
      var frontier = seen
      var edges = Vector(seedE)
      var nodes = Vector(seen)
      var iter = 0
      var active = true
      // One BFS layer, built LAZILY (nothing runs until a count):
      // dst-only, not src ∪ dst: the node-anchored contract puts every
      // src in the frontier ⊆ `seen`, so the anti-join would drop them
      // anyway — unioning srcs in just doubled the rows through the node
      // distinct's exchange every round (r17, guide §2.3 "shuffle fewer
      // bytes"; ReconcileSpec's whole-set-equality fuzz pins the closure
      // unchanged). The anti-join runs on the frontier's own columns.
      def advance(): Unit = {
        val e = expanders.map(_(frontier, seen)).reduce(_ union _)
          .select(edgeCols: _*).distinct().localCheckpoint(eager = false)
        val f = e.select(keys :+ col("dst").as("v"): _*).distinct()
          .join(seen, frontier.columns.toSeq, "left_anti").localCheckpoint(eager = false)
        // plain union, NOT a fresh checkpoint: all sides are already
        // checkpointed, so re-materializing the accumulated set would
        // rewrite O(reach) per layer — O(rounds x reach) total, the
        // same disease the frontier restriction cures on the edge side.
        seen = seen.union(f) // disjoint by anti-join
        edges :+= e
        nodes :+= f
        frontier = f
        iter += 1
      }
      while (active && iter < maxIter) {
        advance()
        // TWO layers per driver round-trip (r18, guide §1.2/§2): the
        // count is the round-pair's only driver scalar. It is not ONE
        // job: `localCheckpoint(eager = false)` still calls
        // `physicalPlan.execute()`, which under AQE runs every shuffle
        // and broadcast stage at the call (counts: ROADMAP carried item
        // A). An empty first frontier gives an empty second (empty in,
        // empty out), so stopping on the second count stops at the
        // one-layer loop's layer set, and the bound stays maxIter layers.
        if (iter < maxIter) advance()
        active = frontier.count() > 0
      }
      Layers(edges, nodes)
    }
  }
}
