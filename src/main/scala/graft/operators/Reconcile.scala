package graft.operators

import org.apache.spark.sql.DataFrame

/** J6: the reconcile fixpoint — alternate a set of edge-producing
  * reconcilers until the equivalence-edge set stops growing
  * (`pipeline/process/reconciler.py:34-125`: URI pass, name pass,
  * collector crawl repeated until `issubset`).
  *
  * `frontierFixpoint` is the engine's one fixpoint loop; edges feed
  * Graph.connectedComponents for idmap minting. Its reference is the
  * whole-set loop `ReconcileSpec.fixpoint` (test side): union every
  * reconciler's output and re-distinct until the distinct count is
  * stable — the declarative form of the reference's per-record
  * fixpoint, which ReconcileSpec checks the frontier loop against.
  */
object Reconcile {

  import org.apache.spark.sql.functions.col

  /** Frontier-driven fixpoint — same closure as the whole-set reference
    * `ReconcileSpec.fixpoint` when every expander is NODE-ANCHORED and
    * monotone: it takes a one-column (`v`) node set and returns only
    * edges whose `src` is in that set (the crawl and name-pass
    * reconcilers both have this shape). Then
    * each edge is produced exactly once — the round its anchor node
    * first appears — so per-round work is proportional to the FRONTIER
    * fan-out, not the accumulated reach: the old loop re-joined and
    * re-distincted the full edge set every round (O(rounds × total)),
    * which is the difference between a BFS and re-crawling the whole
    * graph per round at 100 TB. One scalar (new-node count) reaches
    * the driver per round; lineage is cut with localCheckpoint.
    *
    * Contract, both parts required for the closure to equal the
    * reference's (`ReconcileSpec.fixpoint`):
    *   - NODE-ANCHORED and monotone: an expander returns only edges whose
    *     `src` is in its input node set;
    *   - EMPTY IN, EMPTY OUT: an expander maps an empty node set to an
    *     empty edge set. Layers run two per driver round-trip, so the
    *     round that finds the last new nodes in its first layer still
    *     expands the (empty) frontier in its second. An expander that
    *     adds constant or seed edges regardless of its input would
    *     enlarge the closure there instead of stopping. */
  def frontierFixpoint(seed: DataFrame,
      expanders: Seq[DataFrame => DataFrame],
      maxIter: Int = 50): DataFrame = {
    val seedE = seed.select("src", "dst").distinct().localCheckpoint()
    var seen = seedE.select(col("src").as("v"))
      .union(seedE.select(col("dst").as("v"))).distinct().localCheckpoint()
    var frontier = seen
    var layers = List(seedE)
    var iter = 0
    var active = true
    // One BFS layer, built LAZILY (nothing runs until a count):
    // dst-only, not src ∪ dst: the node-anchored contract (header) puts
    // every src in the frontier ⊆ `seen`, so the anti-join would drop
    // them anyway — unioning srcs in just doubled the rows through the
    // node distinct's exchange every round (r17, guide §2.3 "shuffle
    // fewer bytes"; ReconcileSpec's whole-set-equality fuzz pins the
    // closure unchanged)
    def layer(f: DataFrame, seenSoFar: DataFrame): (DataFrame, DataFrame) = {
      val newEdges = expanders.map(_(f)).reduce(_ union _)
        .select("src", "dst").distinct().localCheckpoint(eager = false)
      val newNodes = newEdges.select(col("dst").as("v")).distinct()
        .join(seenSoFar, Seq("v"), "left_anti").localCheckpoint(eager = false)
      (newEdges, newNodes)
    }
    while (active && iter < maxIter) {
      val (e1, f1) = layer(frontier, seen)
      if (iter + 1 < maxIter) {
        // TWO layers per driver round-trip (r18, guide §1.2/§2): the
        // second expansion chains on the first layer's checkpoint, and
        // n2 is the round-pair's only driver scalar — half the per-layer
        // scalar barriers of the one-layer loop. It is not ONE job:
        // `localCheckpoint(eager = false)` still calls
        // `physicalPlan.execute()`, which under AQE runs every shuffle
        // and broadcast stage of the frame at the call, so each layer's
        // checkpoints submit their own jobs (counts: ROADMAP carried
        // item A). The frontier sequence f1, f2 is exactly the
        // one-layer loop's; an empty f1 gives an empty e2/f2 by the
        // empty-in/empty-out contract (scaladoc), so stopping on
        // n2 == 0 alone stops at the same layer set. An odd maxIter
        // falls through to the single-layer tail below, so the layer
        // COUNT bound is also unchanged.
        val seen1 = seen.union(f1) // disjoint by anti-join
        val (e2, f2) = layer(f1, seen1)
        val n2 = f2.count() // the round-pair's single driver scalar
        layers = e2 :: e1 :: layers
        // plain union, NOT a fresh checkpoint: all sides are already
        // checkpointed, so re-materializing the accumulated set would
        // rewrite O(reach) per round — O(rounds x reach) total, the
        // same disease the frontier restriction cures on the edge side.
        seen = seen1.union(f2)
        frontier = f2
        active = n2 > 0
        iter += 2
      } else {
        val n1 = f1.count()
        layers ::= e1
        seen = seen.union(f1)
        frontier = f1
        active = n1 > 0
        iter += 1
      }
    }
    layers.reduce(_ union _).distinct()
  }
}
