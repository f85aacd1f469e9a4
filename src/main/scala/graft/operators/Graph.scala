package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph algorithms as driver-controlled DataFrame loops — the
  * Spark re-expression of the reference's identity-graph machinery
  * (`pipeline/process/reference_manager.py:212-407` idmap cluster merge →
  * connected components; `pipeline/process/reference_manager.py:100-210` +
  * `run-reconcile.py:160-220` reference walk → bounded BFS, which runs on
  * Reconcile's layered-frontier loop).
  *
  * Scale notes: per-iteration state is a (node, value) table hash-partitioned
  * by node; each round is one shuffle join against the (cached) symmetric
  * edge table. Convergence is detected with a single scalar aggregate
  * (label sums are monotone), not a join. localCheckpoint truncates lineage
  * so plans stay O(1) per round.
  */
object Graph {

  /** Partition-local contraction — the map-side combine of CC: a
    * union-find pass inside each partition replaces its edge load with
    * node→local-min star edges. Same connectivity (each partition's
    * subgraph collapses to depth-1 stars), but intra-partition multi-
    * edges, triangles and chains are gone — at 100 TB this removes the
    * local edge bulk from EVERY global round, and partition subgraph
    * diameter drops to 2 before the loop starts. Genuine per-partition
    * imperative logic, hence mapPartitions. Deterministic: local rep =
    * min node id; the global fixpoint is partition-independent. */
  private[graft] def localContraction(sym: DataFrame): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    sym.select($"src".cast("long"), $"dst".cast("long")).as[(Long, Long)]
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != c) {
            val n = parent.getOrElse(c, c); parent(c) = r; c = n
          }
          r
        }
        for ((s, d) <- it) {
          parent.getOrElseUpdate(s, s); parent.getOrElseUpdate(d, d)
          val rs = find(s); val rd = find(d)
          if (rs != rd) { if (rs < rd) parent(rd) = rs else parent(rs) = rd }
        }
        parent.keys.toArray.iterator.map(k => (k, find(k)))
      }.toDF("src", "dst")
  }

  /** The symmetric edge substrate: `e` (src, dst) plus its reversed
    * edges, deduplicated and persisted (the caller owns the cache) in
    * ONE build shuffle keyed by src: hash(src) co-locates equal (src,
    * dst) rows, so dropDuplicates needs no second exchange, and every
    * src-keyed consumer (CC's neighbor-min join, pagerank's degree and
    * power iterations) reads it exchange-free (r17, guide §2.4). The
    * partition count is byte-scaled (r18): the cached layout is FROZEN,
    * so it must come from the data, not the cores-coupled
    * shuffle.partitions (Substrate header). A hub's block is ONE
    * partition at any count, but each probe of it is one linear scan
    * (unique-key join + map-side partial min); GraphSubstrateSpec pins
    * the scaling and the hub rung. */
  private[graft] def symmetric(e: DataFrame): DataFrame = {
    val raw = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
    raw.repartition(Substrate.scaledPartitions(raw), col("src"))
      .dropDuplicates("src", "dst").persist()
  }

  /** Connected components by min-label propagation with pointer-doubling
    * shortcuts over an undirected edge set. Input columns (src, dst);
    * output (node, component) where component = min node id in the
    * component. Deterministic fixpoint.
    *
    * Each round does two label-decreasing steps:
    *   1. neighbor-min: l(u) := min(l(u), min over nbrs v of l(v))
    *   2. shortcut:     l(u) := l(l(u))   (pointer doubling)
    * Step 2 is the star-contraction move (large-star/small-star in label
    * form): it collapses label chains geometrically, cutting rounds from
    * O(diameter) to O(log diameter) — the difference between 12 shuffle
    * rounds and 4 on a chain-of-12 graph, and the difference between
    * feasible and not on high-diameter identity graphs at 100 TB.
    *
    * Both steps preserve the invariant l(u) <= u and only decrease labels,
    * so the label SUM is monotone non-increasing and a scalar sum-equality
    * check detects the fixpoint exactly (an unchanged sum means both
    * sub-steps were identity, and a neighbor-min fixpoint is a correct CC
    * labeling). Skew: the hot-key groupBy(dst).min is handled by Spark's
    * partial (map-side) aggregation — a star center's million edges
    * combine to one partial min per map task before the shuffle, which is
    * exactly what explicit salting would buy (pinned by GraphSpec's
    * partial-aggregate plan check); the label-side joins are unique-key
    * and AQE skew-join splits any oversized probe partitions. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val full = edges.select($"src", $"dst")
      .union(edges.select($"dst".as("src"), $"src".as("dst")))
      .distinct()
    // iterate on the contracted star graph, not the raw edge set (every
    // node appears as a star-edge src, so the node set is preserved;
    // local roots keep a self-loop, preserving singletons)
    val star = localContraction(full)
    val sym = symmetric(star)
    var labels = sym.select($"src".as("node")).distinct()
      .withColumn("label", $"node").localCheckpoint()
    // DELTA propagation: only nodes whose label changed last round send
    // neighbor-min messages — a label minimum can only drop if some
    // neighbor dropped since it was last read, so restricting senders to
    // the changed frontier is exact (standard delta iteration). Round 1
    // everything is "changed"; on real identity graphs the frontier
    // collapses geometrically, so late rounds shuffle a sliver of |E|.
    var changed = labels
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val msgs = sym.join(changed, sym("src") === changed("node"))
        .groupBy($"dst".as("node2")).agg(min($"label").as("nbrMin"))
      val stepped = labels.join(msgs, labels("node") === msgs("node2"), "left")
        .select($"node", $"label".as("prev"),
          least($"label", coalesce($"nbrMin", $"label")).as("label"))
        // materialized: referenced twice by the shortcut self-join below
        .localCheckpoint(eager = false)
      // pointer doubling: l(u) := l(l(u)); left join because a label is
      // always itself a node (invariant), coalesce is belt-and-braces
      val next = stepped
        .join(stepped.select($"node".as("pNode"), $"label".as("pLabel")),
          stepped("label") === $"pNode", "left")
        .select($"node", $"prev", coalesce($"pLabel", $"label").as("label"))
        // lazy checkpoint: truncates lineage for reuse, but a round is
        // not ONE job — `localCheckpoint(eager = false)` still calls
        // `physicalPlan.execute()`, which under AQE runs this plan's
        // shuffle and broadcast stages at the call; only the result
        // stage waits for the aggregate below (counts: ROADMAP carried
        // item A)
        .localCheckpoint(eager = false)
      // ONE driver scalar: count of changed labels doubles as the
      // convergence test (labels only decrease, so zero changes =
      // neighbor-min fixpoint)
      val nChanged = next.agg(count(when($"label" < $"prev", 1))).head().getLong(0)
      converged = nChanged == 0L
      changed = next.filter($"label" < $"prev").select($"node", $"label")
      labels = next.select($"node", $"label")
      iter += 1
    }
    sym.unpersist()
    labels.select($"node", $"label".as("component"))
  }

  /** Bounded weighted shortest paths — Bellman-Ford as a delta iteration
    * over directed weighted edges (src, dst, w) from a seed set (node).
    * Output (node, dist): the minimum total weight over paths of at most
    * `maxHops` edges (weights non-negative longs; unreachable-within-
    * bound nodes are absent). The weighted generalization of `bfs` — the
    * reference's walk ranks by hop count only (`run-reconcile.py`
    * reference walk); cost-ranked traversal is what a relevance- or
    * confidence-weighted identity graph needs.
    *
    * Exactness of the frontier restriction: a node whose tentative
    * distance improved in round j sends messages in round j+1, and a
    * k-edge path relaxes one edge per round, so by induction after round
    * h every node holds min cost over <=h-hop paths; conversely a message
    * chain crosses one edge per round, so after maxHops rounds no path
    * longer than maxHops has contributed. Early exit when a round
    * improves nothing is exact (fixpoint).
    *
    * Scale shape: per round ONE shuffle join of the (cached) edge table
    * against the improved frontier + a map-side-combining groupBy(dst)
    * min — message volume is frontier fan-out, not |E|; state is a
    * (node, dist) table; the convergence probe shares the round's single
    * job via a lazy localCheckpoint, scalar-only driver traffic. */
  def boundedSssp(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select($"src", $"dst", $"w".cast("long").as("w")).persist()
    var dist = seeds.select($"node").distinct()
      .withColumn("dist", lit(0L)).localCheckpoint()
    var frontier = dist
    var h = 0
    var converged = false
    while (h < maxHops && !converged) {
      val msgs = e.join(frontier, e("src") === frontier("node"))
        .groupBy($"dst".as("node2")).agg(min($"dist" + $"w").as("cand"))
      // full outer: messages can reach nodes with no tentative distance yet
      val stepped = dist.join(msgs, dist("node") === msgs("node2"), "full")
        .select(coalesce($"node", $"node2").as("node"),
          $"dist".as("prev"),
          // least skips nulls, so either side may be absent
          least($"dist", $"cand").as("dist"))
        .localCheckpoint(eager = false)
      // ONE job: improvement count doubles as the convergence test
      val nImproved = stepped
        .agg(count(when($"prev".isNull || $"dist" < $"prev", 1))).head().getLong(0)
      converged = nImproved == 0L
      frontier = stepped.filter($"prev".isNull || $"dist" < $"prev")
        .select($"node", $"dist")
      dist = stepped.select($"node", $"dist")
      h += 1
    }
    e.unpersist()
    dist
  }

  /** Breadth-first search with min-distance semantics over directed edges
    * (src, dst) from a seed set (node), bounded by maxDist — the
    * reference-walk shape (dist <= 3, min-dist re-queueing). Output
    * (node, dist). Runs on the layered-frontier loop
    * (`Reconcile.frontierFixpoint`), so it stops at the first empty
    * frontier; each seed enters as its self-edge. The frontier is
    * BROADCAST: it is one layer's fan-out and checkpointed (no size
    * estimate), so Spark would otherwise sort-merge the edge bulk every
    * layer. */
  def bfs(edges: DataFrame, seeds: DataFrame, maxDist: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select($"src", $"dst").persist()
    val walk = Reconcile.frontierFixpoint.layers(
      seeds.select($"node".as("src"), $"node".as("dst")),
      Seq((f, _) => e.join(broadcast(f.withColumnRenamed("v", "src")), "src")),
      maxDist)
    e.unpersist() // every layer was materialized by the loop's counts
    walk.depths.withColumnRenamed("v", "node")
  }
}
