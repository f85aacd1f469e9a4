package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** J5: the equivalence-crawl collector WITH its garbage filters — the
  * predicates that keep the crawl from absorbing junk
  * (`pipeline/process/collector.py`):
  *
  *   - date proximity (`:17-33`): two Persons (or two Groups) whose
  *     birth/formation years differ by more than 10 never merge; same
  *     for death/dissolution. Missing years pass (the bare try/except).
  *   - type guards (`:75-90`): concept subtypes (MeasurementUnit,
  *     Currency, Language, Material) never cross-merge; a Place root
  *     never absorbs a non-Place. Note the asymmetry is faithful: a
  *     Person root CAN absorb a Place candidate — only Place roots
  *     filter by type.
  *   - containment cycle guard (`:92-106`): a candidate is rejected if
  *     its part_of/broader/member_of refs point at an already-accepted
  *     node of this crawl, or an accepted node points at it. Like the
  *     reference, the ROOT record is not in the accepted set.
  *   - prefix fanout cap (`:203-218`): when expanding a non-seed node's
  *     equivalents, a URI prefix contributed by more than 2 of them is
  *     noise and ALL its entries are dropped.
  *
  * Distribution model: the crawl runs on the engine's layered-frontier
  * loop (`Reconcile.frontierFixpoint`, as Graph.bfs does) with `seed`
  * as its key column, so every seed's crawl is one (seed, node) layer
  * set; every filter is a join predicate of the expander — root
  * attributes broadcast, candidate attributes joined by node, the
  * cycle guard a semi-join against the per-seed accepted set.
  * Documented deviation: candidates of the same layer are tested
  * against the EARLIER layers' accepted set, not against each other
  * (the reference processes its queue one URI at a time).
  */
object Collector {

  private val conceptSubtypes =
    Seq("MeasurementUnit", "Currency", "Language", "Material")

  /** The per-pair guard (root vs candidate attrs as columns). */
  private def typeDateOk(rt: org.apache.spark.sql.Column,
      rby: org.apache.spark.sql.Column, rdy: org.apache.spark.sql.Column,
      ct: org.apache.spark.sql.Column, cby: org.apache.spark.sql.Column,
      cdy: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val datesOk =
      (rby.isNull || cby.isNull || abs(rby - cby) <= 10) &&
      (rdy.isNull || cdy.isNull || abs(rdy - cdy) <= 10)
    val sameKindDates =
      when((rt === "Person" && ct === "Person") ||
           (rt === "Group" && ct === "Group"), datesOk).otherwise(lit(true))
    val conceptOk = !(rt.isin(conceptSubtypes: _*) &&
      ct.isin(conceptSubtypes: _*) && rt =!= ct)
    val placeOk = !(rt === "Place" && ct =!= "Place")
    sameKindDates && conceptOk && placeOk
  }

  /** Crawl from `seeds` over `edges` (src, dst), filtered.
    *
    * `nodes`: (node, rtype, byear, dyear, refs array<long>) — byear/dyear
    * are the begin years of born/formed and died/dissolved; refs the
    * containment assertions. `prefixOf` maps a dst column to its
    * URI-prefix analog for the fanout cap. Output (seed, node, dist);
    * dist 0 is the seed itself. Candidates without a `nodes` row are
    * unresolvable and dropped (the acquirer-miss path). */
  def collect(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
      maxDist: Int,
      prefixOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    val attrs = nodes.select($"node", $"rtype", $"byear", $"dyear", $"refs")
      .persist()
    // fanout cap: per (src, prefix) counts, computed once; `capped`
    // marks the edges of a prefix with > 2 entries, which every
    // NON-seed expansion drops (the reference caps xrec equivalents
    // only, collector.py:203-218)
    val e = {
      val withPfx = edges.select($"src", $"dst").withColumn("pfx", prefixOf($"dst"))
      val hot = withPfx.groupBy($"src", $"pfx").agg(count(lit(1)).as("n"))
        .filter($"n" > 2)
      withPfx.join(hot, Seq("src", "pfx"), "left")
        .select($"src", $"dst", $"n".isNotNull.as("capped")).persist()
    }
    val rootAttrs = seeds.select($"node".as("seed"))
      .join(attrs, $"node" === $"seed")
      .select($"seed", $"rtype".as("r_rtype"), $"byear".as("r_byear"),
        $"dyear".as("r_dyear"))
    val candAttrs = attrs.select($"node".as("dst"), $"rtype".as("c_rtype"),
      $"byear".as("c_byear"), $"dyear".as("c_dyear"), $"refs".as("c_refs"))

    // the guard chain as the loop's expander over (seed, v) rows. The
    // seed's own row (v = seed, exactly the depth-0 rows) expands
    // uncapped; the frontier is broadcast (one layer's fan-out).
    val guarded: Reconcile.Expander = (f, seen) => {
      val cand = e.join(broadcast(f), $"src" === $"v")
        .filter(!$"capped" || $"v" === $"seed")
        // type/date guard: root attrs (broadcast) vs candidate attrs
        .join(broadcast(rootAttrs), "seed")
        .join(candAttrs, "dst")
        .filter(typeDateOk($"r_rtype", $"r_byear", $"r_dyear",
          $"c_rtype", $"c_byear", $"c_dyear"))
        .select($"seed", $"src", $"dst", $"c_refs")
      // cycle guard vs the per-seed ACCEPTED set: seen minus the roots
      val accepted = seen.filter($"v" =!= $"seed")
        .select($"seed".as("a_seed"), $"v".as("a_node"))
      val viol1 = cand.select($"seed", $"dst", explode($"c_refs").as("ref"))
        .join(accepted, $"seed" === $"a_seed" && $"ref" === $"a_node", "left_semi")
        .select($"seed", $"dst")
      val accRefs = accepted
        .join(attrs.select($"node".as("a_node"), $"refs"), "a_node")
        .select($"a_seed", explode($"refs").as("a_ref"))
      val viol2 = cand
        .join(accRefs, $"seed" === $"a_seed" && $"dst" === $"a_ref", "left_semi")
        .select($"seed", $"dst")
      cand.join(viol1.union(viol2).distinct(), Seq("seed", "dst"), "left_anti")
        .select($"seed", $"src", $"dst")
    }
    val crawl = Reconcile.frontierFixpoint.layers(
      seeds.select($"node".as("seed"), $"node".as("src"), $"node".as("dst")),
      Seq(guarded), maxDist)
    attrs.unpersist(); e.unpersist() // every layer was materialized by the loop's counts
    crawl.depths.withColumnRenamed("v", "node")
  }
}
