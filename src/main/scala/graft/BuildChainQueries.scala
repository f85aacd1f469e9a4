package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed Linked-Art build chain — the reference's actual product:
  * one lineage from mapped records through reconcile fixpoint → idmap
  * connected components → reidentify → ordered merge fold → final clean →
  * N-Triples export, oracle-replayed end-to-end in DuckDB.
  *
  * Stage map (reference lifecycle):
  *   1. map          — entity + relationship substrate (`run-reconcile.py:109-148`:
  *                     acquire/map producing records + their references)
  *   2. reconcile    — `operators.Reconcile.frontierFixpoint` (reconciler.py:34-125):
  *                     the collector crawl + name pass expanded from the
  *                     frontier until no new node appears
  *   3. idmap CC     — `operators.Graph.connectedComponents` over the
  *                     equivalence subset (reference_manager.py:212-407)
  *   4. reidentify   — left join + coalesce fallback (`run-merge.py:105-140`:
  *                     reider.reidentify with do-not-reidentify passthrough)
  *   5. merge fold   — `operators.LaMerge.mergeCluster`, merge_order-sorted
  *                     per cluster (`run-merge.py:141-155`, merger.py:962-1024)
  *   6. clean        — `operators.Cleaner.clean` (final/mapper.py:778-908)
  *   7. export       — N-Triples lines (`run-export.py:45-69`, K2 shape)
  *
  * Scale shape: every per-round driver interaction in stages 2-3 is ONE
  * scalar (new-node count / changed-label count); the merge fold is a single
  * groupByKey(yuid) shuffle with clusters folding independently; the
  * export is map-only explode+concat. The idmap join in stage 4 is a
  * key-equi join against a table bounded by the reconciled entity count —
  * broadcast-able when the build slice is small, shuffle-hash otherwise.
  * Nothing in the chain collects data to the driver.
  *
  * Fixture semantics (deterministic, oracle-replayable):
  *   - entities are typed star-schema nodes (cust 8k, order 8k+1,
  *     part 8k+2, supp 8k+3, nation 8k+4 — structurally disjoint at any
  *     scale factor, value-compact for the sort/agg paths); the build is seeded with
  *     customers 1-5 and their orders, and the crawl walks
  *     orders → parts → suppliers → nations exactly like j6;
  *   - the name pass emits part→min-partkey twin edges per lower(p_name)
  *     (the K4 name index), so the fixpoint GROWS across rounds: a twin
  *     pulled in by the name pass contributes its suppliers next round;
  *   - clusters merge as HumanMadeObject records from sources
  *     ycba/viaf/wikidata by pk%3 (merge order = source priority, pk) —
  *     the J10 protected-type × noisy-source veto fires for every
  *     wikidata candidate, visible in the exported identifier set;
  *   - the Cleaner's primary-name election, metatype injection
  *     (eq0→mt1, eq1→mt2+mt3) and open-ended-timespan defaults all
  *     surface as exported triples.
  */
object BuildChainQueries extends QueryGroup {
  import operators.LaMerge
  import operators.LaMerge.{LaName, LaRecord, LaTimespan}

  /** Cleaned merged-cluster row carried from the fold into the export. */
  final case class ChainMerged(yuid: Long, primary_name: String,
      idents: Seq[String], eqs: Seq[String], cls: Seq[String], ts: String)

  /** The reference-rewrite GATHER — the run-merge.py:105-168 analog:
    * every reference (lineitem's part→supplier pairs here) rewritten
    * through the idmap-derived members table — executed through
    * [[operators.JoinPlanner.planJoin]] (round-14 verdict item 2:
    * j16b proved the CMS-driven decision in isolation; this adopts it
    * in the heaviest real join the build chain owns). The STAGED
    * planner sketches the bounded members side first (one map-side
    * pass over a table persisted upstream) and takes the broadcast
    * exit without scanning the probe — on every fixture scale the
    * build's reach-bounded members side fits the budget, so the
    * audited plan pins BroadcastHashJoin, the gather probe is never
    * shuffled, and the estimate overhead is one tiny pass (an eager
    * both-sides sketch cost ~2× on the bench key — the staged shape
    * exists because of that measurement). If a 100-TB build slice ever
    * outgrew the budget, the same call sketches the probe and degrades
    * to shuffle-hash (or salts a hot reference key) without a code
    * change — GatherPlanSpec pins all three shapes on uniform and
    * skewed inputs. Both inputs carry the join key as `k`. */
  private[graft] def gatherRefs(refs: DataFrame, members: DataFrame,
      cfg: operators.JoinPlanner.Config = operators.JoinPlanner.Config())
      : DataFrame =
    operators.JoinPlanner.planJoinStaged(refs, members, cfg)._1


  def laBuildPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.load(spark, dir, "orders")
    val li = Tables.load(spark, dir, "lineitem")
    val cust = Tables.load(spark, dir, "customer")
    val supp = Tables.load(spark, dir, "supplier")
    val part = Tables.load(spark, dir, "part")

    // ── stage 1: map — typed entity refs as a relationship edge table
    val rel = orders.select(($"o_custkey" * 8L).as("src"),
        ($"o_orderkey" * 8L + 1L).as("dst"))
      .union(li.select(($"l_orderkey" * 8L + 1L).as("src"), ($"l_partkey" * 8L + 2L).as("dst")))
      .union(li.select(($"l_partkey" * 8L + 2L).as("src"), ($"l_suppkey" * 8L + 3L).as("dst")))
      .union(cust.select(($"c_custkey" * 8L).as("src"), ($"c_nationkey" * 8L + 4L).as("dst")))
      .union(supp.select(($"s_suppkey" * 8L + 3L).as("src"), ($"s_nationkey" * 8L + 4L).as("dst")))
      // NO distinct: the fixpoint dedups each round's newEdges itself,
      // so pre-distincting the substrate costs two full 6M-row shuffles
      // (sf1) for nothing — the raw union persists map-only. Probed
      // once per fixpoint round: without the persist every round
      // re-scans the parquet inputs (the single biggest cost in the
      // chain — O(rounds × |rel|)).
      .persist()
    // the K4 name index as equivalence edges: part → min partkey per
    // name — groupBy-min + join, NOT min-over-partition: a boilerplate
    // name is a hot partition that sorts under a window, while the
    // aggregate combines map-side (the same shape the incremental
    // sibling below uses at :276-278)
    val nameIdx = part.groupBy(lower($"p_name").as("nm"))
      .agg(min($"p_partkey").cast("long").as("m"))
    val twin = part
      .select($"p_partkey".cast("long").as("pk"), lower($"p_name").as("nm"))
      .join(nameIdx, "nm")
      .filter($"pk" =!= $"m")
      .select(($"pk" * 8L + 2L).as("src"), ($"m" * 8L + 2L).as("dst"))
      .persist() // same: probed once per round by the name pass
    val seed = orders.filter($"o_custkey" <= 5)
      .select(($"o_custkey" * 8L).as("src"), ($"o_orderkey" * 8L + 1L).as("dst"))

    // ── stage 2: reconcile fixpoint (J6 operator, scalar-per-round);
    // both expanders are node-anchored (src ∈ input nodes), the
    // frontierFixpoint contract — per-round cost ∝ frontier fan-out
    def nodesOf(e: DataFrame) =
      e.select($"src".as("v")).union(e.select($"dst".as("v"))).distinct()
    // the frontier is BROADCAST: bounded by one round's fan-out, and
    // checkpointed (no size estimate), so Spark would otherwise
    // sort-merge — shuffling the full substrate every round
    val crawl = (ns: DataFrame) =>
      rel.join(broadcast(ns.withColumnRenamed("v", "src")), "src")
    val namePass = (ns: DataFrame) =>
      twin.join(broadcast(ns.withColumnRenamed("v", "src")), "src")
    val edges = operators.Reconcile.frontierFixpoint(seed, Seq(crawl, namePass))
      .persist() // read three ways: eqEdges (CC), reached, final layers
    // the fixpoint's per-round counts materialized every layer's
    // localCheckpoint, so the loop inputs are dead the moment it
    // returns — release them instead of pinning fresh copies per
    // invocation in a long-lived session (the round-9 bench
    // eviction-pressure failure mode)
    rel.unpersist()
    twin.unpersist()

    // ── stage 3: idmap CC (J7 operator) over the equivalence subset
    val eqEdges = edges.filter($"src" % 8 === 2 && $"dst" % 8 === 2)
    val idmap = operators.Graph.connectedComponents(eqEdges)

    // ── stage 4: reidentify (J8: left join + do-not-reidentify coalesce)
    val reached = nodesOf(edges).filter($"v" % 8 === 2)
      .select(shiftright($"v" - 2L, 3).as("pk"))
    val members = part.select($"p_partkey".cast("long").as("pk"), $"p_name")
      .join(reached, "pk")
      .join(idmap.select($"node", $"component"), $"pk" * 8L + 2L === $"node", "left")
      .select($"pk", $"p_name",
        shiftright(coalesce($"component", $"pk" * 8L + 2L) - 2L, 3).as("yuid"))
      .persist() // read twice: merge input + relationship rewrite
    val suppliedBy = gatherRefs(
      li.select($"l_partkey".cast("long").as("k"), $"l_suppkey".cast("long").as("sk")),
      members.select($"pk".as("k"), $"yuid"))
      .select($"yuid", $"sk").distinct()

    // ── stages 5+6: merge_order-sorted fold (LaMerge) + Cleaner per cluster
    val metatypes = Map("eq0" -> Seq("mt1"), "eq1" -> Seq("mt2", "mt3"))
    val cfg = LaMerge.MergeConfig(internalSources = Set("ycba"))
    val sources = Vector("ycba", "viaf", "wikidata")
    val merged = members
      .select($"yuid", ($"pk" % 3).cast("int").as("ord"), $"pk", $"p_name")
      .as[(Long, Int, Long, String)]
      .groupByKey(_._1)
      .mapGroups { (y, it) =>
        val recs = it.toSeq.sortBy(r => (r._2, r._3)).map { case (_, ord, pk, pname) =>
          val content = ord match {
            case 0 => pname
            case 1 => pname.toUpperCase(java.util.Locale.ROOT)
            case _ => pname + " (wd)"
          }
          val year = 1900 + (pk % 80)
          LaRecord(s"p$pk", "HumanMadeObject", pname, sources(ord)).copy(
            identifiedBy = Seq(
              LaName("Name", content,
                if (ord == 0) Seq(LaMerge.primaryNameId) else Nil, Nil),
              LaName("Identifier", s"p$pk", Nil, Nil)),
            classifiedAs = Seq(s"cls${pk % 5}"),
            equivalent = Seq(s"eq${pk % 4}"),
            timespan = Some(LaTimespan(s"$year-01-01T00:00:00", null, false)))
        }
        val m = LaMerge.mergeCluster(recs, cfg).get
        val c = operators.Cleaner.clean(m.record, metatypes).get
        ChainMerged(y,
          c.identifiedBy.find(n => n.ntype == "Name" &&
            n.classifiedAs.contains(LaMerge.primaryNameId)).map(_.content).orNull,
          c.identifiedBy.filter(_.ntype == "Identifier").map(_.content),
          c.equivalent, c.classifiedAs,
          c.timespan.map(t => s"${t.begin}/${t.end}").orNull)
      }

    // ── stage 7: N-Triples export (K2 line shape, map-only)
    // literal replace, not regexp_replace (see ExportQueries.ntTriples —
    // identical move, identical output)
    val esc = (s: Column) =>
      replace(replace(s, lit("\\"), lit("\\\\")), lit("\""), lit("\\\""))
    val uri = (y: Column) => concat(lit("<urn:graft:y"), y, lit(">"))
    val md = merged.toDF().persist() // fanned out into 6 line projections
    val lines = Seq(
      md.select(concat(uri($"yuid"),
        lit(" <urn:graft:type> <urn:graft:HumanMadeObject> .")).as("line")),
      md.select(concat(uri($"yuid"), lit(" <urn:graft:name> \""),
        esc($"primary_name"), lit("\" .")).as("line")),
      md.select($"yuid", explode($"idents").as("i"))
        .select(concat(uri($"yuid"), lit(" <urn:graft:identifier> \""),
          $"i", lit("\" .")).as("line")),
      md.select($"yuid", explode($"eqs").as("e"))
        .select(concat(uri($"yuid"), lit(" <urn:graft:equivalent> <urn:graft:"),
          $"e", lit("> .")).as("line")),
      md.select($"yuid", explode($"cls").as("c"))
        .select(concat(uri($"yuid"), lit(" <urn:graft:classifiedAs> <urn:graft:"),
          $"c", lit("> .")).as("line")),
      md.select(concat(uri($"yuid"), lit(" <urn:graft:timespan> \""),
        $"ts", lit("\" .")).as("line")),
      suppliedBy.select(concat(uri($"yuid"),
        lit(" <urn:graft:suppliedBy> <urn:graft:s"), $"sk", lit("> .")).as("line")))
    lines.reduce(_ union _)
  }

  /** The chain replayed in DuckDB: recursive-CTE fixpoint reachability
    * (crawl + name pass share one edge relation, exactly the j6 oracle
    * technique), cluster = min-partkey name group (the CC star), base =
    * first member by (source priority, pk), the wikidata veto as the
    * mrg membership predicate, and the Cleaner's election/injection/
    * timespan rules as CASE logic. */
  private val laBuildPipelineOracle: String =
    """WITH RECURSIVE
      |pm AS (SELECT p_partkey AS pk, p_name,
      |  MIN(p_partkey) OVER (PARTITION BY lower(p_name)) AS m FROM part),
      |g(src, dst) AS (
      |  SELECT 8 * o_custkey, 8 * o_orderkey + 1 FROM orders
      |  UNION SELECT 8 * l_orderkey + 1, 8 * l_partkey + 2 FROM lineitem
      |  UNION SELECT 8 * l_partkey + 2, 8 * l_suppkey + 3 FROM lineitem
      |  UNION SELECT 8 * c_custkey, 8 * c_nationkey + 4 FROM customer
      |  UNION SELECT 8 * s_suppkey + 3, 8 * s_nationkey + 4 FROM supplier
      |  UNION SELECT 8 * pk + 2, 8 * m + 2 FROM pm WHERE pk <> m),
      |seed(src, dst) AS (
      |  SELECT 8 * o_custkey, 8 * o_orderkey + 1 FROM orders WHERE o_custkey <= 5),
      |nodes(v) AS (
      |  SELECT src FROM seed UNION SELECT dst FROM seed
      |  UNION SELECT g.dst FROM g JOIN nodes ON g.src = nodes.v),
      |mem AS (SELECT pm.pk, pm.p_name, pm.m, pm.pk % 3 AS ord FROM pm
      |  WHERE 8 * pm.pk + 2 IN (SELECT v FROM nodes)),
      |base AS (SELECT m, pk AS bpk, ord AS bord, p_name AS bname FROM (
      |  SELECT mem.*, ROW_NUMBER() OVER (PARTITION BY m ORDER BY ord, pk) AS rn
      |  FROM mem) WHERE rn = 1),
      |mrg AS (SELECT mem.pk, mem.m, mem.ord FROM mem JOIN base ON mem.m = base.m
      |  WHERE (base.bord < 2 AND mem.ord < 2)
      |     OR (base.bord = 2 AND mem.pk = base.bpk)),
      |prim AS (SELECT m,
      |  CASE WHEN bord = 0 THEN bname
      |       WHEN bord = 1 THEN upper(bname)
      |       ELSE bname || ' (wd)' END AS pname,
      |  CAST(1900 + bpk % 80 AS VARCHAR)
      |    || '-01-01T00:00:00/9999-12-31T23:59:59' AS ts
      |  FROM base)
      |SELECT '<urn:graft:y' || m || '> <urn:graft:type> <urn:graft:HumanMadeObject> .' AS line FROM base
      |UNION ALL SELECT '<urn:graft:y' || m || '> <urn:graft:name> "'
      |  || replace(replace(pname, '\', '\\'), '"', '\"') || '" .' FROM prim
      |UNION ALL SELECT '<urn:graft:y' || m || '> <urn:graft:identifier> "p' || pk || '" .' FROM mrg
      |UNION ALL SELECT DISTINCT '<urn:graft:y' || m
      |  || '> <urn:graft:equivalent> <urn:graft:eq' || (pk % 4) || '> .' FROM mrg
      |UNION ALL SELECT DISTINCT '<urn:graft:y' || m
      |  || '> <urn:graft:classifiedAs> <urn:graft:cls' || (pk % 5) || '> .' FROM mrg
      |UNION ALL SELECT DISTINCT '<urn:graft:y' || m
      |  || '> <urn:graft:classifiedAs> <urn:graft:mt1> .' FROM mrg WHERE pk % 4 = 0
      |UNION ALL SELECT DISTINCT '<urn:graft:y' || m
      |  || '> <urn:graft:classifiedAs> <urn:graft:mt2> .' FROM mrg WHERE pk % 4 = 1
      |UNION ALL SELECT DISTINCT '<urn:graft:y' || m
      |  || '> <urn:graft:classifiedAs> <urn:graft:mt3> .' FROM mrg WHERE pk % 4 = 1
      |UNION ALL SELECT '<urn:graft:y' || m || '> <urn:graft:timespan> "' || ts || '" .' FROM prim
      |UNION ALL SELECT DISTINCT '<urn:graft:y' || mem.m
      |  || '> <urn:graft:suppliedBy> <urn:graft:s' || l_suppkey || '> .'
      |  FROM mem JOIN lineitem ON l_partkey = mem.pk""".stripMargin

  /** The incremental daily update — the run-update lifecycle as ONE
    * oracle-checked query whose correctness claim is the parity proof:
    * the Spark side runs the INCREMENTAL path (delta probes yesterday's
    * name index, only touched components re-cluster and re-fold,
    * untouched cluster outputs carry forward verbatim), while the DuckDB
    * oracle replays a FULL rebuild over base ∪ delta — a hash match
    * proves incremental ≡ full, the same contract g7 pins for CC alone,
    * extended here through the merge fold and export rollup.
    *
    * Fixture: day-0 corpus = parts with pk % 10 ≠ 0, the daily delta =
    * pk % 10 = 0. Equivalence = the K4 name index (min-pk star per
    * lowercased name, `index_loader.py:141-148`), the same edge feed the
    * full chain uses.
    *
    * Scale shape (cost ∝ delta, never ∝ corpus):
    *   - the delta probes the persisted name index with one equi-join
    *     (broadcast-able: a day's harvest is small);
    *   - touched component labels broadcast back to semi-filter
    *     yesterday's members — the corpus table is scanned, never
    *     shuffled, and only touched rows continue;
    *   - re-CC and re-fold run on touched ∪ delta only;
    *   - carried output is an anti-join on the (tiny) touched-label set.
    * Day-0 index/labels/folds are memoized per (session, dir) as a
    * persisted substrate (see day0State); in production they are
    * yesterday's persisted tables (the g7 pattern), so neither the
    * query nor its bench number pays the day-0 rebuild per invocation.
    */
  private def incFold(lab: DataFrame): DataFrame = {
    import lab.sparkSession.implicits._
    lab.groupBy($"yuid").agg(count(lit(1)).as("n_members"),
      concat_ws(",", transform(array_sort(collect_list($"pk")),
        p => concat(lit("p"), p))).as("idents_csv"))
  }

  /** Day-0 state — yesterday's name index, idmap labels, and merged
    * fold — a [[Fixtures.persisted]] substrate per (session, dir), like
    * LuxQueries.substrate: in production these ARE persisted tables from
    * yesterday's run, so the incremental query (and its bench number)
    * must not pay their rebuild on every invocation. */
  private[graft] def day0State(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val Seq(idx, lab, out) = Fixtures.persisted(spark, "day0", dir) {
      val base = Tables.load(spark, dir, "part")
        .select($"p_partkey".cast("long").as("pk"), incKey.as("nm"))
        .filter($"pk" % 10 =!= 0)
      val baseIdx = base.groupBy($"nm").agg(min($"pk").as("m"))
      // with a SINGLE blocking key every component is a star around the
      // per-key min, so the cluster label IS the index value — running
      // general CC here would recompute the groupBy-min with an
      // iterative loop (multi-pass equivalence, where CC is genuinely
      // needed, is exercised by g7/j6/la_build_pipeline)
      val baseLab = base.join(baseIdx, "nm")
        .select($"pk", $"nm", $"m".as("yuid"))
      Seq(baseIdx, baseLab, incFold(baseLab))
    }
    (idx, lab, out)
  }

  /** The incremental fixture's index key: lowercased name PLUS a hash
    * bucket. TPC-H p_name has only 64 distinct values, so a name-only
    * key makes every daily delta touch EVERY group — "incremental"
    * silently degenerates to a full rebuild (a real name index is
    * nearly unique per entity). The composite key gives the fixture a
    * realistic group cardinality so touched-set cost is genuinely
    * ∝ delta. */
  private val incKey: Column =
    concat(lower(col("p_name")), lit("#"),
      (col("p_partkey") % 397).cast("string"))

  /** The delta-driven incremental reconcile+merge body shared by
    * la_incremental_update (delta = a plain corpus slice) and
    * la_daily_run (delta = the day's AS harvest): delta probes
    * yesterday's name index, only touched components re-cluster and
    * re-fold, untouched cluster outputs carry forward verbatim. Cost ∝
    * delta, never ∝ corpus — see laIncrementalUpdate's scale notes. */
  private def incrementalMerge(spark: SparkSession, dir: String,
      delta: DataFrame): DataFrame = {
    import spark.implicits._
    val (baseIdx, baseLab, day0Out) = day0State(spark, dir)

    // ── the update: delta probes the index; only touched components move
    val probe = delta.join(baseIdx, Seq("nm"), "left")
    // new-name deltas (m IS NULL) skip the touch set and cluster among
    // themselves inside `touched` below
    val touchedLabels = probe.filter($"m".isNotNull).select($"m".as("pk"))
      .join(baseLab.select($"pk", $"yuid"), Seq("pk")).select($"yuid").distinct()
    val touchedMembers = baseLab.join(broadcast(touchedLabels), Seq("yuid"), "left_semi")
    val touched = touchedMembers.select($"pk", $"nm")
      .union(delta.select($"pk", $"nm"))
    // re-cluster = re-derive the index over touched ∪ delta: the star
    // components' labels are exactly the per-key minimum (see the
    // day0State note — general CC would recompute this with a loop)
    val reIdx = touched.groupBy($"nm").agg(min($"pk").as("m"))
    val touchedLab = touched.join(reIdx, "nm")
      .select($"pk", $"m".as("yuid"))
    val recomputed = incFold(touchedLab)
    val carried = day0Out.join(broadcast(touchedLabels), Seq("yuid"), "left_anti")
    carried.union(recomputed)
  }

  def laIncrementalUpdate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val delta = Tables.load(spark, dir, "part")
      .select($"p_partkey".cast("long").as("pk"), incKey.as("nm"))
      .filter($"pk" % 10 === 0)
    incrementalMerge(spark, dir, delta)
  }
  /** Full rebuild over base ∪ delta: name groups keyed by min pk. The
    * Spark side never computes this directly — equality is the
    * incremental path's parity proof. */
  private val laIncrementalUpdateOracle: String =
    """WITH g AS (
      |  SELECT p_partkey AS pk,
      |    MIN(p_partkey) OVER (
      |      PARTITION BY lower(p_name) || '#' || (p_partkey % 397)) AS yuid
      |  FROM part)
      |SELECT yuid, CAST(COUNT(*) AS BIGINT) AS n_members,
      |  string_agg('p' || pk, ',' ORDER BY pk) AS idents_csv
      |FROM g GROUP BY yuid""".stripMargin

  // ──────────────────────────────────────────────────────────────────
  // la_daily_run — the WHOLE daily production lifecycle as one lineage
  // (`run-all.sh:32-56`: harvest → acquire/map → reconcile/merge →
  // export → publish), the only reference behavior the per-stage
  // queries prove separately but never demonstrated composed:
  //   1. HARVEST: the S6 AS walk (AsStream.crawl — newest-first page
  //      walk, change-type normalization, newest-occurrence dedup,
  //      delete shadowing, last_harvest stream stop);
  //   2. ACQUIRE/MAP: harvested non-delete idents semi-join the source
  //      table (the S9 cache-through acquirer shape — a phantom
  //      announcement acquires nothing) and map to (pk, name-key);
  //   3. RECONCILE+MERGE: the la_incremental_update body — cost ∝
  //      delta, untouched clusters carry forward verbatim;
  //   4. PUBLISH: the day's full table state written as data files and
  //      committed through TableCommit (S23) — the VERSION ADVANCE IS
  //      THE COMMIT, exactly once per run (v_advance pins it), and the
  //      query's own output is read back FROM the published manifest,
  //      so a hash match certifies what a downstream reader of the
  //      committed table actually sees.
  // The oracle replays a FULL rebuild over base ∪ admitted-delta (the
  // u1 proof pattern): harvest semantics reduce to closed-form
  // predicates because the feed's endTimes are monotone in pk —
  // admitted = pk%10=0 ∧ pk>40 (last_harvest cut) ∧ pk%40≠0 (the
  // same-day delete shadows its earlier update).
  //
  // Scale: the feed walk is sequential driver I/O (link-following, as
  // in the reference); everything after is the incremental path's
  // delta-shaped plan. The publish writes only the day's table state
  // and one tiny manifest — at 100 TB the commit is a conditional
  // metadata put, never a data shuffle.
  // ──────────────────────────────────────────────────────────────────

  private def listParquet(p: String): Seq[String] =
    Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).toSeq.sorted

  /** Published-table dir, one per (session, sf-dir): day-0 output
    * committed as v1 exactly once; each la_daily_run invocation then
    * advances the version by one. */
  private def dailyTable(spark: SparkSession, dir: String,
      day0Out: DataFrame): String =
    Fixtures.once(spark, "daily_table", dir) {
      val table = Fixtures.tempDir("graft_daily_").getPath
      val p = s"$table/data/day0"
      day0Out.write.mode("overwrite").parquet(p)
      val (m1, _) = sources.TableCommit.commit(table)(_ => listParquet(p))
      require(m1.version == 1L, s"day-0 publish must be v1, got ${m1.version}")
      table
    }

  /** ONE-VERSION READ WINDOW (round-13 advice, documented contract):
    * the returned DataFrame is a LAZY read over the files this run just
    * published, and each invocation prunes run dirs superseded more
    * than one version ago. A caller may therefore hold the result
    * across AT MOST ONE subsequent invocation on the same (session,
    * dir); holding it across two or more gets FileNotFoundException at
    * action time, because the third run compacts the first run's files
    * away. This is the standard snapshot-retention contract of every
    * versioned table format (a reader pinned to an expired snapshot
    * fails on vacuum); an embedding that needs longer-lived results
    * should materialize them (collect / write-out / localCheckpoint)
    * before the next run, or raise the retention by keeping more
    * versions in `keep` below. The sequential harness consumes each
    * result before the next invocation, so the window never bites
    * there. */
  def laDailyRun(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import sources.AsStream

    // ── stage 1: harvest. The feed announces one change per delta part
    // (pk%10=0, endTime monotone in pk), with a SAME-DAY DELETE for
    // pk%40=0 parts (newer than its update → the newest-occurrence
    // dedup shadows the update and emits the delete); change types
    // cycle through update/create/Move/bogus (normalization: Move →
    // move, bogus → update); schemes alternate so the http/https smush
    // runs; last_harvest E…082 stops the newest-first walk at pk ≤ 40.
    val ns = "http://ex.org/data/"
    // announce the ACTUAL delta keys (pk % 10 = 0), never a dense
    // 10..max(pk) range: replicated stress corpora shift partkeys by
    // rep·10M, and a dense range over that domain is a 100M-item
    // driver-side Seq (the round-13 sf10 sweep OOM'd on exactly this).
    // A day's feed is delta-shaped by definition, and the reference's
    // harvester walk is driver I/O over exactly the changed records —
    // so collecting the delta KEYS (200k longs at sf10) is the honest
    // fixture shape, and phantom announcements (which a dense range
    // also produced on sparse key spaces) disappear with it.
    val deltaPks: Array[Long] = Tables.load(spark, dir, "part")
      .select($"p_partkey".cast("long").as("pk"))
      .filter($"pk" % 10 === 0).orderBy($"pk")
      .as[Long].collect()
    // 12-digit stamps: 2·pk at stress scale is 10 digits, and a
    // shorter pad would make the lexicographic endTime order diverge
    // from the numeric one (the stream-stop contract)
    def stamp(t: Long) = f"E$t%012d"
    val kinds = Vector("update", "create", "Move", "bogus")
    val items = deltaPks.toSeq.flatMap { pk =>
      val scheme = if (pk % 20 == 0) "https://" else "http://"
      val upd = AsStream.AsItem(kinds(((pk / 10) % 4).toInt),
        s"${scheme}ex.org/data/r$pk", stamp(2 * pk))
      if (pk % 40 == 0)
        Seq(upd, AsStream.AsItem("delete", s"${scheme}ex.org/data/r$pk",
          stamp(2 * pk + 1)))
      else Seq(upd)
    } // already in stream order: deltaPks sorted, endTime monotone in pk
    val pages = items.grouped(80).toVector
    val src = new AsStream.PageSource {
      def lastPage: Option[String] =
        if (pages.isEmpty) None else Some((pages.size - 1).toString)
      def page(id: String): (Seq[AsStream.AsItem], Option[String]) = {
        val i = id.toInt
        (pages(i), if (i > 0) Some((i - 1).toString) else None)
      }
    }
    val harvested = sources.Pmh.toDataset(spark,
        AsStream.crawl(src, ns, stamp(82))
          .map(h => sources.Pmh.Harvested(h.change, h.ident, h.datestamp)))
      .toDF("change", "ident", "datestamp")

    // ── stage 2: acquire + map. Deletes drop out (their records are
    // not in the day-0 corpus, so removal is a no-op on the table
    // state); the semi-join against the source table is the acquirer —
    // an announced ident with no record acquires nothing.
    val admitted = harvested.filter($"change" =!= "delete")
      .select(substring($"ident", 2, 18).cast("long").as("pk"))
    val delta = Tables.load(spark, dir, "part")
      .join(broadcast(admitted),
        $"p_partkey".cast("long") === $"pk", "left_semi")
      .select($"p_partkey".cast("long").as("pk"), incKey.as("nm"))

    // ── stage 3: incremental reconcile + merge (the u1-proof body)
    val out = incrementalMerge(spark, dir, delta)

    // ── stage 4: publish through TableCommit — version advances
    // exactly once; the result is read back FROM the manifest.
    val (_, _, day0Out) = day0State(spark, dir)
    val table = dailyTable(spark, dir, day0Out)
    val runDir = s"$table/data/run-${java.util.UUID.randomUUID()}"
    // REBALANCE before the publish write (guide §6 output sizing): the
    // fold's 32 shuffle partitions + the carried scan otherwise emit
    // ~65 KB-sized files per daily run, which the read-back then pays
    // for twice (a 33-path listing job + per-file open). AQE sizes the
    // rebalance by bytes — one file at bench scale, 64 MB-targeted
    // files at corpus scale — so the knob is scale-adaptive, not a
    // local constant. (r17: la_daily profile showed the write+list+
    // read-back jobs at ~0.5 s of the key's 2.3 s.)
    out.hint("rebalance").write.mode("overwrite").parquet(runDir)
    val base = sources.TableCommit.readManifest(table)
    // REPLACE commit: the daily output is the complete new table state
    // (the previous version stays readable; older run versions are
    // compacted away below — the u4 story applied to the fixture's own
    // publishes)
    val (pub, _) = sources.TableCommit.commit(table)(_ => listParquet(runDir))
    // prune run dirs superseded more than one version ago: a
    // bench/stress harness re-invokes this query ~6× per sweep, and
    // without pruning each invocation would leak a full table-state
    // copy in /tmp for the JVM's lifetime (at sf10 that is six copies
    // of a multi-million-row fold)
    def filesOf(v: Long): Set[String] =
      if (v < 1) Set.empty
      else java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(table, f"v$v%012d.manifest"))
        .toArray(Array.empty[String]).filter(_.nonEmpty).toSet
    val keep = filesOf(pub.version) ++ filesOf(pub.version - 1)
    for {
      d <- Option(new java.io.File(s"$table/data").listFiles())
        .getOrElse(Array.empty[java.io.File])
      if d.getName.startsWith("run-")
      if listParquet(d.getAbsolutePath).forall(f => !keep(f))
    } Fixtures.sweep(d) // removes links, never follows them
    spark.read.parquet(pub.files: _*)
      .withColumn("v_advance", lit(pub.version - base.version))
  }

  /** Full rebuild over base ∪ admitted-delta (see the la_daily_run
    * header for why the harvest reduces to these predicates); the
    * published version must advance by exactly one. */
  private val laDailyRunOracle: String =
    """WITH adm AS (
      |  SELECT p_partkey AS pk,
      |    lower(p_name) || '#' || (p_partkey % 397) AS nm
      |  FROM part
      |  WHERE p_partkey % 10 <> 0
      |     OR (p_partkey > 40 AND p_partkey % 40 <> 0)),
      |g AS (SELECT pk, MIN(pk) OVER (PARTITION BY nm) AS yuid FROM adm)
      |SELECT yuid, CAST(COUNT(*) AS BIGINT) AS n_members,
      |  string_agg('p' || pk, ',' ORDER BY pk) AS idents_csv,
      |  CAST(1 AS BIGINT) AS v_advance
      |FROM g GROUP BY yuid""".stripMargin

  def register(): Unit = {
    Queries.register(QueryDef("la_build_pipeline", laBuildPipeline,
      Some(laBuildPipelineOracle), bench = true))
    Queries.register(QueryDef("la_incremental_update", laIncrementalUpdate,
      Some(laIncrementalUpdateOracle), bench = true))
    Queries.register(QueryDef("la_daily_run", laDailyRun,
      Some(laDailyRunOracle), bench = true))
  }
}
