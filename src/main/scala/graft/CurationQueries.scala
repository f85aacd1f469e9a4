package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The curation/ops battery: the last uncited reference scripts as
  * relational queries — the post-merge PCSH concept strip, the curated
  * place-hierarchy edge prune, the materials-statement extraction, the
  * precoordinated-heading map build, curated sameAs/differentFrom pair
  * ingest, the source-freshness audit, the curated-deletion idmap audit,
  * and the cache sanity sweep.
  *
  * 100 TB shape: every query is map-only or joins a tiny curated table
  * (broadcast) against the big side; the only groupBys key on bounded
  * domains (headings, ten cache names) and partial-aggregate map-side.
  */
object CurationQueries extends QueryGroup {

  private val lux = "https://lux.test/data/"

  /** The post-merge PCSH strip (`strip-pcsh.py:16-48`): a merged concept
    * survives only if its equivalence set (beyond self + idmap token)
    * contains at least one trusted-vocab URI; `n_trusted` counts
    * (equivalent, vocab) substring hits exactly like the reference's
    * nested loop, and sets of ≤2 (self + token only) never count. */
  def pcshStrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vocabs = Seq("wikidata.org", "getty.edu", "art.yale", "ycba-lux",
      "images.peabody") // strip-pcsh.py:18
    val ck = $"c_custkey".cast("long")
    val self = concat(lit(lux + "concept/"), ck)
    val token = concat(lit("temp:"), ck)
    val extras = when(ck % 5 === 0,
        array(concat(lit("http://www.wikidata.org/entity/Q"), ck)))
      .when(ck % 5 === 1,
        array(concat(lit("http://vocab.getty.edu/aat/300"), ck),
          concat(lit("https://viaf.org/viaf/"), ck)))
      .when(ck % 5 === 2, array(concat(lit("https://viaf.org/viaf/"), ck)))
      .when(ck % 5 === 3, array().cast("array<string>"))
      .otherwise(array(concat(lit("https://media.art.yale.edu/x"), ck),
        concat(lit("https://images.peabody.yale.edu/y"), ck)))
    def hits(e: Column): Column =
      vocabs.map(v => when(e.contains(v), 1L).otherwise(0L)).reduce(_ + _)
    val equivs = concat(array(self, token), extras)
    Tables.load(spark, dir, "customer")
      .select(ck.as("id"), equivs.as("equivs"))
      .select($"id", size($"equivs").cast("long").as("n_equiv"),
        when(size($"equivs") > 2,
          aggregate($"equivs", lit(0L), (acc, e) => acc + hits(e)))
          .otherwise(0L).as("n_trusted"))
      .withColumn("verdict",
        when($"n_trusted" > 0, "kept").otherwise("killed"))
  }
  private val pcshStripOracle: String =
    """WITH b AS (SELECT c_custkey AS ck, c_custkey % 5 AS v FROM customer)
      |SELECT ck AS id,
      |  CAST(CASE v WHEN 0 THEN 3 WHEN 1 THEN 4 WHEN 2 THEN 3
      |    WHEN 3 THEN 2 ELSE 4 END AS BIGINT) AS n_equiv,
      |  CAST(CASE v WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 4 THEN 2
      |    ELSE 0 END AS BIGINT) AS n_trusted,
      |  CASE WHEN v IN (0, 1, 4) THEN 'kept' ELSE 'killed' END AS verdict
      |FROM b""".stripMargin

  /** The curated place-hierarchy edge prune (`fix-place-cycles.py:20-68`):
    * a reviewed deletions list of (child, parent) pairs strips matching
    * `part_of` entries (and their P89_falls_within triples — same edge
    * set, one prune). The curated list is tiny → broadcast anti-join;
    * the record side never shuffles. */
  def placeEdgePrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ck = $"c_custkey".cast("long")
    def p(n: Column) = concat(lit(lux + "place/p"), n)
    val recs = Tables.load(spark, dir, "customer")
      .select(ck.as("child_id"), array(p(ck % 50), p((ck + 7) % 50)).as("part_of"))
    val deletes = Tables.load(spark, dir, "customer")
      .where(ck % 3 === 0)
      .select(ck.as("child_id"), p(ck % 50).as("parent_uri"))
    recs.select($"child_id", explode($"part_of").as("parent_uri"))
      .join(broadcast(deletes), Seq("child_id", "parent_uri"), "left_anti")
  }
  private val placeEdgePruneOracle: String =
    """WITH r AS (
      |  SELECT c_custkey AS child_id,
      |    'https://lux.test/data/place/p' || (c_custkey % 50) AS parent_uri
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey,
      |    'https://lux.test/data/place/p' || ((c_custkey + 7) % 50)
      |  FROM customer),
      |d AS (
      |  SELECT c_custkey AS child_id,
      |    'https://lux.test/data/place/p' || (c_custkey % 50) AS parent_uri
      |  FROM customer WHERE c_custkey % 3 = 0)
      |SELECT r.child_id, r.parent_uri FROM r
      |WHERE NOT EXISTS (SELECT 1 FROM d
      |  WHERE d.child_id = r.child_id AND d.parent_uri = r.parent_uri)""".stripMargin

  /** The materials extraction (`extract_materials.py:20-54`): HMO records
    * keep (id, materials, description, material statement) when they have
    * a `made_of` AND at least one classified note; the two note slots
    * fill from `referred_to_by` by AAT classification with the
    * reference's last-match-wins loop order. */
  def materialsExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val MaterialCxn = "http://vocab.getty.edu/aat/300435429"
    val DescriptionCxn = "http://vocab.getty.edu/aat/300435416"
    val pk = $"p_partkey".cast("long")
    def note(cxn: String, content: Column) =
      struct(lit(cxn).as("cxn"), content.as("content"))
    val notes = when(pk % 4 === 0,
        array(note(MaterialCxn, concat(lit("mat stmt "), pk)),
          note(DescriptionCxn, concat(lit("desc "), pk))))
      .when(pk % 4 === 1, array(note(DescriptionCxn, concat(lit("desc "), pk))))
      .when(pk % 4 === 2, array(note(MaterialCxn, concat(lit("mat stmt "), pk))))
      .otherwise(array(note("http://vocab.getty.edu/aat/300999999",
        concat(lit("note "), pk))))
    val madeOf = when(pk % 3 === 0,
        array(concat(lit("http://vocab.getty.edu/aat/mat"), pk % 7)))
      .otherwise(array().cast("array<string>"))
    // last-match-wins fold, mirroring the reference's note loop
    def lastMatch(cxn: String): Column =
      aggregate($"notes", lit(""), (acc, n) =>
        when(n.getField("cxn") === cxn, n.getField("content")).otherwise(acc))
    Tables.load(spark, dir, "part")
      .select(pk.as("id"), madeOf.as("made_of"), notes.as("notes"))
      .select($"id", size($"made_of").cast("long").as("n_materials"),
        lastMatch(DescriptionCxn).as("description"),
        lastMatch(MaterialCxn).as("material_description"))
      .where($"n_materials" > 0 &&
        ($"description" =!= "" || $"material_description" =!= ""))
  }
  private val materialsExtractOracle: String =
    """WITH b AS (SELECT p_partkey AS pk, p_partkey % 4 AS w FROM part
      |  WHERE p_partkey % 3 = 0 AND p_partkey % 4 <> 3)
      |SELECT pk AS id, CAST(1 AS BIGINT) AS n_materials,
      |  CASE WHEN w IN (0, 1) THEN 'desc ' || pk ELSE '' END AS description,
      |  CASE WHEN w IN (0, 2) THEN 'mat stmt ' || pk ELSE '' END
      |    AS material_description
      |FROM b""".stripMargin

  /** The precoordinated-heading map (`create_precoordinated_headings.py:
    * 17-27` + the index load shape of `load-sh-map.py:36-48`): Type
    * records contribute `created_by.influenced_by` headings; the build
    * inverts to heading → ordered concept list for index lookup. */
  def headingMap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ck = $"c_custkey".cast("long")
    def sh(n: Column) = concat(lit("https://id.loc.gov/authorities/subjects/sh"), n)
    Tables.load(spark, dir, "customer")
      .where(ck % 4 === 0)
      .select(concat(lit(lux + "concept/"), ck).as("concept"),
        array(sh(ck % 97), sh((ck + 13) % 97)).as("influenced"))
      .select($"concept", explode($"influenced").as("heading"))
      .groupBy($"heading")
      .agg(count(lit(1)).as("n_concepts"),
        concat_ws(",", array_sort(collect_list($"concept"))).as("concepts_csv"))
  }
  private val headingMapOracle: String =
    """WITH c AS (SELECT c_custkey AS ck FROM customer WHERE c_custkey % 4 = 0),
      |e AS (
      |  SELECT 'https://id.loc.gov/authorities/subjects/sh' || (ck % 97) AS h,
      |    'https://lux.test/data/concept/' || ck AS u FROM c
      |  UNION ALL
      |  SELECT 'https://id.loc.gov/authorities/subjects/sh' || ((ck + 13) % 97),
      |    'https://lux.test/data/concept/' || ck FROM c)
      |SELECT h AS heading, CAST(COUNT(*) AS BIGINT) AS n_concepts,
      |  array_to_string(list(u ORDER BY u), ',') AS concepts_csv
      |FROM e GROUP BY h""".stripMargin

  /** The curated-pair ingest (`google-sames-diffs.py:60-100`): reviewed
    * sameAs / differentFrom URI pairs canonicalize through the standard
    * canonicalizer; a failed side flags the row (a-side checked first,
    * like the reference's if/elif) instead of silently dropping it. */
  def curatedPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ck = $"c_custkey".cast("long")
    val x = (ck % 1000).cast("string")
    val sheet = when(ck % 2 === 0, "different_from").otherwise("same_as")
    val uria = when(ck % 3 === 0, concat(lit("http://vocab.getty.edu/aat/300"), x))
      .when(ck % 3 === 1, concat(lit("https://www.wikidata.org/wiki/Q"), ck))
      .otherwise(concat(lit("https://random.junk.example/"), ck))
    val urib = when(ck % 4 === 0, concat(lit("https://viaf.org/viaf/"), ck))
      .when(ck % 4 === 1,
        concat(lit("http://id.loc.gov/authorities/names/n"), ck, lit("/")))
      .when(ck % 4 === 2, concat(lit("https://bogus.example/x"), ck))
      .otherwise(concat(lit("https://vocab.getty.edu/page/aat/300"), x))
    Tables.load(spark, dir, "customer")
      .select(ck.as("id"), sheet.as("sheet"), uria.as("uria"), urib.as("urib"))
      .select($"id", $"sheet",
        functions.UriCanon.canonicalize($"uria").as("canon_a"),
        functions.UriCanon.canonicalize($"urib").as("canon_b"))
      .withColumn("status", when($"canon_a".isNull, "failed_a")
        .when($"canon_b".isNull, "failed_b").otherwise("ok"))
  }
  private val curatedPairsOracle: String =
    """WITH b AS (SELECT c_custkey AS ck, c_custkey % 3 AS a, c_custkey % 4 AS v,
      |  CAST(c_custkey % 1000 AS VARCHAR) AS x FROM customer)
      |SELECT ck AS id,
      |  CASE WHEN ck % 2 = 0 THEN 'different_from' ELSE 'same_as' END AS sheet,
      |  CASE a WHEN 0 THEN 'http://vocab.getty.edu/aat/300' || x
      |    WHEN 1 THEN 'http://www.wikidata.org/entity/Q' || ck
      |    ELSE NULL END AS canon_a,
      |  CASE v WHEN 0 THEN 'https://viaf.org/viaf/' || ck
      |    WHEN 1 THEN 'http://id.loc.gov/authorities/names/n' || ck
      |    WHEN 2 THEN NULL
      |    ELSE 'http://vocab.getty.edu/aat/300' || x END AS canon_b,
      |  CASE WHEN a = 2 THEN 'failed_a'
      |    WHEN v = 2 THEN 'failed_b' ELSE 'ok' END AS status
      |FROM b""".stripMargin

  /** The source-freshness audit (`checkDataUpdates.py:96-160`; the
    * same per-cache `datacache.latest()` watermark feeds the reporting
    * sweep in `populate-timestamps.py:137-149`): per source-cache, the
    * local mirror watermark vs the latest record time; a cache whose
    * watermark is invalid (the reference's leading-0000 timestamp)
    * fails outright. Microsecond-exact integer epochs; one scan,
    * partial aggregation to ten groups. */
  def freshnessAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val caches = Seq("aat", "bnf", "geonames", "japan", "japansh", "lcdgt",
      "tgn", "ulan", "viaf", "wikimedia") // checkDataUpdates.py:18
    val idx = ($"event_id" % 10).cast("int")
    val name = element_at(array(caches.map(lit): _*), idx + 1)
    val us = unix_micros($"ts")
    val mirrored = expr("event_id div 10") % 2 === 0
    val agg = Tables.load(spark, dir, "events")
      .groupBy(idx.as("idx"), name.as("source"))
      .agg(max(us).as("remote_us"), max(when(mirrored, us)).as("base_us"))
      .withColumn("local_us",
        $"base_us" + when($"idx" % 3 === 0, 3600000000L).otherwise(0L))
    agg.select($"source",
      when($"idx" === 5, lit(null).cast("long")).otherwise($"local_us")
        .as("local_us"),
      when($"idx" === 5, lit(null).cast("long")).otherwise($"remote_us")
        .as("remote_us"),
      when($"idx" === 5, "failed")
        .when($"remote_us" > $"local_us", "needs_update")
        .when($"remote_us" === $"local_us", "no_difference")
        .otherwise("local_newer").as("verdict"),
      when($"idx" === 5, lit(null).cast("long"))
        .when($"remote_us" >= $"local_us", $"remote_us" - $"local_us")
        .otherwise($"local_us" - $"remote_us").as("diff_us"))
  }
  private val freshnessAuditOracle: String =
    """WITH s AS (SELECT event_id % 10 AS idx, epoch_us(ts) AS us,
      |  ((event_id // 10) % 2 = 0) AS mirrored FROM events),
      |a AS (SELECT idx, MAX(us) AS remote_us,
      |    MAX(CASE WHEN mirrored THEN us END)
      |      + CASE WHEN idx % 3 = 0 THEN 3600000000 ELSE 0 END AS local_us
      |  FROM s GROUP BY idx)
      |SELECT
      |  CASE idx WHEN 0 THEN 'aat' WHEN 1 THEN 'bnf' WHEN 2 THEN 'geonames'
      |    WHEN 3 THEN 'japan' WHEN 4 THEN 'japansh' WHEN 5 THEN 'lcdgt'
      |    WHEN 6 THEN 'tgn' WHEN 7 THEN 'ulan' WHEN 8 THEN 'viaf'
      |    ELSE 'wikimedia' END AS source,
      |  CAST(CASE WHEN idx = 5 THEN NULL ELSE local_us END AS BIGINT) AS local_us,
      |  CAST(CASE WHEN idx = 5 THEN NULL ELSE remote_us END AS BIGINT) AS remote_us,
      |  CASE WHEN idx = 5 THEN 'failed'
      |    WHEN remote_us > local_us THEN 'needs_update'
      |    WHEN remote_us = local_us THEN 'no_difference'
      |    ELSE 'local_newer' END AS verdict,
      |  CAST(CASE WHEN idx = 5 THEN NULL
      |    WHEN remote_us >= local_us THEN remote_us - local_us
      |    ELSE local_us - remote_us END AS BIGINT) AS diff_us
      |FROM a""".stripMargin

  /** The curated-deletion idmap audit (`make-concept-fixes.py:30-63`):
    * every internal id named by a curated deletion row (child AND parent
    * side) is resolved through the idmap and classified missing /
    * changed / ok against the curated UUID. The curated set is tiny and
    * the idmap huge, so the idmap is first semi-filtered by the
    * broadcast curated keys, then the (now tiny) matches broadcast back
    * for the left join — the big side is scanned once, shuffle-free. */
  def curatedAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ck = $"c_custkey".cast("long")
    val cust = Tables.load(spark, dir, "customer")
    val curated = cust.where(ck % 3 === 0).select(ck.as("n"))
      .union(cust.where(ck % 3 === 0).select(((ck * 2) % 1500).as("n")))
      .distinct()
    val idmap = cust.where(ck % 7 =!= 0)
      .select(ck.as("n"), concat(lit("u"),
        when(ck % 5 === 0, (ck + 1) % 400).otherwise(ck % 400)).as("actual"))
    val matches = idmap.join(broadcast(curated), Seq("n"), "left_semi")
    curated.join(broadcast(matches), Seq("n"), "left")
      .select($"n".as("ident_n"),
        concat(lit("u"), $"n" % 400).as("expected"), $"actual")
      .withColumn("status", when($"actual".isNull, "missing")
        .when($"actual" =!= $"expected", "changed").otherwise("ok"))
  }
  private val curatedAuditOracle: String =
    """WITH cur AS (
      |  SELECT c_custkey AS n FROM customer WHERE c_custkey % 3 = 0
      |  UNION
      |  SELECT (c_custkey * 2) % 1500 FROM customer WHERE c_custkey % 3 = 0),
      |im AS (SELECT c_custkey AS n,
      |    'u' || (CASE WHEN c_custkey % 5 = 0 THEN (c_custkey + 1) % 400
      |      ELSE c_custkey % 400 END) AS actual
      |  FROM customer WHERE c_custkey % 7 <> 0)
      |SELECT cur.n AS ident_n, 'u' || (cur.n % 400) AS expected, im.actual,
      |  CASE WHEN im.actual IS NULL THEN 'missing'
      |    WHEN im.actual <> 'u' || (cur.n % 400) THEN 'changed'
      |    ELSE 'ok' END AS status
      |FROM cur LEFT JOIN im ON cur.n = im.n""".stripMargin

  /** The cache sanity sweep (`clean-wm.py:17-44`): every cached API
    * response classifies bad (unreadable/empty — the reference's fetch
    * exception), deleted (parses but query.pages missing or empty), or
    * kept. Parse failures are detected via the from_json corrupt-record
    * column, keeping the sweep inside codegen. */
  def cacheSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = $"doc_id".cast("long")
    val raw = when(d % 5 === 0,
        concat(lit("""{"query":{"pages":{"p1":{"title":"T"""), d, lit("\"}}}}")))
      .when(d % 5 === 1, lit("""{"query":{"pages":{}}}"""))
      .when(d % 5 === 2, lit(""))
      .when(d % 5 === 3, lit("""{"query":"""))
      .otherwise(lit("""{"other":1}"""))
    val schema = StructType(Seq(
      StructField("query", StructType(Seq(
        StructField("pages", MapType(StringType, StructType(Seq(
          StructField("title", StringType)))))))),
      StructField("_corrupt_record", StringType)))
    Tables.load(spark, dir, "documents")
      .select(d.as("doc_id"), raw.as("raw"))
      .select($"doc_id", from_json($"raw", schema,
        Map("columnNameOfCorruptRecord" -> "_corrupt_record")).as("p"))
      .select($"doc_id",
        when($"p".isNull || $"p._corrupt_record".isNotNull, "bad")
          .when($"p.query".isNull || size(map_keys($"p.query.pages")) === 0,
            "deleted")
          .otherwise("kept").as("verdict"))
  }
  private val cacheSweepOracle: String =
    """SELECT doc_id,
      |  CASE doc_id % 5 WHEN 0 THEN 'kept' WHEN 1 THEN 'deleted'
      |    WHEN 2 THEN 'bad' WHEN 3 THEN 'bad' ELSE 'deleted' END AS verdict
      |FROM documents""".stripMargin

  /** C9: the YPM portal flagging pass (`post-build-portal.py:27-44`
    * walk_for_refs + the main loop :96-140): every record of one source
    * seeds at distance 0; each MERGED record's references are walked
    * with the `equivalent`/`access_point`/`conforms_to` properties and
    * `_`-prefixed blank nodes SKIPPED; every reached id keeps its MIN
    * distance; and only nodes at distance ≤ 4 expand further — a record
    * first reached at distance 5 is flagged but never walked (the
    * reference's `if d > 4: continue`). The flagged (id, dist) set is
    * the portal-required metadata update. Reuses `operators.Graph.bfs`,
    * which runs on the engine's one layered-frontier loop
    * (`operators.Reconcile.frontierFixpoint`: anti-join least depth,
    * per-layer cost ∝ frontier, stops at the first empty frontier).
    *
    * Fixture: the g2 star graph (cust 4k → order 4k+1 → part 4k+2 →
    * supp 4k+3) plus a supplier chain (4k+3 → 4(k+1)+3) so depth
    * actually reaches the distance-5 recording cap; each reference sits
    * under a property elected by key mod 5 — two of the five names are
    * walkable, the other three are the reference's skip list — and
    * every tenth part→supplier reference is a blank node. */
  def portalRefs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.load(spark, dir, "orders")
    val li = Tables.load(spark, dir, "lineitem")
    val su = Tables.load(spark, dir, "supplier")
    val propNames = Seq("equivalent", "access_point", "member_of",
      "part_of", "conforms_to")
    val skip = Seq("equivalent", "access_point", "conforms_to")
    def prop(i: Column): Column =
      element_at(array(propNames.map(lit): _*), (i % 5 + 1).cast("int"))
    val edges = o.select(($"o_custkey" * 4L).as("src"),
        ($"o_orderkey" * 4L + 1L).as("dst"),
        prop($"o_orderkey").as("prop"), lit(false).as("blank"))
      .union(li.select(($"l_orderkey" * 4L + 1L).as("src"),
        ($"l_partkey" * 4L + 2L).as("dst"),
        prop($"l_orderkey" + $"l_partkey"), lit(false)))
      .union(li.select(($"l_partkey" * 4L + 2L).as("src"),
        ($"l_suppkey" * 4L + 3L).as("dst"),
        prop($"l_partkey" + $"l_suppkey"), $"l_suppkey" % 10 === 0))
      .union(su.select(($"s_suppkey" * 4L + 3L).as("src"),
        ($"s_suppkey" * 4L + 7L).as("dst"), prop($"s_suppkey"), lit(false)))
      .filter(!$"blank" && !$"prop".isin(skip: _*))
      .select($"src", $"dst").distinct()
    val seeds = Tables.load(spark, dir, "customer")
      .filter($"c_custkey" % 7 === 0).select(($"c_custkey" * 4L).as("node"))
    operators.Graph.bfs(edges, seeds, maxDist = 5)
      .select($"node", $"dist".cast("long").as("dist"))
  }
  private val portalRefsOracle: String =
    """WITH RECURSIVE e AS (
      |  SELECT src, dst FROM (
      |    SELECT 4 * o_custkey AS src, 4 * o_orderkey + 1 AS dst,
      |      o_orderkey % 5 AS p, FALSE AS blank FROM orders
      |    UNION ALL SELECT 4 * l_orderkey + 1, 4 * l_partkey + 2,
      |      (l_orderkey + l_partkey) % 5, FALSE FROM lineitem
      |    UNION ALL SELECT 4 * l_partkey + 2, 4 * l_suppkey + 3,
      |      (l_partkey + l_suppkey) % 5, l_suppkey % 10 = 0 FROM lineitem
      |    UNION ALL SELECT 4 * s_suppkey + 3, 4 * s_suppkey + 7,
      |      s_suppkey % 5, FALSE FROM supplier)
      |  WHERE NOT blank
      |    AND CASE p WHEN 0 THEN 'equivalent' WHEN 1 THEN 'access_point'
      |      WHEN 2 THEN 'member_of' WHEN 3 THEN 'part_of'
      |      ELSE 'conforms_to' END
      |      NOT IN ('equivalent', 'access_point', 'conforms_to')
      |  GROUP BY src, dst),
      |seeds AS (SELECT 4 * c_custkey AS node FROM customer
      |  WHERE c_custkey % 7 = 0),
      |walk(node, dist) AS (
      |  SELECT node, 0 FROM seeds
      |  UNION
      |  SELECT e.dst, walk.dist + 1 FROM walk JOIN e ON walk.node = e.src
      |  WHERE walk.dist < 5)
      |SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
      |FROM walk GROUP BY node""".stripMargin

  override def register(): Unit = {
    Queries.register(QueryDef("c1_pcsh_strip", pcshStrip, Some(pcshStripOracle)))
    Queries.register(QueryDef("c2_place_edge_prune", placeEdgePrune,
      Some(placeEdgePruneOracle)))
    Queries.register(QueryDef("c3_materials_extract", materialsExtract,
      Some(materialsExtractOracle)))
    Queries.register(QueryDef("c4_heading_map", headingMap, Some(headingMapOracle)))
    Queries.register(QueryDef("c5_curated_pairs", curatedPairs,
      Some(curatedPairsOracle)))
    Queries.register(QueryDef("c6_freshness_audit", freshnessAudit,
      Some(freshnessAuditOracle)))
    Queries.register(QueryDef("c7_curated_audit", curatedAudit,
      Some(curatedAuditOracle)))
    Queries.register(QueryDef("c8_cache_sweep", cacheSweep, Some(cacheSweepOracle)))
    Queries.register(QueryDef("c9_portal_refs", portalRefs,
      Some(portalRefsOracle)))
  }
}
