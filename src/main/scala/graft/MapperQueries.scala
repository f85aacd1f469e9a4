package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mapper post-processing pipeline (SURVEY §2.3 M6-M8), full-text leaf
  * queries (Q5), geometry arbitration (F10) and HTML strip (F11). */
object MapperQueries extends QueryGroup {

  /** M6+M7+M8: the post-mapping record pipeline over nested records —
    * fix_links (rewrite every nested id through the reconciliation
    * index, explode/join/re-nest), trash_different_from (drop asserted-
    * different refs by anti-join), break_cycles (null self-parents). */
  def recordPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem").filter($"l_orderkey" % 10 === 0)
    val records = li.groupBy($"l_orderkey")
      .agg(sort_array(collect_list(struct($"l_linenumber", $"l_partkey"))).as("items"))
      .withColumn("parent_ref",
        when($"l_orderkey" % 40 === 0, $"l_orderkey") // self-cycle to break
          .when($"l_orderkey" % 40 === 10, $"l_orderkey" - 10) // real parent
          .otherwise(lit(null).cast("long")))
    val idx = Tables.load(spark, dir, "part")
      .groupBy(lower($"p_name").as("key"), $"p_brand".as("itype"))
      .agg(min($"p_partkey").as("canonical"))
    val rewrite = Tables.load(spark, dir, "part")
      .join(idx, lower($"p_name") === $"key" && $"p_brand" === $"itype")
      .select($"p_partkey", $"canonical", $"p_retailprice")
    // differentFrom table: "expensive" parts are asserted different
    val diffs = rewrite.filter($"p_retailprice" > 1500.0).select($"canonical").distinct()
    val exploded = records
      .select($"l_orderkey", $"parent_ref", size($"items").as("n_items_raw"),
        explode($"items").as("item"))
      .join(broadcast(rewrite.select($"p_partkey", $"canonical")),
        $"item.l_partkey" === $"p_partkey")                  // M6 fix_links
      .join(broadcast(diffs), Seq("canonical"), "left_anti") // M8 trash diffs
    exploded.groupBy($"l_orderkey", $"parent_ref", $"n_items_raw")
      .agg(count(lit(1)).as("n_items_kept"),
        concat_ws(",", transform(
          sort_array(collect_list(struct($"item.l_linenumber".as("ln"), $"canonical"))),
          s => s.getField("canonical"))).as("canonical_csv"))
      .select($"l_orderkey", $"n_items_raw".cast("long").as("n_items_raw"),
        $"n_items_kept", $"canonical_csv",
        ($"parent_ref".isNotNull && $"parent_ref" =!= $"l_orderkey")
          .as("has_parent")) // M7 break self-cycles
  }
  private val recordPipelineOracle: String =
    """WITH idx AS (
      |  SELECT lower(p_name) AS key, p_brand AS itype, MIN(p_partkey) AS canonical
      |  FROM part GROUP BY 1, 2),
      |rw AS (
      |  SELECT p_partkey, canonical, p_retailprice FROM part
      |  JOIN idx ON lower(p_name) = key AND p_brand = itype),
      |diffs AS (SELECT DISTINCT canonical FROM rw WHERE p_retailprice > 1500.0),
      |raw AS (
      |  SELECT l_orderkey, COUNT(*) AS n_items_raw FROM lineitem
      |  WHERE l_orderkey % 10 = 0 GROUP BY 1),
      |kept AS (
      |  SELECT l_orderkey, COUNT(*) AS n_items_kept,
      |    array_to_string(list(canonical ORDER BY l_linenumber, canonical), ',') AS canonical_csv
      |  FROM lineitem JOIN rw ON l_partkey = p_partkey
      |  WHERE l_orderkey % 10 = 0
      |    AND canonical NOT IN (SELECT canonical FROM diffs)
      |  GROUP BY 1)
      |SELECT raw.l_orderkey, raw.n_items_raw, kept.n_items_kept,
      |  kept.canonical_csv,
      |  (raw.l_orderkey % 40 = 10) AS has_parent
      |FROM raw JOIN kept ON raw.l_orderkey = kept.l_orderkey""".stripMargin

  /** Q5: full-text word query over a tokenized inverted-index table —
    * docs containing BOTH 'spark' and 'merge' (case-insensitive),
    * compiled as semi-joins against the index (§4.4: a data structure,
    * not a planner extension). */
  def wordQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val inverted = Tables.load(spark, dir, "documents")
      .select($"doc_id", explode(TextQueries.tokensCol(lower($"text"))).as("term"))
      .distinct()
    val hitsA = inverted.filter($"term" === "spark").select($"doc_id")
    val hitsB = inverted.filter($"term" === "merge").select($"doc_id")
    hitsA.join(hitsB, Seq("doc_id"), "left_semi")
  }
  private val wordQueryOracle: String =
    """WITH inverted AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
      |  FROM documents)
      |SELECT doc_id FROM inverted WHERE term = 'spark'
      |INTERSECT
      |SELECT doc_id FROM inverted WHERE term = 'merge'""".stripMargin

  /** True positional NEAR — beyond the reference, whose cts compile
    * raises NotImplementedError for NEAR (`ml_lexer.py:214`; the id-set
    * NEAR=AND approximation stays in lux_q4): docs where 'merge' and
    * 'scan' occur within 3 tokens of each other, with the minimum
    * token distance. Map-only columnar: per-doc position arrays are
    * HOF filters over the token index, the pairwise-distance minimum a
    * nested transform — no explode, no positional-index shuffle; at
    * 100 TB this is a linear scan exactly like the other text ops. */
  /** 1-based positions of `w` in token array `t` — shared by q12/q13.
    * One transform-with-index pass, never element_at probes over
    * sequence(1, n): optimizer rules re-inline the tokenize expression
    * into each probe (no common-subexpression guard on pushdown), which
    * turned this scan O(tokens²)·O(split) at stress scale — 170 s over
    * a 250k-doc corpus vs seconds for this form (the LuxCompiler NEAR
    * lesson). An empty/null doc simply yields no positions, which also
    * retires the old sequence(1, 0) descending-range hazard. */
  private[graft] def posOf(t: org.apache.spark.sql.Column, w: String)
      : org.apache.spark.sql.Column =
    filter(transform(t, (tok, i) =>
      when(tok === lit(w), i + 1).otherwise(-1)), x => x > 0)

  def nearPos(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id", TextQueries.tokensCol(lower($"text")).as("t"))
      .select($"doc_id", posOf($"t", "merge").as("pa"), posOf($"t", "scan").as("pb"))
      .filter(size($"pa") > 0 && size($"pb") > 0)
      .select($"doc_id",
        array_min(flatten(transform($"pa", i =>
          transform($"pb", j => abs(i - j))))).cast("long").as("min_dist"))
      .filter($"min_dist" <= 3L)
  }
  /** Q13: exact PHRASE query — ordered token adjacency ("merge group"),
    * one row per matching doc with the occurrence count. Same map-only
    * columnar shape as q12: per-doc position arrays via HOF filters, the
    * adjacency test a membership probe of pa+1 in pb — no explode, no
    * positional-index shuffle; completes the text-query family
    * word (q5) / boolean (lux) / NEAR (q12) / phrase / BM25 (q10) /
    * hybrid (q11). */
  def phraseQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id", TextQueries.tokensCol(lower($"text")).as("t"))
      .select($"doc_id", posOf($"t", "merge").as("pa"), posOf($"t", "group").as("pb"))
      .select($"doc_id",
        size(filter($"pa", i => array_contains($"pb", i + 1)))
          .cast("long").as("n_occurrences"))
      .filter($"n_occurrences" > 0)
  }
  private val phraseOracle: String = {
    val t = TextQueries.tokensSql("lower(text)")
    val occ = "len([i for i in range(1, len(t)) if t[i] = 'merge' AND t[i+1] = 'group'])"
    s"""WITH toks AS (SELECT doc_id, $t AS t FROM documents)
       |SELECT doc_id, CAST($occ AS BIGINT) AS n_occurrences
       |FROM toks WHERE $occ > 0""".stripMargin
  }

  private val nearPosOracle: String = {
    val t = TextQueries.tokensSql("lower(text)")
    val md = "list_min(flatten([[abs(i-j) for j in pb] for i in pa]))"
    s"""WITH toks AS (SELECT doc_id, $t AS t FROM documents),
       |pos AS (
       |  SELECT doc_id,
       |    [i for i in range(1, len(t)+1) if t[i] = 'merge'] AS pa,
       |    [i for i in range(1, len(t)+1) if t[i] = 'scan'] AS pb
       |  FROM toks)
       |SELECT doc_id, CAST($md AS BIGINT) AS min_dist
       |FROM pos
       |WHERE len(pa) > 0 AND len(pb) > 0 AND $md <= 3""".stripMargin
  }

  /** Q5+: BM25-shaped relevance ranking over the same inverted-index
    * substrate as q5 — integer-quantized BM25 (k1=1.2, b=0.75 in milli
    * units; rational idf (N-df+1)/(df+1) instead of the log so both
    * engines compute the identical exact integers; monotone in the same
    * tf/df/length quantities as the textbook formula).
    *
    * Scale shape: per-doc tf and length are map-side columnar folds
    * (no explode); the corpus stats (N, avgdl, per-term df) are ONE
    * tiny aggregate broadcast back — so the ranking is scan + map +
    * top-k, no wide shuffle. */
  def bm25Rank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = Seq("merge", "scan", "fast")
    val k1 = 1200L // milli
    val b = 750L   // milli
    val m = Tables.load(spark, dir, "documents")
      .select($"doc_id", TextQueries.tokensCol(lower($"text")).as("t"))
      .select($"doc_id" +: size($"t").cast("long").as("dl") +:
        terms.map(tm =>
          size(filter($"t", x => x === lit(tm))).cast("long").as(s"tf_$tm")): _*)
    val statCols =
      TextQueries.intDiv(sum($"dl") * 1000L, count(lit(1))).as("avgdl_milli") +:
        terms.map(tm =>
          sum(when(col(s"tf_$tm") > 0L, 1L).otherwise(0L)).as(s"df_$tm"))
    val stats = m.agg(count(lit(1)).as("n_docs"), statCols: _*)
    val scored = m.crossJoin(broadcast(stats))
    val termScore = terms.map { tm =>
      val tf = col(s"tf_$tm"); val df = col(s"df_$tm")
      val idf = TextQueries.intDiv(($"n_docs" - df + 1L) * 1000L, df + 1L)
      val lenNorm = lit(1000L) - b +
        TextQueries.intDiv(lit(b) * $"dl" * 1000L, $"avgdl_milli")
      val denom = tf * 1000L + TextQueries.intDiv(lit(k1) * lenNorm, lit(1000L))
      when(tf > 0L,
        TextQueries.intDiv(idf * tf * (1000L + k1), denom)).otherwise(lit(0L))
    }.reduce(_ + _)
    scored.select($"doc_id", termScore.as("score_milli"))
      .filter($"score_milli" > 0L)
      .orderBy($"score_milli".desc, $"doc_id")
      .limit(100)
  }
  private[graft] val bm25Oracle: String = {
    val terms = Seq("merge", "scan", "fast")
    val k1 = 1200L
    val b = 750L
    val t = TextQueries.tokensSql("lower(text)")
    val tfs = terms.map(tm =>
      s"CAST(len(list_filter(t, x -> x = '$tm')) AS BIGINT) AS tf_$tm").mkString(",\n    ")
    val dfs = terms.map(tm =>
      s"CAST(SUM(CASE WHEN tf_$tm > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$tm").mkString(",\n    ")
    val scoreTerms = terms.map { tm =>
      val idf = s"(((n_docs - df_$tm + 1) * 1000) // (df_$tm + 1))"
      val lenNorm = s"(1000 - $b + (($b * dl * 1000) // avgdl_milli))"
      val denom = s"(tf_$tm * 1000 + (($k1 * $lenNorm) // 1000))"
      s"CASE WHEN tf_$tm > 0 THEN ($idf * tf_$tm * ${1000 + k1}) // $denom ELSE 0 END"
    }.mkString("\n    + ")
    s"""WITH toks AS (SELECT doc_id, $t AS t FROM documents),
       |m AS (
       |  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
       |    $tfs
       |  FROM toks),
       |stats AS (
       |  SELECT COUNT(*) AS n_docs,
       |    CAST(SUM(dl) AS BIGINT) * 1000 // COUNT(*) AS avgdl_milli,
       |    $dfs
       |  FROM m),
       |scored AS (
       |  SELECT doc_id,
       |    $scoreTerms AS score_milli
       |  FROM m, stats)
       |SELECT doc_id, score_milli FROM scored WHERE score_milli > 0
       |ORDER BY score_milli DESC, doc_id LIMIT 100""".stripMargin
  }

  /** F10: geometry arbitration — per nation elect the best supplier
    * geometry (polygon > point, then more coordinates) over synthesized
    * WKT strings parsed by the Wkt UDF lib. */
  def geometryMerge(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // columnar WKT inspection (codegen'd; see Wkt.kindCol)
    val kindUdf = (c: org.apache.spark.sql.Column) => functions.Wkt.kindCol(c)
    val coordsUdf = (c: org.apache.spark.sql.Column) => functions.Wkt.coordCountCol(c)
    val x = $"s_suppkey".cast("string")
    val x1 = ($"s_suppkey" + 1).cast("string")
    val y = $"s_nationkey".cast("string")
    val y1 = ($"s_nationkey" + 1).cast("string")
    val wkt = when($"s_suppkey" % 3 === 0,
        concat(lit("POLYGON(("), x, lit(" "), y, lit(", "), x1, lit(" "), y,
          lit(", "), x, lit(" "), y1, lit(", "), x, lit(" "), y, lit("))")))
      .when($"s_suppkey" % 3 === 1,
        concat(lit("POLYGON(("), x, lit(" "), y, lit(", "), x1, lit(" "), y,
          lit(", "), x1, lit(" "), y1, lit(", "), x, lit(" "), y1,
          lit(", "), x, lit(" "), y, lit("))")))
      .otherwise(concat(lit("POINT("), x, lit(" "), y, lit(")")))
    val geoms = Tables.load(spark, dir, "supplier")
      .select($"s_suppkey", $"s_nationkey", wkt.as("wkt"))
      .select($"s_suppkey", $"s_nationkey", $"wkt",
        kindUdf($"wkt").as("kind"), coordsUdf($"wkt").as("n_coords"))
    // argmax election as one max-of-struct aggregate: (polygon-first,
    // coords desc, suppkey asc via negation) lead the struct order, the
    // winner's payload rides in the trailing fields — map-side combine,
    // no per-nation sort
    geoms.groupBy($"s_nationkey")
      .agg(max(struct(($"kind" === "POLYGON").as("p"), $"n_coords".as("nc"),
        (-$"s_suppkey").as("ns"), $"kind".as("k"))).as("b"))
      .select($"s_nationkey", $"b.k".as("best_kind"),
        $"b.nc".cast("long").as("best_coords"),
        (-$"b.ns").as("winner_suppkey"))
  }
  private val geometryMergeOracle: String =
    """WITH geoms AS (
      |  SELECT s_suppkey, s_nationkey,
      |    CASE WHEN s_suppkey % 3 IN (0, 1) THEN 'POLYGON' ELSE 'POINT' END AS kind,
      |    CASE WHEN s_suppkey % 3 = 0 THEN 4
      |         WHEN s_suppkey % 3 = 1 THEN 5 ELSE 1 END AS n_coords
      |  FROM supplier)
      |SELECT s_nationkey, kind AS best_kind,
      |  CAST(n_coords AS BIGINT) AS best_coords, s_suppkey AS winner_suppkey
      |FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY s_nationkey
      |    ORDER BY (kind = 'POLYGON') DESC, n_coords DESC, s_suppkey ASC) AS rn
      |  FROM geoms) WHERE rn = 1""".stripMargin

  /** F11: HTML -> text strip (tag removal), keeping the original beside
    * it — the `_content_html` pattern. */
  def htmlStrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val html = concat(lit("<p class=\"t\">"), $"text", lit("</p><br/>"))
    Tables.load(spark, dir, "documents")
      .select($"doc_id", html.as("content_html"))
      .select($"doc_id",
        length($"content_html").cast("long").as("html_len"),
        length(regexp_replace($"content_html", "<[^>]*>", "")).cast("long")
          .as("text_len"))
  }
  private val htmlStripOracle: String =
    """SELECT doc_id,
      |  CAST(LENGTH('<p class="t">' || text || '</p><br/>') AS BIGINT) AS html_len,
      |  CAST(LENGTH(regexp_replace('<p class="t">' || text || '</p><br/>', '<[^>]*>', '', 'g')) AS BIGINT) AS text_len
      |FROM documents""".stripMargin

  /** F8: the URI canonicalizer over a 12-variant fixture exercising
    * every branch: direct match, page/aat pre-fix, alternate match
    * (wiki), trailing slash, trailing .html, quote strip, rewrite +
    * other-external passthrough, double-wrapping recursion, unmatched
    * passthrough, trash, embedded space, empty identifier. */
  def uriCanonicalize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ck = $"c_custkey".cast("long")
    val x = (ck % 1000).cast("string")
    val cs = ck.cast("string")
    val uri = when(ck % 12 === 0, concat(lit("http://vocab.getty.edu/aat/300"), x))
      .when(ck % 12 === 1, concat(lit("https://vocab.getty.edu/page/aat/300"), x))
      .when(ck % 12 === 2, concat(lit("http://www.wikidata.org/wiki/Q"), cs))
      .when(ck % 12 === 3, concat(lit("https://id.loc.gov/authorities/names/n"), cs, lit("/")))
      .when(ck % 12 === 4, concat(lit("http://viaf.org/viaf/"), cs, lit(".html")))
      .when(ck % 12 === 5, concat(lit("https://www.geonames.org/"), x, lit("\"")))
      .when(ck % 12 === 6, concat(lit("http://isni-url.oclc.nl/isni/0000"), cs))
      .when(ck % 12 === 7, concat(lit("https://viaf.org/viaf/http://vocab.getty.edu/aat/300"), x))
      .when(ck % 12 === 8, lit("https://creativecommons.org/licenses/by/4.0/"))
      .when(ck % 12 === 9, concat(lit("https://random.junk.example/"), cs))
      .when(ck % 12 === 10, concat(lit("http://id.loc.gov/authorities/subjects/sh "), cs))
      .otherwise(lit("http://vocab.getty.edu/aat/"))
    Tables.load(spark, dir, "customer")
      .select(ck.as("id"), uri.as("uri"))
      .select($"id", $"uri", functions.UriCanon.canonicalize($"uri").as("canonical"))
  }
  private val uriCanonicalizeOracle: String =
    """WITH b AS (SELECT c_custkey AS ck, c_custkey % 12 AS v,
      |  CAST(c_custkey % 1000 AS VARCHAR) AS x FROM customer)
      |SELECT ck AS id,
      |  CASE v
      |    WHEN 0 THEN 'http://vocab.getty.edu/aat/300' || x
      |    WHEN 1 THEN 'https://vocab.getty.edu/page/aat/300' || x
      |    WHEN 2 THEN 'http://www.wikidata.org/wiki/Q' || ck
      |    WHEN 3 THEN 'https://id.loc.gov/authorities/names/n' || ck || '/'
      |    WHEN 4 THEN 'http://viaf.org/viaf/' || ck || '.html'
      |    WHEN 5 THEN 'https://www.geonames.org/' || x || '"'
      |    WHEN 6 THEN 'http://isni-url.oclc.nl/isni/0000' || ck
      |    WHEN 7 THEN 'https://viaf.org/viaf/http://vocab.getty.edu/aat/300' || x
      |    WHEN 8 THEN 'https://creativecommons.org/licenses/by/4.0/'
      |    WHEN 9 THEN 'https://random.junk.example/' || ck
      |    WHEN 10 THEN 'http://id.loc.gov/authorities/subjects/sh ' || ck
      |    ELSE 'http://vocab.getty.edu/aat/' END AS uri,
      |  CASE v
      |    WHEN 0 THEN 'http://vocab.getty.edu/aat/300' || x
      |    WHEN 1 THEN 'http://vocab.getty.edu/aat/300' || x
      |    WHEN 2 THEN 'http://www.wikidata.org/entity/Q' || ck
      |    WHEN 3 THEN 'http://id.loc.gov/authorities/names/n' || ck
      |    WHEN 4 THEN 'https://viaf.org/viaf/' || ck
      |    WHEN 5 THEN 'https://sws.geonames.org/' || x
      |    WHEN 6 THEN 'http://isni.org/isni/0000' || ck
      |    WHEN 7 THEN 'http://vocab.getty.edu/aat/300' || x
      |    WHEN 8 THEN 'https://creativecommons.org/licenses/by/4.0/'
      |    WHEN 9 THEN NULL
      |    WHEN 10 THEN 'http://id.loc.gov/authorities/subjects/sh' || ck
      |    ELSE NULL END AS canonical
      |FROM b""".stripMargin

  /** The URI-CANON differential (f8b) — the q11/q14/f1b pattern applied
    * to the canonicalizer: every distinct document token becomes the
    * identifier body of ~20 URI templates, one per canonicalize branch
    * and per seam where two string libraries can disagree — pre-split
    * fix first-branch-wins and replace-ALL, identifier after the LAST
    * match occurrence (rsplit), source-table ORDER (wikidata beats viaf
    * regardless of position in the string), double-wrapping recursion,
    * the slash-shadows-.html elif, one-trailing-slash-only, trailing
    * .html removes ALL .html, quote/space scrubbing, the Python
    * str.strip() Unicode whitespace set (NBSP/thin-space edges — the
    * seam this differential found: the engine used Java trim), rewrite
    * → other-external passthrough of the REWRITTEN uri, case
    * sensitivity, dead identifiers, scheme-less contains matching.
    * Engine: the codegen uri_canon expression. Oracle: a full DuckDB
    * re-derivation — str_split(x, m)[-1] for rsplit, an explicit
    * chr()-list trim for Python strip, two unrolled recursion levels
    * (tokens containing 'http' are filtered on both sides so depth > 2
    * is unreachable). Any divergence in ANY branch fails the row hash. */
  private val uriDiffTemplates: Seq[(String, String)] = Seq(
    ("http://vocab.getty.edu/aat/", ""),                      // direct
    ("https://vocab.getty.edu/page/aat/", ""),                // preFix 1
    ("http://vocab.getty.edu/aat/page/", ""),                 // preFix 2
    ("http://vocab.getty.edu/page/aat/page/", ""),            // both: branch 1 wins, replace-ALL
    ("http://vocab.getty.edu/aat/vocab.getty.edu/aat/", ""),  // id after LAST occurrence
    ("http://www.wikidata.org/entity/viaf.org/viaf/", ""),    // two sources, wikidata first in table
    ("http://viaf.org/viaf/www.wikidata.org/entity/", ""),    // table order, not string position
    ("https://viaf.org/viaf/https://sws.geonames.org/", ""),  // double wrap → recursion
    ("http://id.loc.gov/authorities/names/", "/"),            // one trailing slash stripped
    ("http://id.loc.gov/authorities/names/", "//"),           // …exactly one: second survives
    ("https://viaf.org/viaf/", ".html"),                      // trailing .html
    ("https://viaf.org/viaf/", ".html.html"),                 // trailing → removes ALL .html
    ("https://viaf.org/viaf/", ".html/"),                     // slash branch shadows .html (elif)
    ("http://vocab.getty.edu/aat/ ", " \"x”"),                // spaces + straight/curly quotes
    ("http://vocab.getty.edu/aat/\u00a0", "\t"),              // Python strip: NBSP + tab edges
    ("http://vocab.getty.edu/aat/\u202f", "\u3000"),          // narrow nbsp + ideographic space
    ("http://isni-url.oclc.nl/isni/", ""),                    // rewrite → other-external passthrough
    ("https://worldcat.org/fast/", ""),                       // other-external passthrough
    ("https://junk.example/", ""),                            // trash → NULL
    ("HTTP://VOCAB.GETTY.EDU/AAT/", ""),                      // case-sensitive contains → trash
    ("x", "http://vocab.getty.edu/aat/"),                     // empty identifier dies
    ("vocab.getty.edu/aat/", ""))                             // scheme-less contains still routes

  /** Identifier-body decorations: the synthetic corpus vocabulary is
    * small and ASCII, so each token also rides with an interior slash,
    * a non-trailing-then-trailing .html, straight+curly quotes, accented
    * letters, and an INTERIOR NBSP (strip touches edges only; the space
    * removal is ASCII-space only — both must survive). */
  private val uriDiffBodies: Seq[String] =
    Seq("", "/x", ".html", "\"q”x", "ü.à", "\u00a0z")

  def uriDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.load(spark, dir, "documents")
      .select(explode(TextQueries.tokensCol(lower(col("text")))).as("b"))
      .filter(!col("b").contains("http"))
      .distinct()
    val bodies = toks.select(explode(array(uriDiffBodies.map(s =>
        concat($"b", lit(s))): _*)).as("b")).distinct()
    bodies.select(explode(array(uriDiffTemplates.map { case (p, s) =>
        concat(lit(p), $"b", lit(s)) }: _*)).as("uri"))
      .distinct()
      .select($"uri", functions.UriCanon.canonicalize($"uri").as("canonical"))
  }

  private def uriDiffOracle: String = {
    import graft.functions.UriCanon
    // first contained match wins, in SOURCE-TABLE order (split_uri's
    // nested loops, config.py:203-216)
    def matchCase(x: String): String = "CASE " + UriCanon.sources.flatMap(s =>
      s.matches.map(m => s"WHEN contains($x, '$m') THEN '$m'"))
      .mkString(" ") + " END"
    def nsCase(x: String): String = "CASE " + UriCanon.sources.flatMap(s =>
      s.matches.map(m => s"WHEN contains($x, '$m') THEN '${s.namespace}'"))
      .mkString(" ") + " END"
    def preFix(x: String): String =
      s"CASE WHEN contains($x, 'page/aat') THEN replace($x, 'page/aat', 'aat') " +
        s"WHEN contains($x, 'aat/page') THEN replace($x, 'aat/page', 'aat') " +
        s"ELSE $x END"
    val rewriteCase = UriCanon.rewrites.foldRight("uri") { case ((bad, good), acc) =>
      s"CASE WHEN contains(uri, '$bad') THEN replace(uri, '$bad', '$good') ELSE $acc END"
    }
    val pyWs = UriCanon.pyWhitespace.map(cp => s"chr($cp)").mkString(" || ")
    // fix_identifier in two staged columns: scrub (Python strip + the
    // space/quote removals), then the slash-elif-.html branch
    def scrub(x: String): String =
      s"replace(replace(replace(trim($x, $pyWs), ' ', ''), '\"', ''), '”', '')"
    def fixBranch(t: String): String =
      s"CASE WHEN ends_with($t, '/') THEN substr($t, 1, length($t) - 1) " +
        s"WHEN ends_with($t, '.html') THEN replace($t, '.html', '') " +
        s"ELSE $t END"
    val otherExt = UriCanon.otherExternal
      .map(m => s"contains(u, '$m')").mkString(" OR ")
    def q(v: String) = "'" + v.replace("'", "''") + "'"
    val tpl = uriDiffTemplates.map { case (p, s) => s"(${q(p)}, ${q(s)})" }
      .mkString(", ")
    val bodySufs = uriDiffBodies.map(q).mkString("[", ", ", "]")
    val t = TextQueries.tokensSql("lower(text)")
    s"""WITH base AS (SELECT DISTINCT unnest($t) AS b FROM documents),
       |tb AS (SELECT b FROM base WHERE NOT contains(b, 'http')),
       |bodies AS (SELECT DISTINCT b || s.suf AS b
       |  FROM tb, (SELECT unnest($bodySufs) AS suf) s),
       |uris AS (SELECT DISTINCT t.pre || b || t.suf AS uri
       |  FROM bodies, (VALUES $tpl) t(pre, suf)),
       |r0 AS (SELECT uri, $rewriteCase AS u FROM uris),
       |l1 AS (SELECT uri, u, ${preFix("u")} AS p1 FROM r0),
       |m1 AS (SELECT *, ${matchCase("p1")} AS mm1, ${nsCase("p1")} AS ns1 FROM l1),
       |i1 AS (SELECT *, CASE WHEN mm1 IS NOT NULL
       |  THEN (str_split(p1, mm1))[-1] END AS id1 FROM m1),
       |w AS (SELECT *, coalesce(id1 LIKE 'http://%' OR id1 LIKE 'https://%',
       |  false) AS wrap FROM i1),
       |l2 AS (SELECT *, CASE WHEN wrap THEN ${preFix("id1")} END AS p2 FROM w),
       |m2 AS (SELECT *, ${matchCase("p2")} AS mm2, ${nsCase("p2")} AS ns2 FROM l2),
       |i2 AS (SELECT *, CASE WHEN mm2 IS NOT NULL
       |  THEN (str_split(p2, mm2))[-1] END AS id2 FROM m2),
       |s1 AS (SELECT *, ${scrub("id1")} AS t1, ${scrub("id2")} AS t2 FROM i2),
       |f1 AS (SELECT *, ${fixBranch("t1")} AS fixed1, ${fixBranch("t2")} AS fixed2
       |  FROM s1),
       |fx AS (SELECT uri, u,
       |  CASE WHEN mm1 IS NULL THEN NULL
       |       WHEN wrap THEN CASE WHEN mm2 IS NOT NULL
       |         AND NULLIF(fixed2, '') IS NOT NULL THEN ns2 || fixed2 END
       |       ELSE CASE WHEN NULLIF(fixed1, '') IS NOT NULL
       |         THEN ns1 || fixed1 END
       |  END AS routed FROM f1)
       |SELECT uri, COALESCE(routed, CASE WHEN $otherExt THEN u END) AS canonical
       |FROM fx""".stripMargin
  }

  final case class LcOut(id: Long, label: String, names: String,
      alts: String, eqs: String)

  /** M1c: the LC authority mapper exemplar (`lc/mapper.py:187-340`) —
    * madsrdf label/variant name assembly plus the equivalence selection
    * rules, as a typed map stage over claims synthesized from customer
    * keys. The oracle replays every rule, including the viaf-seen
    * suppression and the wikidata 4-cap close-match break. */
  def lcNames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.pipeline.LcNames
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey").cast("long"))
      .as[Long].map { ck =>
        val prefs = Seq((s"nm${ck % 40}",
          (ck % 3) match {
            case 0 => Some("en")
            case 1 => Some("xx") // not in process_langs: dropped
            case _ => None
          })) ++
          (if (ck % 4 == 0) Seq((s"alt${ck % 40}", Some("fr": String))) else Nil)
        val (label, names) = LcNames.mapLabel(prefs)
        val alts = LcNames.variants(
          if (ck % 2 == 0)
            Seq((s"var${ck % 30}", Some(if (ck % 5 == 0) "de" else "yy")))
          else Nil)
        val idby =
          (if (ck % 2 == 0) Seq(s"http://dbpedia.org/resource/x$ck") else Nil) ++
          (if (ck % 3 == 0) Seq(s"http://vocab.getty.edu/tgn/${ck % 100}-place") else Nil) ++
          (if (ck % 5 == 0) Seq(s"https://viaf.org/viaf/${ck % 500}") else Nil) ++
          (if (ck % 7 == 0) Seq(s"http://id.loc.gov/rwo/agents/r$ck") else Nil) ++
          Seq(s"https://other.org/a$ck")
        val exact =
          (if (ck % 3 == 1) Seq(s"https://viaf.org/viaf/${ck % 500}") else Nil) ++
          (if (ck % 2 == 1) Seq(s"https://exact.org/e$ck") else Nil)
        val later = if (ck % 6 == 0) Seq(s"https://later.org/l$ck") else Nil
        val close =
          (if (ck % 4 == 0) Seq(s"https://www.wikidata.org/entity/Q${ck % 90}") else Nil) ++
          (if (ck % 4 <= 1) Seq(s"https://data.bnf.fr/ark:$ck") else Nil) ++
          (if (ck % 9 == 0) Seq(s"https://close.org/c$ck") else Nil)
        val eqs = LcNames.selectEquivalents(idby, exact, later, close,
          isGroup = ck % 8 == 0)
        LcOut(ck, label.orNull,
          names.map(n => s"${n.content}|${n.lang.getOrElse("")}").mkString(";"),
          alts.map(n => s"${n.content}|${n.lang.getOrElse("")}").mkString(";"),
          eqs.mkString(";"))
      }.toDF()
  }

  private val lcNamesOracle: String =
    """WITH b AS (SELECT c_custkey AS ck FROM customer),
      |parts AS (
      |  SELECT ck,
      |    CASE WHEN ck % 3 = 0 THEN
      |      'http://vocab.getty.edu/tgn/' || (ck % 100) END AS tgn,
      |    CASE WHEN ck % 5 = 0 THEN
      |      'https://viaf.org/viaf/' || (ck % 500) END AS viaf,
      |    'https://other.org/a' || ck AS other,
      |    CASE WHEN ck % 3 = 1 AND ck % 5 <> 0 THEN
      |      'https://viaf.org/viaf/' || (ck % 500) END AS viafx,
      |    CASE WHEN ck % 2 = 1 THEN 'https://exact.org/e' || ck END AS exct,
      |    CASE WHEN ck % 6 = 0 AND ck % 8 <> 0 THEN
      |      'https://later.org/l' || ck END AS later,
      |    CASE WHEN ck % 4 = 0 THEN
      |      'https://www.wikidata.org/entity/Q' || (ck % 90) END AS wd,
      |    CASE WHEN ck % 9 = 0 THEN 'https://close.org/c' || ck END AS clo
      |  FROM b),
      |counted AS (
      |  SELECT *,
      |    (CASE WHEN tgn IS NULL THEN 0 ELSE 1 END
      |     + CASE WHEN viaf IS NULL THEN 0 ELSE 1 END + 1
      |     + CASE WHEN viafx IS NULL THEN 0 ELSE 1 END
      |     + CASE WHEN exct IS NULL THEN 0 ELSE 1 END
      |     + CASE WHEN later IS NULL THEN 0 ELSE 1 END) AS base_n
      |  FROM parts)
      |SELECT ck AS id,
      |  'nm' || (ck % 40) AS label,
      |  'nm' || (ck % 40) || '|' ||
      |    CASE WHEN ck % 3 = 0 THEN 'en' ELSE '' END ||
      |    CASE WHEN ck % 4 = 0 THEN ';alt' || (ck % 40) || '|fr' ELSE '' END
      |    AS names,
      |  CASE WHEN ck % 2 = 0 THEN 'var' || (ck % 30) || '|' ||
      |    CASE WHEN ck % 5 = 0 THEN 'de' ELSE '' END ELSE '' END AS alts,
      |  array_to_string(list_filter([
      |    tgn, viaf, other, viafx, exct, later, wd,
      |    CASE WHEN NOT (wd IS NOT NULL AND base_n + 1 >= 4)
      |      THEN clo END
      |  ], x -> x IS NOT NULL), ';') AS eqs
      |FROM counted""".stripMargin

  final case class GettyOut(id: Long, guessed_type: String,
      name_class: String, name_lang: String, ts_begin: String,
      ts_end: String, part_of: String, broader_csv: String, ulan_csv: String)

  /** M1h: the Getty vocabulary mapper exemplar (`getty/mapper.py`,
    * AAT+ULAN+TGN) — guess_type's id-set/rdf-type/parent/label-suffix
    * election, the name-classification last-match-wins rules with the
    * drop-on-unmapped-language gate, fix_getty_timestamp's fixups
    * (24:00:00, end-slot 23:59:59, the 1200-01-01 placeholder and
    * post-2025 drops), TGN's nation-classified part_of preference and
    * ULAN's nested meta-classification flags. The oracle replays every
    * branch arm by arm. */
  def gettyVocab(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.pipeline.GettyMap
    val aat = "http://vocab.getty.edu/aat/"
    val term = "http://vocab.getty.edu/term/"
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey").cast("long"))
      .as[Long].map { ck =>
        // guess_type: one fixture per branch arm
        val g = ck % 8
        val (types, isList, pob, label) = g match {
          case 3 => (Seq("Type", if (ck % 2 == 0) "Language" else "Material"),
            true, Nil, "x")
          case 4 => (Seq("Type"), false, Seq(s"${aat}999", s"${aat}300411913"), "x")
          case 5 => (Seq("Type"), false, Seq(s"${aat}300411993"), "x")
          case 6 => (Seq("Type"), false, Nil, (ck % 4) match {
            case 0 => "saami (language)"
            case 1 => "bole (material)"
            case 2 => "sol (unit of money)"
            case _ => "carving (process)"
          })
          case 7 => (Seq(if (ck % 2 == 0) "Activity" else "Facet"), false, Nil, "x")
          case _ => (Seq("Type"), false, Nil, "x")
        }
        val gt = GettyMap.aatGuessType("X", types, isList, pob, label,
          langIds = if (g == 0) Set("X") else Set.empty,
          materialIds = if (g == 1) Set("X") else Set.empty,
          unitIds = if (g == 2) Set("X") else Set.empty)
        // name classification + language gate
        val cls = (ck % 6) match {
          case 0 => Seq(s"${term}type/Descriptor")
          case 1 => Seq(s"${term}POS/Noun", s"${aat}300404670")
          case 2 => Seq(s"${term}type/AlternateDescriptor")
          case 3 => Seq(s"${aat}300404650")
          case 4 => Seq(s"${term}type/UsedForTerm") // kept: faithful bug port
          case _ => Seq(s"${term}type/Descriptor", "http://vocab.getty.edu/historic/historic")
        }
        val lang = (ck % 5) match {
          case 0 => Some("en")
          case 1 => Some("eng")
          case 2 => Some("xx") // unmapped: whole name dropped
          case 3 => None
          case _ => Some("fre")
        }
        val nm = GettyMap.name(s"nm${ck % 40}", cls, lang)
        // timestamps: the same raw value through both four-point slots
        val raw = (ck % 7) match {
          case 0 => "1999"
          case 1 => "2001-05-03T24:00:00"
          case 2 => "2001-05-03T00:00:00"
          case 3 => "1200-01-01T00:00:00"
          case 4 => "2030-01-01T00:00:00"
          case 5 => "-0100-01-01T00:00:00"
          case _ => "9999" // unparseable: dropped
        }
        // TGN broader preference
        val nation = Seq("http://vocab.getty.edu/aat/300449152")
        val brdrs = (ck % 4) match {
          case 0 => Seq((s"p${ck}a", "L", nation), (s"p${ck}b", "L", Nil))
          case 1 => Seq((s"p${ck}a", "L", Nil), (s"p${ck}b", "L", nation))
          case 2 => Seq((s"p${ck}a", "L", Nil), (s"p${ck}b", "L", Nil))
          case _ => Nil
        }
        val (partOf, broaders) = GettyMap.tgnBroader(brdrs)
        // ULAN meta-classification
        val (cxid, metas) = (ck % 5) match {
          case 0 => (s"${aat}300379012", Nil) // ignore value
          case 1 => (s"${aat}300386154", Nil) // accept value
          case 2 => (s"${aat}1", Seq(s"${aat}300263369", s"${aat}300379842"))
          case 3 => (s"${aat}2", Seq(s"${aat}junk", s"${aat}300055147", s"${aat}300263369"))
          case _ => (s"${aat}3", Seq(s"${aat}300263369", s"${aat}300435108"))
        }
        val ulan = GettyMap.ulanClassifications(cxid, metas)
        GettyOut(ck, gt,
          nm.map(_.cls).orNull, nm.flatMap(_.lang).orNull,
          GettyMap.fixTimestamp(raw, endPos = false),
          GettyMap.fixTimestamp(raw, endPos = true),
          partOf.map(_._1).orNull,
          broaders.map(_._1).mkString(";"),
          ulan.mkString(";"))
      }.toDF()
  }

  private val gettyVocabOracle: String =
    """WITH b AS (SELECT c_custkey AS ck FROM customer)
      |SELECT ck AS id,
      |  CASE ck % 8
      |    WHEN 0 THEN 'Language' WHEN 1 THEN 'Material'
      |    WHEN 2 THEN 'MeasurementUnit'
      |    WHEN 3 THEN CASE WHEN ck % 2 = 0 THEN 'Language' ELSE 'Material' END
      |    WHEN 4 THEN 'Language' WHEN 5 THEN 'Currency'
      |    WHEN 6 THEN CASE ck % 4 WHEN 0 THEN 'Language' WHEN 1 THEN 'Material'
      |      WHEN 2 THEN 'Currency' ELSE 'Type' END
      |    ELSE CASE WHEN ck % 2 = 0 THEN 'Activity' ELSE 'Type' END
      |  END AS guessed_type,
      |  CASE WHEN ck % 5 = 2 THEN NULL ELSE
      |    CASE ck % 6
      |      WHEN 0 THEN 'Primary' WHEN 1 THEN 'Primary'
      |      WHEN 2 THEN 'Alternate' WHEN 3 THEN 'Name'
      |      WHEN 4 THEN 'Name' ELSE 'Alternate' END
      |  END AS name_class,
      |  CASE ck % 5 WHEN 0 THEN 'en' WHEN 1 THEN 'en'
      |    WHEN 4 THEN 'fr' ELSE NULL END AS name_lang,
      |  CASE ck % 7
      |    WHEN 0 THEN '1999-01-01T00:00:00'
      |    WHEN 1 THEN '2001-05-03T23:59:59'
      |    WHEN 2 THEN '2001-05-03T00:00:00'
      |    WHEN 5 THEN '-0100-01-01T00:00:00'
      |    ELSE '' END AS ts_begin,
      |  CASE ck % 7
      |    WHEN 0 THEN '1999-12-31T23:59:59'
      |    WHEN 1 THEN '2001-05-03T23:59:59'
      |    WHEN 2 THEN '2001-05-03T23:59:59'
      |    WHEN 5 THEN '-0100-01-01T23:59:59'
      |    ELSE '' END AS ts_end,
      |  CASE ck % 4 WHEN 0 THEN 'p' || ck || 'a'
      |    WHEN 1 THEN 'p' || ck || 'b' ELSE NULL END AS part_of,
      |  CASE ck % 4 WHEN 2 THEN 'p' || ck || 'a;p' || ck || 'b'
      |    ELSE '' END AS broader_csv,
      |  CASE ck % 5 WHEN 0 THEN '' WHEN 1 THEN 'Type'
      |    WHEN 2 THEN 'Occupation;Nationality' WHEN 3 THEN 'Gender'
      |    ELSE 'Occupation;Occupation' END AS ulan_csv
      |FROM b""".stripMargin

  final case class FastOut(id: Long, guessed: String, fast_uri: String,
      eqs_csv: String, lon_arcsec: java.lang.Long, lat_arcsec: java.lang.Long,
      names_csv: String, ts_csv: String)

  /** M1i: the OCLC FAST authority mapper exemplar (`fast/mapper.py`) —
    * MARC-tag type election in map order, fast-id URI minting,
    * equivalence routing (wikipedia→QID, DLC→LCSH, OCoLC→fast), DMS
    * coordinate parsing in exact arc-seconds, primary/alternate name
    * assembly and four-point timespans. Every branch arm replayed by
    * the oracle. */
  def fastAuth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.pipeline.FastMap
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey").cast("long"))
      .as[Long].map { ck =>
        val tags: Set[String] = (ck % 6) match {
          case 0 => Set("100")
          case 1 => Set("148", "100") // map order: Period wins
          case 2 => Set("151")
          case 3 => Set("110")
          case 4 => Set("147")
          case _ => Set("999")
        }
        val guessed = FastMap.guessType(tags).getOrElse("none")
        val fastUri = FastMap.fastIdToUri(f"(OCoLC)fst${ck % 9000}%08d")
        val eqs = FastMap.equivalents(Seq(
          s"https://en.wikipedia.org/wiki/Page$ck",
          s"(DLC) sh ${ck % 100}",
          f"(OCoLC)fst${ck % 9000}%08d",
          s"https://plain.org/p$ck",
          s"https://plain.org/p$ck"), // dup: dropped
          _ => if (ck % 3 == 0) Some(s"Q${ck % 70}") else None)
        val sec = ck % 60
        val dms = (ck % 5) match {
          case 0 => s"52°22ʹ${sec}ʺN 004°38ʹ13ʺE"
          case 1 => s"x;52°22ʹ${sec}ʺS 004°38ʹ13ʺW"
          case 2 => "52°22'" + sec + "\"N 004°38'13\"E"
          case 3 => "52°22ʹ51N 004°38ʹ13E" // seconds mark optional
          case _ => "notacoord"
        }
        val pt = FastMap.dmsToArcsec(dms)
        val names = FastMap.assignNames(Seq("", s"n${ck % 20}", "alt"),
          hasPrimary = ck % 2 == 1)
        val ts = (ck % 4) match {
          case 0 => FastMap.buildTimespan(Some("1990"), Some("2000"))
          case 1 => FastMap.buildTimespan(Some("1990"), None)
          case 2 => FastMap.buildTimespan(None, Some("9999")) // unparseable
          case _ => FastMap.buildTimespan(None, None)
        }
        FastOut(ck, guessed, fastUri, eqs.mkString(";"),
          pt.map(p => java.lang.Long.valueOf(p._1)).orNull,
          pt.map(p => java.lang.Long.valueOf(p._2)).orNull,
          names.map(n => s"${n._1}|${n._2}").mkString(";"),
          ts.map(t => s"${t._1}|${t._2}|${t._3}|${t._4}").orNull)
      }.toDF()
  }

  private val fastAuthOracle: String =
    """WITH b AS (SELECT c_custkey AS ck FROM customer)
      |SELECT ck AS id,
      |  CASE ck % 6 WHEN 0 THEN 'Person' WHEN 1 THEN 'Period'
      |    WHEN 2 THEN 'Place' WHEN 3 THEN 'Group' WHEN 4 THEN 'Activity'
      |    ELSE 'none' END AS guessed,
      |  'http://id.worldcat.org/fast/' ||
      |    ltrim(lpad(CAST(ck % 9000 AS VARCHAR), 8, '0'), '0') AS fast_uri,
      |  array_to_string(list_filter([
      |    CASE WHEN ck % 3 = 0
      |      THEN 'http://www.wikidata.org/entity/Q' || (ck % 70) END,
      |    'http://id.loc.gov/authorities/subjects/sh' || (ck % 100),
      |    'http://id.worldcat.org/fast/' ||
      |      ltrim(lpad(CAST(ck % 9000 AS VARCHAR), 8, '0'), '0'),
      |    'https://plain.org/p' || ck
      |  ], x -> x IS NOT NULL), ';') AS eqs_csv,
      |  CAST(CASE ck % 5 WHEN 0 THEN 16693 WHEN 1 THEN -16693
      |    WHEN 2 THEN 16693 WHEN 3 THEN 16693 ELSE NULL END AS BIGINT) AS lon_arcsec,
      |  CAST(CASE ck % 5 WHEN 0 THEN 188520 + ck % 60
      |    WHEN 1 THEN -(188520 + ck % 60)
      |    WHEN 2 THEN 188520 + ck % 60
      |    WHEN 3 THEN 188571 ELSE NULL END AS BIGINT) AS lat_arcsec,
      |  'n' || (ck % 20) ||
      |    CASE WHEN ck % 2 = 1 THEN '|Alternate' ELSE '|Primary' END ||
      |    ';alt|Alternate' AS names_csv,
      |  CASE ck % 4
      |    WHEN 0 THEN '1990-01-01T00:00:00|1990-12-31T23:59:59|2000-01-01T00:00:00|2000-12-31T23:59:59'
      |    WHEN 1 THEN '1990-01-01T00:00:00|1990-12-31T23:59:59||'
      |    ELSE NULL END AS ts_csv
      |FROM b""".stripMargin

  final case class ArticOut(id: Long, cls: String, uri: String,
      ts_csv: String, cat_csv: String, artists_csv: String)

  /** M1j: the Art Institute of Chicago museum mapper exemplar
    * (`museums/artic/mapper.py`) — api_model type routing, per-class
    * URI minting, the handle_timespan fallback matrix (life events
    * collapse to (bb, ee); productions build the full four-point with
    * `d1 - d2` display synthesis), category-term routing where a
    * concordance miss demotes the property, and dict-zip artist
    * assembly (first position, last title). The begins-unparseable
    * timespan arms are spec-covered (`ArticMapSpec`); the oracle
    * replays the parseable matrix arm by arm. */
  def articMuseum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.pipeline.ArticMap
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey").cast("long"))
      .as[Long].map { ck =>
        val (apiModel, isArtist) = (ck % 5) match {
          case 0 => ("artworks", false)
          case 1 => ("exhibitions", true)
          case 2 => ("agents", true)
          case 3 => ("agents", false)
          case _ => ("junk", true)
        }
        val cls = ArticMap.guessType(apiModel, isArtist)
        val uri = ArticMap.mintUri(cls, ck)
        val date1 = (ck % 3) match {
          case 0 => "1880"
          case 1 => "1880-05-02T00:00:00"
          case _ => "1880-05-02"
        }
        val date3 = if (ck % 4 == 0) Some("circa 1880") else None
        val ts =
          if (ck % 2 == 0) ArticMap.timespan(date1, None, date3, life = true)
          else {
            val date2 = (ck % 5) match {
              case 0 | 1 | 2 => Some("1890")
              case 3 => Some("9999") // unparseable end
              case _ => None
            }
            ArticMap.timespan(date1, date2, date3, life = false)
          }
        val cat = (ck % 4) match {
          case 0 => "technique"
          case 1 => "material"
          case 2 => "style"
          case _ => "subject"
        }
        val aat = if ((ck / 4) % 2 == 0) Some((300000 + ck % 100).toString) else None
        val (prop, ident, lbl) = ArticMap.categoryRoute(cat, aat, s"t${ck % 30}")
        val (ids, titles) =
          if (ck % 4 == 0) (Seq(ck % 7, ck % 7 + 1, ck % 7), Seq("a", "b", "c"))
          else (Seq(ck % 7, ck % 7 + 1), Seq("a", "b"))
        val arts = ArticMap.artists(ids, titles)
        ArticOut(ck, cls, uri,
          s"${ts.bb}|${ts.eb}|${ts.be}|${ts.ee}|${ts.display}",
          s"$prop|$ident|$lbl",
          arts.map(a => s"${a._1}|${a._2}").mkString(";"))
      }.toDF()
  }

  private val articMuseumOracle: String =
    """WITH b AS (SELECT c_custkey AS ck FROM customer),
      |parts AS (
      |  SELECT ck,
      |    CASE ck % 5 WHEN 0 THEN 'HumanMadeObject' WHEN 1 THEN 'Activity'
      |      WHEN 2 THEN 'Person' ELSE 'Group' END AS cls,
      |    CASE ck % 3 WHEN 0 THEN '1880' ELSE '1880-05-02' END AS d1t,
      |    CASE ck % 3 WHEN 0 THEN '1880-01-01T00:00:00'
      |      ELSE '1880-05-02T00:00:00' END AS bbp,
      |    CASE ck % 3 WHEN 0 THEN '1880-12-31T23:59:59'
      |      ELSE '1880-05-02T23:59:59' END AS bep
      |  FROM b)
      |SELECT ck AS id, cls,
      |  CASE cls WHEN 'HumanMadeObject'
      |      THEN 'https://api.artic.edu/api/v1/artworks/' || ck
      |    WHEN 'Activity' THEN 'https://api.artic.edu/api/v1/exhibitions/' || ck
      |    ELSE 'https://api.artic.edu/api/v1/agents/' || ck END AS uri,
      |  CASE WHEN ck % 2 = 0 THEN
      |    bbp || '|||' || bep || '|' ||
      |      CASE WHEN ck % 4 = 0 THEN 'circa 1880' ELSE d1t END
      |  WHEN ck % 5 < 3 THEN
      |    bbp || '|' || bep || '|1890-01-01T00:00:00|1890-12-31T23:59:59|' ||
      |      CASE WHEN ck % 4 = 0 THEN 'circa 1880'
      |        ELSE d1t || ' - 1890' END
      |  ELSE
      |    bbp || '|||' || bep || '|' ||
      |      CASE WHEN ck % 4 = 0 THEN 'circa 1880' ELSE d1t END
      |  END AS ts_csv,
      |  CASE ck % 4
      |    WHEN 0 THEN 'production.technique'
      |    WHEN 1 THEN CASE WHEN (ck // 4) % 2 = 0 THEN 'made_of'
      |      ELSE 'referred_to_by.MaterialStatement' END
      |    WHEN 2 THEN CASE WHEN (ck // 4) % 2 = 0 THEN 'shows.classified_as.Style'
      |      ELSE 'shows.classified_as.Type' END
      |    ELSE 'shows.represents' END || '|' ||
      |  CASE WHEN (ck // 4) % 2 = 0
      |    THEN 'https://vocab.getty.edu/aat/' || (300000 + ck % 100)
      |    ELSE '' END || '|t' || (ck % 30) AS cat_csv,
      |  CASE WHEN ck % 4 = 0
      |    THEN (ck % 7) || '|c;' || (ck % 7 + 1) || '|b'
      |    ELSE (ck % 7) || '|a;' || (ck % 7 + 1) || '|b' END AS artists_csv
      |FROM parts""".stripMargin

  final case class YulOut(id: Long, parent: String, part_of_uri: String,
      cx_out: String, sort_out: String)

  /** M1k: the Yale Library (YUL) mapper exemplar
    * (`yale/library/mapper.py`) — parenthetical place-parent
    * resolution against the known-places table (colon-qualified,
    * comma-right-preference and ` and `-joined forms), the MarcGT→AAT
    * classification swaps and the sort-title id swap. */
  def yulPlaces(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.pipeline.YulMap
    val known = Set("France", "England", "Germany", "Sweden")
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey").cast("long"))
      .as[Long].map { ck =>
        val name = (ck % 8) match {
          case 0 => s"Abbey${ck % 10} (Paris, France)"
          case 1 => s"P${ck % 10} (Norfolk, England : Parish)"
          case 2 => s"K${ck % 10} (Sweden : Kommun)"
          case 3 => s"X${ck % 10} (Bavaria and Germany)"
          case 4 => s"Y${ck % 10} (Nowhere, Unknownland)"
          case 5 => s"Z${ck % 10} Paris"
          case 6 => s"W${ck % 10} (France)"
          case _ => s"V${ck % 10} (Paris : France)"
        }
        val parent = YulMap.parensParent(name, known)
        val cx = (ck % 3) match {
          case 0 => "http://id.loc.gov/vocabulary/marcgt/rea"
          case 1 => "http://id.loc.gov/vocabulary/marcgt/pic"
          case _ => s"http://other.example/t${ck % 9}"
        }
        val sortId = if (ck % 2 == 0) "https://vocab.getty.edu/aat/300451544"
          else s"http://vocab.getty.edu/aat/${ck % 1000}"
        YulOut(ck, parent.orNull,
          parent.map("place:" + _).orNull,
          YulMap.marcgtSwap(cx), YulMap.sortTitleSwap(sortId))
      }.toDF()
  }

  private val yulPlacesOracle: String =
    """WITH b AS (SELECT c_custkey AS ck FROM customer),
      |p AS (
      |  SELECT ck,
      |    CASE ck % 8
      |      WHEN 0 THEN 'France' WHEN 1 THEN 'England' WHEN 2 THEN 'Sweden'
      |      WHEN 3 THEN 'Germany' WHEN 6 THEN 'France' WHEN 7 THEN 'France'
      |      ELSE NULL END AS parent
      |  FROM b)
      |SELECT ck AS id, parent,
      |  CASE WHEN parent IS NULL THEN NULL ELSE 'place:' || parent END
      |    AS part_of_uri,
      |  CASE ck % 3
      |    WHEN 0 THEN 'http://vocab.getty.edu/aat/300265419'
      |    WHEN 1 THEN 'http://vocab.getty.edu/aat/300264388'
      |    ELSE 'http://other.example/t' || (ck % 9) END AS cx_out,
      |  CASE WHEN ck % 2 = 0 THEN 'http://vocab.getty.edu/aat/300456575'
      |    ELSE 'http://vocab.getty.edu/aat/' || (ck % 1000) END AS sort_out
      |FROM p""".stripMargin

  final case class BnfOut(id: Long, tree: String, broader_csv: String,
      eqs_csv: String, pref: String, alts_csv: String)

  /** M1l: the BnF mapper exemplar (`libraries/bnf/mapper.py`) — the
    * consume-once @graph reconstitution (diamond refs inline once,
    * second reference stays bare; dangling refs stay bare), skos
    * label language gating, the broader→domaine fallback and the
    * exact+close equivalent dedupe. Cyclic graphs are spec-covered
    * (`BnfMapSpec`); the oracle replays the acyclic arms. */
  def bnfGraph(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.pipeline.BnfMap
    import graft.pipeline.BnfMap.{BnfNode, Ref, Scalar}
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey").cast("long"))
      .as[Long].map { ck =>
        val x = (ck % 50).toString
        val nodes = (ck % 3) match {
          case 0 => Seq( // diamond: second ref to c stays bare
            BnfNode("r", Seq("a" -> Ref("c"), "b" -> Ref("c"))),
            BnfNode("c", Seq("x" -> Scalar(x))))
          case 1 => Seq( // chain inlines transitively
            BnfNode("r", Seq("a" -> Ref("c"))),
            BnfNode("c", Seq("x" -> Ref("d"))),
            BnfNode("d", Seq("y" -> Scalar(x))))
          case _ => Seq( // dangling ref stays bare
            BnfNode("r", Seq("a" -> Ref("z"))))
        }
        val tree = BnfMap.reconstitute("r", nodes).get
        val broader = BnfMap.broaderOrDomaine(
          if (ck % 2 == 0) Seq(s"b${ck % 9}") else Nil,
          Seq(s"d${ck % 9}"))
        val eqs = BnfMap.equivalents(
          Seq(s"x${ck % 5}", s"x${ck % 5}", "y"),
          Seq("y", s"z${ck % 7}"))
        val pref = BnfMap.label(s"nm${ck % 40}", (ck % 4) match {
          case 0 => Some("fr")
          case 1 => Some("xx") // unmapped: label kept, language dropped
          case 2 => None
          case _ => Some("en")
        })
        val alts = Seq(
          BnfMap.label(s"alt${ck % 30}", None),
          BnfMap.label("alt2", Some("de")))
        BnfOut(ck, tree, broader.mkString(";"), eqs.mkString(";"),
          s"${pref.content}|${pref.lang.getOrElse("")}",
          alts.map(a => s"${a.content}|${a.lang.getOrElse("")}").mkString(";"))
      }.toDF()
  }

  private val bnfGraphOracle: String =
    """WITH b AS (SELECT c_custkey AS ck FROM customer)
      |SELECT ck AS id,
      |  CASE ck % 3
      |    WHEN 0 THEN 'r{a=c{x=' || (ck % 50) || '},b=@c}'
      |    WHEN 1 THEN 'r{a=c{x=d{y=' || (ck % 50) || '}}}'
      |    ELSE 'r{a=@z}' END AS tree,
      |  CASE WHEN ck % 2 = 0 THEN 'b' || (ck % 9)
      |    ELSE 'd' || (ck % 9) END AS broader_csv,
      |  'x' || (ck % 5) || ';y;z' || (ck % 7) AS eqs_csv,
      |  'nm' || (ck % 40) || '|' ||
      |    CASE ck % 4 WHEN 0 THEN 'fr' WHEN 3 THEN 'en' ELSE '' END AS pref,
      |  'alt' || (ck % 30) || '|;alt2|de' AS alts_csv
      |FROM b""".stripMargin

  final case class LongTailOut(id: Long, wkt: String, bbox: String,
      ndl_cls: String, viaf_cls: String, viaf_id: String,
      orcid_date: String, snac_prop: String)

  /** M1m: the long-tail per-source quirks in one pass — pleiades
    * GeoJSON→WKT (exterior rings only) and bbox rings, NDL topic/
    * inScheme routing, VIAF nameType map + sourceID refusal, ORCID
    * date assembly, SNAC event property naming. With this, every
    * per-source mapper in the reference has exemplar coverage. */
  def longTail(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.pipeline.LongTail
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey").cast("long"))
      .as[Long].map { ck =>
        val x = (ck % 180).toString
        val y = (ck % 90).toString
        val ext = Seq(("0", "0"), (x, "0"), (x, y), ("0", "0"))
        val hole = Seq(("9", "9"), ("8", "8"), ("9", "9"))
        val wkt = (ck % 4) match {
          case 0 => LongTail.geojsonToWkt("Point",
            Seq(Seq(Seq((s"$x.5", s"$y.25")))))
          case 1 => LongTail.geojsonToWkt("Polygon", Seq(Seq(ext, hole)))
          case 2 => LongTail.geojsonToWkt("MultiPolygon", Seq(
            Seq(Seq(("0", "0"), (x, "1")), hole),
            Seq(Seq(("1", "1"), ("2", y)))))
          case _ => LongTail.geojsonToWkt("Weird", Nil)
        }
        val bbox = LongTail.bboxWkt((ck % 10).toString, (ck % 5).toString,
          (ck % 10 + 1).toString, (ck % 5 + 1).toString)
        val ndl = (ck % 6) match {
          case 0 => LongTail.ndlClass("http://xmlns.com/foaf/0.1/Person", "")
          case 1 => LongTail.ndlClass("http://xmlns.com/foaf/0.1/Organization", "")
          case 2 => LongTail.ndlClass(
            "http://RDVocab.info/uri/schema/FRBRentitiesRDA/Family", "")
          case 3 => LongTail.ndlClass("", "http://id.ndl.go.jp/auth#uniformTitles")
          case 4 => LongTail.ndlClass("", "http://id.ndl.go.jp/auth#geographicNames")
          case _ => LongTail.ndlClass("", "http://id.ndl.go.jp/auth#topicalTerms")
        }
        val vCls = (ck % 4) match {
          case 0 => LongTail.viafClass("Personal")
          case 1 => LongTail.viafClass("Corporate")
          case 2 => LongTail.viafClass("Geographic")
          case _ => LongTail.viafClass("Junk")
        }
        val vId = LongTail.viafIdentifier(
          if (ck % 3 == 0) s"sourceID/x$ck" else s"v$ck")
        val yy = (1900 + ck % 100).toString
        val mm = (1 + ck % 12).toString
        val dd = (1 + ck % 28).toString
        val od = (ck % 5) match {
          case 0 => LongTail.orcidDate(Some(yy), Some(mm), Some(dd))
          case 1 => LongTail.orcidDate(Some(yy), Some(mm), None)
          case 2 => LongTail.orcidDate(Some(yy), None, None)
          case 3 => LongTail.orcidDate(None, Some(mm), Some(dd))
          case _ => LongTail.orcidDate(Some(yy), None, Some(dd))
        }
        val snac = (ck % 6) match {
          case 0 => LongTail.snacProperty("Birth")
          case 1 => LongTail.snacProperty("Death")
          case 2 => LongTail.snacProperty("Formation")
          case 3 => LongTail.snacProperty("Dissolution")
          case 4 => LongTail.snacProperty("Activity")
          case _ => LongTail.snacProperty("Party")
        }
        LongTailOut(ck, wkt.orNull, bbox, ndl.orNull, vCls.orNull,
          vId.orNull, od.orNull, snac.orNull)
      }.toDF()
  }

  private val longTailOracle: String =
    """WITH b AS (SELECT c_custkey AS ck FROM customer),
      |p AS (SELECT ck,
      |  CAST(ck % 180 AS VARCHAR) AS x, CAST(ck % 90 AS VARCHAR) AS y
      |  FROM b)
      |SELECT ck AS id,
      |  CASE ck % 4
      |    WHEN 0 THEN 'POINT (' || x || '.5 ' || y || '.25)'
      |    WHEN 1 THEN 'POLYGON ((0 0, ' || x || ' 0, ' || x || ' ' || y
      |      || ', 0 0))'
      |    WHEN 2 THEN 'MULTIPOLYGON (((0 0, ' || x || ' 1)), ((1 1, 2 '
      |      || y || ')))'
      |    ELSE NULL END AS wkt,
      |  'POLYGON ((' || (ck % 10) || ' ' || (ck % 5) || ', '
      |    || (ck % 10 + 1) || ' ' || (ck % 5) || ', '
      |    || (ck % 10 + 1) || ' ' || (ck % 5 + 1) || ', '
      |    || (ck % 10) || ' ' || (ck % 5 + 1) || ', '
      |    || (ck % 10) || ' ' || (ck % 5) || '))' AS bbox,
      |  CASE ck % 6 WHEN 0 THEN 'Person' WHEN 1 THEN 'Group'
      |    WHEN 2 THEN 'Family' WHEN 3 THEN NULL
      |    WHEN 4 THEN 'Place' ELSE 'Type' END AS ndl_cls,
      |  CASE ck % 4 WHEN 0 THEN 'Person' WHEN 1 THEN 'Group'
      |    WHEN 2 THEN 'Place' ELSE NULL END AS viaf_cls,
      |  CASE WHEN ck % 3 = 0 THEN NULL ELSE 'v' || ck END AS viaf_id,
      |  CASE ck % 5
      |    WHEN 0 THEN (1900 + ck % 100) || '-'
      |      || lpad(CAST(1 + ck % 12 AS VARCHAR), 2, '0') || '-'
      |      || lpad(CAST(1 + ck % 28 AS VARCHAR), 2, '0')
      |    WHEN 1 THEN (1900 + ck % 100) || '-'
      |      || lpad(CAST(1 + ck % 12 AS VARCHAR), 2, '0') || '-01'
      |    WHEN 2 THEN CAST(1900 + ck % 100 AS VARCHAR)
      |    WHEN 3 THEN NULL
      |    ELSE CAST(1900 + ck % 100 AS VARCHAR) END AS orcid_date,
      |  CASE ck % 6 WHEN 0 THEN 'birth' WHEN 1 THEN 'death'
      |    WHEN 2 THEN 'formation' WHEN 3 THEN 'dissolution'
      |    WHEN 4 THEN 'activity' ELSE NULL END AS snac_prop
      |FROM p""".stripMargin

  final case class NomismaOut(id: Long, cls: String, ref_uri: String,
      broader_prop: String, point: String, born_span: String,
      members_csv: String, homepage: String)

  /** M1n: the nomisma mapper exemplar (`authorities/nomisma/mapper.py`,
    * the largest previously-uncovered per-source mapper) — first-match
    * @type routing, the nm-split that passes non-nomisma URIs through
    * whole, Place/Type-only broader routing, the `POINT ( lon lat )`
    * spacing, gYear-gated events, membership-node indirection and the
    * first-homepage-only rule. */
  def nomismaAuth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.pipeline.NomismaMap
    val ns = "https://nomisma.example/"
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey").cast("long"))
      .as[Long].map { ck =>
        val types = (ck % 5) match {
          case 0 => Seq("nmo:Mint")
          case 1 => Seq("x:unknown", "foaf:Person") // 2nd entry routes
          case 2 => Seq("nmo:Ethnic", "nmo:Material") // FIRST match wins
          case 3 => Seq("nmo:TypeSeries")
          case _ => Seq("x:unknown")
        }
        val cls = NomismaMap.route(types).getOrElse("unmapped")
        val rawRef = if (ck % 2 == 0) s"nm:w${ck % 40}"
          else s"http://ext.example/e${ck % 40}" // passes through whole
        val point =
          if (cls == "Place")
            NomismaMap.pointWkt((ck % 90).toString, (ck % 180).toString)
              .getOrElse("")
          else ""
        val born = ((ck % 3) match {
          case 0 => NomismaMap.gYearSpan("xsd:gYear", (1900 + ck % 100).toString)
          case 1 => NomismaMap.gYearSpan("xsd:date", "1950") // wrong type
          case _ => NomismaMap.gYearSpan("xsd:gYear", "junk") // unparseable
        }).map { case (b, e, d) => s"$b|$e|$d" }.getOrElse("")
        val members = NomismaMap.memberships(ns,
          hasMembership = Seq(s"mem${ck % 7}", "memX"), // memX unresolvable
          membershipOrg = Map(s"mem${ck % 7}" -> s"nm:org${ck % 7}"),
          memberOf = Seq(s"nm:g${ck % 5}"))
        NomismaOut(ck, cls, NomismaMap.refUri(ns, rawRef),
          NomismaMap.broaderProp(cls).getOrElse(""), point, born,
          members.mkString(";"),
          NomismaMap.homepage(
            Seq(s"http://h${ck % 3}.example", "http://second.example"))
            .getOrElse(""))
      }.toDF()
  }
  private val nomismaAuthOracle: String =
    """WITH b AS (SELECT CAST(c_custkey AS BIGINT) AS ck FROM customer),
      |m AS (
      |  SELECT ck,
      |    CASE ck % 5 WHEN 0 THEN 'Place' WHEN 1 THEN 'Person'
      |      WHEN 2 THEN 'Group' WHEN 3 THEN 'Type'
      |      ELSE 'unmapped' END AS cls
      |  FROM b)
      |SELECT ck AS id, cls,
      |  CASE WHEN ck % 2 = 0
      |    THEN 'https://nomisma.example/w' || (ck % 40) || '.jsonld'
      |    ELSE 'https://nomisma.example/http://ext.example/e'
      |      || (ck % 40) || '.jsonld' END AS ref_uri,
      |  CASE cls WHEN 'Place' THEN 'part_of' WHEN 'Type' THEN 'broader'
      |    ELSE '' END AS broader_prop,
      |  CASE WHEN cls = 'Place'
      |    THEN 'POINT ( ' || (ck % 180) || ' ' || (ck % 90) || ' )'
      |    ELSE '' END AS point,
      |  CASE ck % 3 WHEN 0 THEN
      |    (1900 + ck % 100) || '-01-01T00:00:00|'
      |      || (1900 + ck % 100) || '-12-31T23:59:59|' || (1900 + ck % 100)
      |    ELSE '' END AS born_span,
      |  'https://nomisma.example/org' || (ck % 7) || '.jsonld;'
      |    || 'https://nomisma.example/g' || (ck % 5) || '.jsonld' AS members_csv,
      |  'http://h' || (ck % 3) || '.example' AS homepage
      |FROM m""".stripMargin

  final case class BneOut(id: Long, cls: String, names_csv: String,
      sames_csv: String, born: String, died: String, gender: String)

  /** M1o: the BNE mapper exemplar (`libraries/bne/mapper.py`) — the
    * inScheme-beats-@type routing, the rebuilt-per-prefLabel dupes
    * guard, the move-to-end equivalent ordering, the two-element
    * P5010 death fallback with its empty display quirk, the gender
    * instance map and the test_birth_death lifespan clearing. */
  def bneAuth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.pipeline.BneMap
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey").cast("long"))
      .as[Long].map { ck =>
        val cls = ((ck % 5) match {
          case 0 => BneMap.guessType("http://www.w3.org/2004/02/skos/core#Concept",
            "https://datos.bne.es/def/geograficos") // scheme wins
          case 1 => BneMap.guessType("http://www.w3.org/2004/02/skos/core#Concept", "")
          case 2 => BneMap.guessType("https://datos.bne.es/def/C1005", "")
          case 3 => BneMap.guessType("https://datos.bne.es/def/C1006", "")
          case _ => BneMap.guessType("http://x.example/other", "")
        }).getOrElse("unmapped")
        val a = s"a${ck % 9}"; val b = s"b${ck % 9}"; val c = s"c${ck % 9}"
        // guard ends as {b}: alt 'a' re-emits (earlier pref!), 'b' drops
        val names = BneMap.labels(
          prefs = Seq((a, "en"), (b, "xx")),
          alts = Seq((a, None), (b, Some("es")), (c, Some("es")), (c, None)))
        val sames = BneMap.personSames(
          p5024 = Seq("u1", s"u${ck % 4}"),
          sameAs = Seq(s"u${ck % 4}", "u9"),
          seeAlso = Seq("u1"))
        val (dob, dod) = (ck % 4) match {
          case 0 => (Seq("1900"), Some("1980"))
          case 1 => (Seq("1900", "1950"), None) // death from dob[1]
          case 2 => (Seq("1800"), Some("1999")) // implausible: cleared
          case _ => (Seq("junk"), None) // birth kept, bounds empty
        }
        val (b0, d0) = BneMap.personDates(dob, dod)
        val (born, died) = BneMap.checkLifespan(b0, d0)
        def fmt(e: Option[BneMap.EventSpan]) =
          e.map(s => s"${s.begin}|${s.end}|${s.display}").getOrElse("")
        val g = (ck % 4) match {
          case 0 => BneMap.gender("Masculino")
          case 1 => BneMap.gender("Femenino")
          case 2 => BneMap.gender("")
          case _ => BneMap.gender(s"Otro${ck % 3}")
        }
        BneOut(ck, cls,
          names.map(n => s"${n.content}|${n.lang.getOrElse("")}").mkString(";"),
          sames.mkString(";"), fmt(born), fmt(died), g.getOrElse(""))
      }.toDF()
  }
  private val bneAuthOracle: String =
    """WITH b AS (SELECT CAST(c_custkey AS BIGINT) AS ck FROM customer)
      |SELECT ck AS id,
      |  CASE ck % 5 WHEN 0 THEN 'Place' WHEN 1 THEN 'Type'
      |    WHEN 2 THEN 'Person' WHEN 3 THEN 'Group'
      |    ELSE 'unmapped' END AS cls,
      |  'a' || (ck % 9) || '|en;b' || (ck % 9) || '|;a' || (ck % 9)
      |    || '|;c' || (ck % 9) || '|es' AS names_csv,
      |  CASE WHEN ck % 4 = 1 THEN 'u9;u1'
      |    ELSE 'u' || (ck % 4) || ';u9;u1' END AS sames_csv,
      |  CASE ck % 4
      |    WHEN 0 THEN '1900-01-01T00:00:00|1900-12-31T23:59:59|1900'
      |    WHEN 1 THEN '1900-01-01T00:00:00|1900-12-31T23:59:59|[1900, 1950]'
      |    WHEN 2 THEN ''
      |    ELSE '||junk' END AS born,
      |  CASE ck % 4
      |    WHEN 0 THEN '1980-01-01T00:00:00|1980-12-31T23:59:59|1980'
      |    WHEN 1 THEN '1950-01-01T00:00:00|1950-12-31T23:59:59|'
      |    ELSE '' END AS died,
      |  CASE ck % 4 WHEN 0 THEN 'male' WHEN 1 THEN 'female'
      |    WHEN 2 THEN '' ELSE 'gender:Otro' || (ck % 3) END AS gender
      |FROM b""".stripMargin

  final case class SmallOut(id: Long, ashmol_csv: String, homo_csv: String,
      gbif_names: String, gbif_lang: String, gbif_rank: String,
      gbif_altid: String, wm_uri: String, wm_credit: String,
      ror_names: String, ror_formed: String, ror_eq: String,
      ror_parents: String)

  /** M1p: the five remaining long-tail mappers in one pass — ashmol's
    * Collection-Item append, homosaurus' asymmetric exact/close dedupe,
    * gbif's name fallback chain + 639-2 language routing + alt-id
    * source gating, wikimedia's license/extension gates and credit-line
    * assembly, ror's names normalization (absent-key vs empty-list),
    * role election, unpadded established year, known-type externals and
    * parent relationships. Closes per-source exemplar coverage. */
  def smallSources(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.pipeline.SmallSources._
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey").cast("long"))
      .as[Long].map { ck =>
        val k3 = ck % 3; val k9 = ck % 9
        val ashmol = ashmolClasses(
          if (ck % 2 == 0) "HumanMadeObject" else "Person",
          Seq(s"c${ck % 4}"))
        val homo = homosaurusSames(
          exact = Seq(s"e$k3", s"e$k3"), // duplicate survives
          close = Seq(s"e$k3", s"x${ck % 5}"))
        val gnames = (ck % 4) match {
          case 0 => gbifNames(s"can$k9", s"ver$k9", s"sci$k9", s"rk$k9")
          case 1 => gbifNames("", s"ver$k9", s"sci$k9", s"rk$k9")
          case 2 => gbifNames("", "", s"sci$k9", s"rk$k9")
          case _ => gbifNames("", "", "", s"rk$k9")
        }
        val glang = (ck % 5) match {
          case 0 => gbifLang("eng")
          case 1 => gbifLang("fre")
          case 2 => gbifLang("xyz") // unknown 3-letter: None, not itself
          case 3 => gbifLang("es")
          case _ => gbifLang("por") // maps to pt, then gated out
        }
        val grank = gbifRankTypes.getOrElse(
          k3 match { case 0 => "genus"; case 1 => "species"; case _ => "variety" },
          "")
        val galtid = gbifAltidRoute(
          if (ck % 2 == 0) "Catalogue of Life Checklist" else s"Src$k3")
        val wm = (ck % 4) match {
          case 0 => wmImage("cc0", s"File:Img${ck % 7}.JPG")
          case 1 => wmImage("bad-lic", "File:A.jpg")
          case 2 => wmImage("pd", s"File:Doc${ck % 7}.pdf")
          case _ => wmImage("cc-by-4.0", s"Img${ck % 7}.png")
        }
        val credit = wmCredit(
          wmClean(s"<b>Name ${ck % 5}</b>\nrest"), "T.jpg",
          artist = if (ck % 2 == 0) s"Art$k3" else "",
          credit = if (k3 == 0) "Cred" else "",
          licUrl = if (ck % 2 == 0) "http://lic.example/x" else "",
          licShort = "CC0", licName = "Public Domain")
        val rnames = ((ck % 3) match {
          case 0 => rorNames(Some(s"N${ck % 6}"), None,
            Seq((s"L${ck % 6}", Some("fr"))))
          case 1 => rorNames(Some("ignored"), Some(Seq(
            RorName(s"D${ck % 6}", Seq("ror_display", "label"), Some("xx")),
            RorName(s"A${ck % 6}", Seq("alias"), None))), Nil)
          case _ => rorNames(Some("blocked"), Some(Nil),
            Seq((s"L${ck % 6}", None))) // empty PRESENT list blocks name
        }).map { case (v, r, l) => s"$v|$r|${l.getOrElse("")}" }
        val formed = rorEstablished(
          if (ck % 2 == 0) Some((850 + ck % 1200).toInt) else None)
          .map { case (b, e, d) => s"$b|$e|$d" }.getOrElse("")
        val eqs = rorExternal(Seq(
          ("ISNI", Seq(s"i${ck % 4}")), ("GRID", Seq("g1")),
          ("Wikidata", Seq(s"Q${ck % 90}"))))
        val parents = rorParents(Seq(
          ("Parent", s"p${ck % 5}"), ("child", "c1"), ("PARENT", "p9")))
        SmallOut(ck, ashmol.mkString(";"), homo.mkString(";"),
          gnames.mkString(";"), glang.getOrElse(""), grank,
          s"${galtid._1}|${galtid._2}",
          wm.map(_._2).getOrElse(""), credit,
          rnames.mkString(";"), formed, eqs.mkString(";"),
          parents.mkString(";"))
      }.toDF()
  }
  private val smallSourcesOracle: String =
    """WITH b AS (SELECT CAST(c_custkey AS BIGINT) AS ck FROM customer)
      |SELECT ck AS id,
      |  CASE WHEN ck % 2 = 0
      |    THEN 'c' || (ck % 4) || ';http://vocab.getty.edu/aat/300404024'
      |    ELSE 'c' || (ck % 4) END AS ashmol_csv,
      |  'e' || (ck % 3) || ';e' || (ck % 3) || ';x' || (ck % 5) AS homo_csv,
      |  CASE ck % 4
      |    WHEN 0 THEN 'can' || (ck % 9) || ';ver' || (ck % 9)
      |    WHEN 1 THEN 'ver' || (ck % 9)
      |    WHEN 2 THEN 'sci' || (ck % 9)
      |    ELSE 'rk' || (ck % 9) END AS gbif_names,
      |  CASE ck % 5 WHEN 0 THEN 'en' WHEN 1 THEN 'fr' WHEN 3 THEN 'es'
      |    ELSE '' END AS gbif_lang,
      |  CASE ck % 3
      |    WHEN 0 THEN 'http://www.wikidata.org/entity/Q34740'
      |    WHEN 1 THEN 'http://www.wikidata.org/entity/Q7432'
      |    ELSE '' END AS gbif_rank,
      |  CASE WHEN ck % 2 = 0
      |    THEN 'classified_as|http://www.wikidata.org/entity/Q38840'
      |    ELSE 'assigned_by|Src' || (ck % 3) END AS gbif_altid,
      |  CASE ck % 4
      |    WHEN 0 THEN 'https://commons.wikimedia.org/wiki/Special:Filepath/Img'
      |      || (ck % 7) || '.JPG'
      |    WHEN 3 THEN 'https://commons.wikimedia.org/wiki/Special:Filepath/Img'
      |      || (ck % 7) || '.png'
      |    ELSE '' END AS wm_uri,
      |  '<span>Name ' || (ck % 5) || ' rest'
      |    || CASE WHEN ck % 2 = 0 THEN ' by Art' || (ck % 3) ELSE '' END
      |    || CASE WHEN ck % 3 = 0 THEN ' Cred' ELSE '' END
      |    || ', '
      |    || CASE WHEN ck % 2 = 0
      |         THEN '<a href="http://lic.example/x">CC0</a>'
      |         ELSE 'Public Domain' END
      |    || '</span>' AS wm_credit,
      |  CASE ck % 3
      |    WHEN 0 THEN 'N' || (ck % 6) || '|primary|;L' || (ck % 6) || '|name|fr'
      |    WHEN 1 THEN 'D' || (ck % 6) || '|primary|'
      |    ELSE 'L' || (ck % 6) || '|name|' END AS ror_names,
      |  CASE WHEN ck % 2 = 0
      |    THEN (850 + ck % 1200) || '-01-01T00:00:00|'
      |      || (850 + ck % 1200) || '-12-31T23:59:59|' || (850 + ck % 1200)
      |    ELSE '' END AS ror_formed,
      |  'isnii' || (ck % 4) || ';wdQ' || (ck % 90) AS ror_eq,
      |  'p' || (ck % 5) || ';p9' AS ror_parents
      |FROM b""".stripMargin

  final case class YaleOut(id: Long, ypm_species: String, ypm_names: String,
      ypm_defined: String, ypm_item_csv: String, yuag_item_csv: String,
      yuag_type: String, yuag_names: String, yuag_ts: String,
      yuag_keep_part: Boolean, yuag_cobs: String, yuag_places: String,
      pmc_member: String, pmc_part: String, pmc_classes: String,
      pmc_notes: String)

  /** M1q: the Yale unit mappers (ypm/yuag/pmc — ipch and arches are
    * identity transforms) — species empty-id fill, the no-locality
    * primary swap with its order-sensitive scan, the POLYGON/POINT
    * defined_by gate, both Collection-Item gate variants, the
    * Group→Person retype, identified_by repair, Activity timespan
    * hoist + the /agt/ took_place_at split, the part_of→member_of
    * rename, archive-set class drop and internal-note purge. */
  def yaleQuirks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.pipeline.YaleQuirks
    import graft.pipeline.YaleQuirks.YpmName
    val Primary = "http://vocab.getty.edu/aat/300404670"
    val Arch = "http://vocab.getty.edu/aat/300375748"
    val Coll = "http://vocab.getty.edu/aat/300025976"
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey").cast("long"))
      .as[Long].map { ck =>
        val species = YaleQuirks.ypmSpeciesFill(
          if (ck % 2 == 0) "Type" else "Place",
          Seq(("", "Species"), ("x", "Other")))
          .map { case (i, l) => s"$i|$l" }.mkString(";")
        val swapped = YaleQuirks.ypmNoLocalitySwap("Place", (ck % 3) match {
          case 0 => Seq(YpmName("[No Locality Data]", Seq(Primary)),
            YpmName(s"Real${ck % 5}", Seq("c")))
          case 1 => Seq(YpmName(s"Real${ck % 5}", Seq("c")), // alt first: no swap
            YpmName("[no locality data]", Seq(Primary)))
          case _ => Seq(YpmName("[no locality data]", Seq("other")), // not primary
            YpmName(s"Real${ck % 5}", Seq("c")))
        }).map(_.content).mkString(";")
        val defined = ((ck % 3) match {
          case 0 => YaleQuirks.ypmDefinedBy("  POLYGON ((0 0))")
          case 1 => YaleQuirks.ypmDefinedBy("POINT (1 2)")
          case _ => YaleQuirks.ypmDefinedBy("LINESTRING (0 0)")
        }).getOrElse("")
        val rtype = if (ck % 2 == 0) "HumanMadeObject" else "Type"
        val idCxns = if (ck % 3 == 0)
          Seq("http://vocab.getty.edu/aat/300312355") else Seq("x")
        val ypmItem = YaleQuirks.collectionItem(rtype, idCxns,
          Seq(s"c${ck % 4}"), yuag = false).mkString(";")
        val yuagItem = YaleQuirks.collectionItem(rtype, idCxns,
          Seq(s"c${ck % 4}"), yuag = true).mkString(";")
        val yuagType = YaleQuirks.yuagRetype(
          if (ck % 2 == 0) "Group" else "Person", ck % 3 == 0)
        val yuagNames = YaleQuirks.yuagNames(Seq(
          ("Primary Name", Some(Right(s"N${ck % 7}"))),
          ("Identifier", Some(Left(ck % 100))),
          ("Name", None))) // content-less: killed
          .map { case (t, c, p) => s"$t|$c|$p" }.mkString(";")
        val (ts, keep) = (ck % 2) match {
          case 0 => YaleQuirks.yuagActivityTimespan(None, Some(s"TS${ck % 9}"))
          case _ => YaleQuirks.yuagActivityTimespan(Some(s"TS${ck % 9}"), Some("X"))
        }
        val (cobs, places) = YaleQuirks.yuagActivityPlaces(Seq(
          s"http://y/agt/${ck % 5}", s"http://y/plc/${ck % 5}", ""))
        val pmcType = if (ck % 2 == 0) "Group" else "Set"
        val (member, part) = YaleQuirks.pmcGroupPartOf(pmcType, Seq(s"po${ck % 4}"))
        val pmcClasses = YaleQuirks.pmcSetClasses(pmcType,
          if (ck % 4 < 2) Seq(Arch, Coll, s"o${ck % 3}")
          else Seq(Coll, s"o${ck % 3}")).mkString(";")
        val pmcNotes = YaleQuirks.pmcNotes(Seq(
          (s"keep${ck % 6}", Seq("x")),
          ("kill", Seq("http://vocab.getty.edu/aat/300055863")),
          ("keep2", Nil))).mkString(";")
        YaleOut(ck, species, swapped, defined, ypmItem, yuagItem,
          yuagType, yuagNames, ts.getOrElse(""), keep,
          cobs.mkString(";"), places.mkString(";"),
          member.mkString(";"), part.mkString(";"), pmcClasses, pmcNotes)
      }.toDF()
  }
  private val yaleQuirksOracle: String =
    """WITH b AS (SELECT CAST(c_custkey AS BIGINT) AS ck FROM customer)
      |SELECT ck AS id,
      |  CASE WHEN ck % 2 = 0
      |    THEN 'https://www.wikidata.org/entity/Q7432|Species;x|Other'
      |    ELSE '|Species;x|Other' END AS ypm_species,
      |  CASE ck % 3
      |    WHEN 0 THEN 'Real' || (ck % 5)
      |    WHEN 1 THEN 'Real' || (ck % 5) || ';[no locality data]'
      |    ELSE '[no locality data];Real' || (ck % 5) END AS ypm_names,
      |  CASE ck % 3 WHEN 0 THEN 'POLYGON ((0 0))'
      |    WHEN 1 THEN 'POINT (1 2)' ELSE '' END AS ypm_defined,
      |  CASE WHEN ck % 2 = 0 AND ck % 3 = 0
      |    THEN 'c' || (ck % 4) || ';http://vocab.getty.edu/aat/300404024'
      |    ELSE 'c' || (ck % 4) END AS ypm_item_csv,
      |  CASE WHEN ck % 3 = 0
      |    THEN 'c' || (ck % 4) || ';http://vocab.getty.edu/aat/300404024'
      |    ELSE 'c' || (ck % 4) END AS yuag_item_csv,
      |  CASE WHEN ck % 2 = 0 AND ck % 3 = 0 THEN 'Person'
      |    WHEN ck % 2 = 0 THEN 'Group' ELSE 'Person' END AS yuag_type,
      |  'Name|N' || (ck % 7) || '|true;Identifier|' || (ck % 100)
      |    || '|false' AS yuag_names,
      |  'TS' || (ck % 9) AS yuag_ts,
      |  (ck % 2 = 1) AS yuag_keep_part,
      |  'http://y/agt/' || (ck % 5) AS yuag_cobs,
      |  'http://y/plc/' || (ck % 5) || ';' AS yuag_places,
      |  CASE WHEN ck % 2 = 0 THEN 'po' || (ck % 4) ELSE '' END AS pmc_member,
      |  CASE WHEN ck % 2 = 1 THEN 'po' || (ck % 4) ELSE '' END AS pmc_part,
      |  CASE ck % 4
      |    WHEN 0 THEN 'http://vocab.getty.edu/aat/300375748;'
      |      || 'http://vocab.getty.edu/aat/300025976;o' || (ck % 3)
      |    WHEN 1 THEN 'http://vocab.getty.edu/aat/300375748;o' || (ck % 3)
      |    ELSE 'http://vocab.getty.edu/aat/300025976;o' || (ck % 3)
      |  END AS pmc_classes,
      |  'keep' || (ck % 6) || ';keep2' AS pmc_notes
      |FROM b""".stripMargin

  final case class DnbOut(id: Long, cls: String, lds_cls: String,
      takes_broader: Boolean, death: String, activity: String,
      keep_home: Boolean, depiction: String, gender: String,
      macs: String, lds_id: String, pname: String)

  /** M1r: the DNB/GND mapper exemplar (`libraries/dnb/mapper.py`,
    * 528 LoC — previously only its loader was covered) — entity-graph
    * and sachbegriff type guessing, the two-digit century completion,
    * the periodOfActivity dash gates, homepage self-link skip,
    * depiction URL repair, male/female-only gender, the macs.nt
    * closeMatch sidecar parse, /about record election and the
    * string-only preferredName. */
  def dnbAuth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.pipeline.DnbMap
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey").cast("long"))
      .as[Long].map { ck =>
        val cls = ((ck % 6) match {
          case 0 => DnbMap.guessType("person")
          case 1 => DnbMap.guessType("organisation")
          case 2 => DnbMap.guessType("family")
          case 3 => DnbMap.guessType("place")
          case 4 => DnbMap.guessType("event")
          case _ => DnbMap.guessType("work")
        }).map { case (c, sub) => s"$c|$sub" }.getOrElse("")
        val ldsCls = ((ck % 4) match {
          case 0 => DnbMap.guessLdsType(Seq("gnd#SubjectHeadingSensoStricto"))
          case 1 => DnbMap.guessLdsType(Seq("gnd#Language"))
          case 2 => DnbMap.guessLdsType(Seq("gnd#Unknown", "gnd#EthnographicName"))
          case _ => DnbMap.guessLdsType(Seq("gnd#Nothing"))
        }).getOrElse("")
        val dob = (1800 + ck % 100).toString
        val death = (ck % 3) match {
          case 0 => DnbMap.centuryComplete(dob, "99")
          case 1 => DnbMap.centuryComplete(dob, "1920")
          case _ => DnbMap.centuryComplete(dob, "")
        }
        val activity = ((ck % 4) match {
          case 0 => DnbMap.activityRange(s"${1700 + ck % 50}-${1760 + ck % 40}")
          case 1 => DnbMap.activityRange("-500") // leading minus: no gate
          case 2 => DnbMap.activityRange("1800-1850-1900") // multi-dash aborts
          case _ => DnbMap.activityRange("1800")
        }).map { case (b, e) => s"$b|$e" }.getOrElse("")
        val keep = DnbMap.keepHomepage(s"https://d-nb.info/gnd/${ck % 90}",
          if (ck % 2 == 0) s"http://site.example/page/${ck % 90}"
          else "http://site.example/other")
        val gender = ((ck % 3) match {
          case 0 => DnbMap.gender("https://d-nb.info/standards/vocab/gnd/gender#male")
          case 1 => DnbMap.gender("https://d-nb.info/standards/vocab/gnd/gender#female")
          case _ => DnbMap.gender("https://other.example/gender#x")
        }).getOrElse("")
        val macs = (if (ck % 2 == 0)
          DnbMap.macsLine(s"<https://d-nb.info/gnd/${ck % 50}-2> " +
            "<http://www.w3.org/2004/02/skos/core#closeMatch> " +
            s"<http://id.loc.gov/authorities/subjects/sh${ck % 99}> .")
        else DnbMap.macsLine("<https://other.example/x> <p> <o> ."))
          .map { case (g, t) => s"$g|$t" }.getOrElse("")
        val ldsId = DnbMap.ldsElect(Seq(
          s"https://d-nb.info/gnd/${ck % 40}/about",
          s"https://d-nb.info/gnd/${ck % 40}", "x")).getOrElse("")
        val pname = DnbMap.preferredName(
          if (ck % 2 == 0) Right(s"Nm${ck % 8}") else Left(Seq("a", "b")))
          .getOrElse("")
        DnbOut(ck, cls, ldsCls, DnbMap.takesBroader(ldsCls), death, activity,
          keep, DnbMap.depictionUri(s"http://img.example/a b%20c${ck % 5}.jpg"),
          gender, macs, ldsId, pname)
      }.toDF()
  }
  private val dnbAuthOracle: String =
    """WITH b AS (SELECT CAST(c_custkey AS BIGINT) AS ck FROM customer)
      |SELECT ck AS id,
      |  CASE ck % 6 WHEN 0 THEN 'Person|' WHEN 1 THEN 'Group|Organization'
      |    WHEN 2 THEN 'Group|Family' WHEN 3 THEN 'Place|'
      |    WHEN 4 THEN 'Event|' ELSE '' END AS cls,
      |  CASE ck % 4 WHEN 0 THEN 'Type' WHEN 1 THEN 'Language'
      |    WHEN 2 THEN 'Group' ELSE '' END AS lds_cls,
      |  (ck % 4 IN (0, 1)) AS takes_broader,
      |  CASE ck % 3 WHEN 0 THEN '1899' WHEN 1 THEN '1920'
      |    ELSE '' END AS death,
      |  CASE ck % 4 WHEN 0 THEN
      |    (1700 + ck % 50) || '-01-01T00:00:00|'
      |      || (1760 + ck % 40) || '-12-31T23:59:59'
      |    ELSE '' END AS activity,
      |  (ck % 2 = 1) AS keep_home,
      |  'http://img.example/a_b_c' || (ck % 5) || '.jpg' AS depiction,
      |  CASE ck % 3 WHEN 0 THEN 'male' WHEN 1 THEN 'female'
      |    ELSE '' END AS gender,
      |  CASE WHEN ck % 2 = 0
      |    THEN (ck % 50) || '-2|http://id.loc.gov/authorities/subjects/sh'
      |      || (ck % 99)
      |    ELSE '' END AS macs,
      |  'https://d-nb.info/gnd/' || (ck % 40) AS lds_id,
      |  CASE WHEN ck % 2 = 0 THEN 'Nm' || (ck % 8) ELSE '' END AS pname
      |FROM b""".stripMargin

  final case class JapanOut(id: Long, names_csv: String, rename: String,
      bio_csv: String)

  /** M1s: the NDL (japan) mapper's name assembly and person biography
    * (`libraries/japan/mapper.py` — guess_type already in LongTail):
    * pref transcriptions emit BEFORE the preferred literal,
    * transcription values are dupes-guarded but never added (repeats
    * re-emit), alt literals guard AND add (the empty string too),
    * languages take the @language primary subtag through the
    * process_langs gate, primaryTopic.name lands as a guarded
    * alternate, and previous/later company names classify with the
    * wikidata rename entities. */
  def japanLib(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.pipeline.JapanMap
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey").cast("long"))
      .as[Long].map { ck =>
        val k7 = ck % 7; val k5 = ck % 5
        val preflbl = if (ck % 2 == 0) s"P$k7" else "" // odd: fallback
        val names = JapanMap.names(
          prefLiteral = preflbl, labelFallback = s"FB$k7",
          prefTxns = Seq(
            (if (ck % 2 == 0) s"P$k7" else s"FB$k7", "ja"), // == preflbl: skip
            (s"T$k7", "ja-Latn"),
            (s"T$k7", "en-GB")), // repeat re-emits: never added to dupes
          alts = Seq(
            (s"A$k5", Seq((s"V$k5", "zz-x"))), // zz unmapped: lang dropped
            (s"A$k5", Nil), // second literal: guarded away
            ("", Seq((if (ck % 2 == 0) s"P$k7" else s"FB$k7", "de")))),
          topicName = s"TN$k5")
          .map(n => s"${n.content}|${n.lang.getOrElse("")}|${n.primary}")
          .mkString(";")
        val rename = JapanMap.renameClass(later = ck % 2 == 1)
        val bio = JapanMap.personBio(Seq(s"F${ck % 4}"), Seq(s"B${ck % 4}"))
          .map { case (c, l) => s"$c|$l" }.mkString(";")
        JapanOut(ck, names, rename, bio)
      }.toDF()
  }
  private val japanLibOracle: String =
    """WITH b AS (SELECT CAST(c_custkey AS BIGINT) AS ck FROM customer),
      |p AS (SELECT ck, CASE WHEN ck % 2 = 0 THEN 'P' || (ck % 7)
      |  ELSE 'FB' || (ck % 7) END AS preflbl FROM b)
      |SELECT ck AS id,
      |  'T' || (ck % 7) || '|ja|true;T' || (ck % 7) || '|en|true;'
      |    || preflbl || '||true;A' || (ck % 5) || '||false;V' || (ck % 5)
      |    || '||false;TN' || (ck % 5) || '||false' AS names_csv,
      |  CASE WHEN ck % 2 = 1 THEN 'http://www.wikidata.org/entity/Q79030284'
      |    ELSE 'http://www.wikidata.org/entity/Q79030196' END AS rename,
      |  'F' || (ck % 4) || '|ja;B' || (ck % 4) || '|' AS bio_csv
      |FROM p""".stripMargin

  final case class WofOut(id: Long, rdp: String, fixid: String,
      name_lang: String, concord_csv: String, parent: Long,
      bbox_kind: String, point: String, tiny: Boolean)

  /** M1t: the WOF mapper exemplar (`general/wof/mapper.py`, 266 LoC —
    * previously only its sqlite loader was covered) — the
    * Ramer-Douglas-Peucker keep/drop decision (oracle-replayable on a
    * spike ring: residual h² against dist²), fix_identifier,
    * name:LLL language routing, concordance equivalents, hierarchy
    * parent election, the bbox point/broken gates, the lbl→geom point
    * fallback with the reference's POINT spacing, and the tiny-area
    * rejection. The degenerate-ring EDIVZERO escape is spec-covered
    * (`WofMapSpec`). */
  def wofMapper(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.pipeline.WofMap
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey").cast("long"))
      .as[Long].map { ck =>
        val h = (ck % 3).toDouble
        // spike residual is exactly h²; dist²=1.21 → kept only when h=2
        val rdp = WofMap.ramerdouglas(
          Seq((0.0, 0.0), (2.0, h), (4.0, 0.0)), 1.1)
          .map(p => s"${p._1.toLong},${p._2.toLong}").mkString(";")
        val fixid = (ck % 3) match {
          case 0 => WofMap.fixIdentifier("102/051/581/102051581.geojson")
          case 1 => WofMap.fixIdentifier(s"${ck % 900}.geojson")
          case _ => WofMap.fixIdentifier(s"plain${ck % 900}")
        }
        val nameLang = ((ck % 4) match {
          case 0 => WofMap.nameLang("name:eng_x_preferred")
          case 1 => WofMap.nameLang("name:fra_x_preferred")
          case 2 => WofMap.nameLang("name:por_x_preferred") // pt: gated out
          case _ => WofMap.nameLang("wof:name")
        }).getOrElse("")
        val concords = WofMap.concordances(
          wd = if (ck % 2 == 0) Some(s"Q${ck % 90}") else None,
          gn = Some((ck % 500).toString),
          loc = None,
          tgn = if (ck % 3 == 0) Some((ck % 70).toString) else None)
        val parent = ((ck % 4) match {
          case 0 => WofMap.hierarchyParent(ck % 50 + 1, "locality", Nil)
          case 1 => WofMap.hierarchyParent(-1, "region", Seq(
            Map("county_id" -> 1L), // wrong key: skipped
            Map("macroregion_id" -> ck % 100),
            Map("macroregion_id" -> 999L))) // first hit wins
          case 2 => WofMap.hierarchyParent(-1, "continent", Nil) // idx 0
          case _ => WofMap.hierarchyParent(-1, "campus", Nil) // unknown
        }).getOrElse(-1L)
        val bboxKind = (ck % 3) match {
          case 0 => if (WofMap.bboxIsPoint(Seq(1, 2, 1, 2))) "point" else "?"
          case 1 => if (WofMap.bboxRing(Seq(1, 2, 1, 5)).isEmpty) "broken" else "?"
          case _ => if (WofMap.bboxRing(Seq(1, 2, 3, 5)).isDefined) "ring" else "?"
        }
        val pt = WofMap.pointFallback(
          lbl = if (ck % 2 == 0)
            Some((s"${ck % 180}.5", s"${ck % 90}.25")) else None,
          geom = Some(((ck % 180).toString, (ck % 90).toString)))
        val tiny = WofMap.tinyPolygon(Seq(
          (0.0, 0.0), ((ck % 5).toDouble, 0.0),
          ((ck % 5).toDouble, (ck % 5).toDouble)))
        WofOut(ck, rdp, fixid, nameLang, concords.mkString(";"), parent,
          bboxKind, WofMap.pointWkt(pt.get), tiny)
      }.toDF()
  }
  private val wofMapperOracle: String =
    """WITH b AS (SELECT CAST(c_custkey AS BIGINT) AS ck FROM customer)
      |SELECT ck AS id,
      |  CASE WHEN ck % 3 = 2 THEN '0,0;2,2;4,0' ELSE '0,0;4,0' END AS rdp,
      |  CASE ck % 3 WHEN 0 THEN '102051581'
      |    WHEN 1 THEN CAST(ck % 900 AS VARCHAR)
      |    ELSE 'plain' || (ck % 900) END AS fixid,
      |  CASE ck % 4 WHEN 0 THEN 'en' WHEN 1 THEN 'fr'
      |    ELSE '' END AS name_lang,
      |  CASE WHEN ck % 2 = 0 THEN 'http://www.wikidata.org/entity/Q'
      |    || (ck % 90) || ';' ELSE '' END
      |    || 'https://sws.geonames.org/' || (ck % 500)
      |    || CASE WHEN ck % 3 = 0
      |      THEN ';http://vocab.getty.edu/tgn/' || (ck % 70)
      |      ELSE '' END AS concord_csv,
      |  CASE ck % 4 WHEN 0 THEN ck % 50 + 1 WHEN 1 THEN ck % 100
      |    ELSE -1 END AS parent,
      |  CASE ck % 3 WHEN 0 THEN 'point' WHEN 1 THEN 'broken'
      |    ELSE 'ring' END AS bbox_kind,
      |  CASE WHEN ck % 2 = 0
      |    THEN 'POINT (' || (ck % 180) || '.5 ' || (ck % 90) || '.25 )'
      |    ELSE 'POINT (' || (ck % 180) || ' ' || (ck % 90) || ' )'
      |  END AS point,
      |  (ck % 5 = 0) AS tiny
      |FROM b""".stripMargin

  final case class GnOut(id: Long, ident: String, name: String,
      n_primary: Long, n_alt: Long, wkt: String, parents_csv: String,
      equiv_csv: String, pass_ok: Boolean)

  /** M1u: the geonames MAPPER exemplar (pipeline.GeonamesMap; the
    * loader is s5_geonames_tsv). Each customer key synthesizes one
    * harvested feature exercising every rule: the Place-only gate
    * (ck%5=0 records ask as Group and drop), trailing-slash id strip,
    * the officialName/alternateName language gate (tlh/xx entries drop
    * entirely), same-lang official overwrite (en TownBis over Town),
    * the five-step label election, reference POINT spacing, the
    * parentFeature-suppresses-parentCountry election, seeAlso
    * equivalents carrying the elected label, and the JSON passthrough
    * gate. */
  def geonamesMapper(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.pipeline.GeonamesMap
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey").cast("long"))
      .as[Long].flatMap { ck =>
        val rectype = if (ck % 5 == 0) "Group" else "Place"
        if (!GeonamesMap.mapsType(rectype)) None
        else {
          val ident = GeonamesMap.fixIdentifier(s"https://sws.geonames.org/$ck/")
          val name = if (ck % 3 == 0) Some(s"City$ck") else None
          val off = Seq(
            (ck % 2 == 1) -> ("fr", s"Ville$ck"),
            true -> ("tlh", s"Klingon$ck"), // gated lang: dropped entirely
            (ck % 4 == 0) -> ("en", s"Town$ck"),
            (ck % 8 == 0) -> ("en", s"TownBis$ck"), // same-lang overwrite
            (ck % 7 == 0) -> ("", s"Plain$ck")).collect { case (true, e) => e }
          val alt = Seq(
            (ck % 6 == 2) -> ("en", s"Alt$ck"),
            (ck % 2 == 0) -> ("de", s"Alt2_$ck"),
            true -> ("xx", s"Gated$ck"), // gated lang: dropped entirely
            (ck % 4 == 2) -> ("de", s"Alt3_$ck")).collect { case (true, e) => e }
          val pnames = GeonamesMap.foldOfficial(off)
          val anames = GeonamesMap.foldAlternate(alt)
          val elected = GeonamesMap.electName(name, pnames, anames).orNull
          val wkt = if (ck % 2 == 0)
            GeonamesMap.pointWkt(s"${ck % 90}.5", s"${ck % 180}.25") else null
          val pf = if (ck % 3 == 1) Seq(s"pf${ck % 10}", s"pf${(ck + 1) % 10}")
            else Nil
          val pars = GeonamesMap.parents(pf, Seq(s"pc${ck % 10}"))
          val sa = if (ck % 4 == 1) Seq(s"sa${ck % 10}", s"sa${ck % 9}") else Nil
          Some(GnOut(ck, ident, elected,
            pnames.size.toLong, anames.map(_._2.size).sum.toLong, wkt,
            pars.mkString(";"), sa.map(s => s"$s|$elected").mkString(";"),
            GeonamesMap.passthroughOk(ck % 2 == 0,
              if (ck % 9 == 0) "Group" else "Place")))
        }
      }.toDF()
  }
  /** Election precedence replayed: gn:name > en official (overwritten
    * content when ck%8=0) > en alternate > untagged official > first
    * official (fr leads insertion order for odd keys) > first alternate
    * (the de bucket head for the remaining even keys). */
  private val geonamesMapperOracle: String =
    """WITH b AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS ck FROM customer
      |  WHERE c_custkey % 5 <> 0),
      |e AS (SELECT ck,
      |  CASE WHEN ck % 3 = 0 THEN 'City' || ck
      |       WHEN ck % 8 = 0 THEN 'TownBis' || ck
      |       WHEN ck % 4 = 0 THEN 'Town' || ck
      |       WHEN ck % 6 = 2 THEN 'Alt' || ck
      |       WHEN ck % 7 = 0 THEN 'Plain' || ck
      |       WHEN ck % 2 = 1 THEN 'Ville' || ck
      |       ELSE 'Alt2_' || ck END AS nm
      |  FROM b)
      |SELECT ck AS id,
      |  'https://sws.geonames.org/' || ck AS ident,
      |  nm AS name,
      |  CAST((CASE WHEN ck % 2 = 1 THEN 1 ELSE 0 END)
      |     + (CASE WHEN ck % 4 = 0 THEN 1 ELSE 0 END)
      |     + (CASE WHEN ck % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_primary,
      |  CAST((CASE WHEN ck % 6 = 2 THEN 1 ELSE 0 END)
      |     + (CASE WHEN ck % 2 = 0 THEN 1 ELSE 0 END)
      |     + (CASE WHEN ck % 4 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_alt,
      |  CASE WHEN ck % 2 = 0
      |    THEN 'POINT ( ' || (ck % 180) || '.25 ' || (ck % 90) || '.5 )'
      |    ELSE NULL END AS wkt,
      |  CASE WHEN ck % 3 = 1 THEN 'pf' || (ck % 10) || ';pf' || ((ck + 1) % 10)
      |       ELSE 'pc' || (ck % 10) END AS parents_csv,
      |  CASE WHEN ck % 4 = 1
      |    THEN 'sa' || (ck % 10) || '|' || nm || ';sa' || (ck % 9) || '|' || nm
      |    ELSE '' END AS equiv_csv,
      |  (ck % 2 = 0 AND ck % 9 <> 0) AS pass_ok
      |FROM e""".stripMargin

  override def register(): Unit = {
    Queries.register(QueryDef("m1u_geonames", geonamesMapper, Some(geonamesMapperOracle)))
    Queries.register(QueryDef("m1t_wof", wofMapper, Some(wofMapperOracle)))
    Queries.register(QueryDef("m1r_dnb", dnbAuth, Some(dnbAuthOracle)))
    Queries.register(QueryDef("m1s_japan", japanLib, Some(japanLibOracle)))
    Queries.register(QueryDef("m1q_yale_quirks", yaleQuirks, Some(yaleQuirksOracle)))
    Queries.register(QueryDef("m1p_small_sources", smallSources, Some(smallSourcesOracle)))
    Queries.register(QueryDef("m1n_nomisma", nomismaAuth, Some(nomismaAuthOracle)))
    Queries.register(QueryDef("m1o_bne", bneAuth, Some(bneAuthOracle)))
    Queries.register(QueryDef("m1m_longtail", longTail, Some(longTailOracle)))
    Queries.register(QueryDef("m1l_bnf", bnfGraph, Some(bnfGraphOracle)))
    Queries.register(QueryDef("m1c_lc_names", lcNames, Some(lcNamesOracle)))
    Queries.register(QueryDef("m1h_getty_vocab", gettyVocab, Some(gettyVocabOracle)))
    Queries.register(QueryDef("m1i_fast_auth", fastAuth, Some(fastAuthOracle)))
    Queries.register(QueryDef("m1j_artic", articMuseum, Some(articMuseumOracle)))
    Queries.register(QueryDef("m1k_yul_places", yulPlaces, Some(yulPlacesOracle)))
    Queries.register(QueryDef("m6_record_pipeline", recordPipeline, Some(recordPipelineOracle)))
    Queries.register(QueryDef("q5_word_query", wordQuery, Some(wordQueryOracle)))
    Queries.register(QueryDef("q10_bm25", bm25Rank, Some(bm25Oracle)))
    Queries.register(QueryDef("q12_near_pos", nearPos, Some(nearPosOracle)))
    Queries.register(QueryDef("q13_phrase_query", phraseQuery, Some(phraseOracle)))
    Queries.register(QueryDef("f10_geometry_merge", geometryMerge, Some(geometryMergeOracle)))
    Queries.register(QueryDef("f11_html_strip", htmlStrip, Some(htmlStripOracle)))
    Queries.register(QueryDef("f8_uri_canonicalize", uriCanonicalize, Some(uriCanonicalizeOracle)))
    Queries.register(QueryDef("f8b_uri_diff", uriDiff, Some(uriDiffOracle)))
  }
}
