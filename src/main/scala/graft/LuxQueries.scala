package graft

import graft.operators.Substrate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.LuxCompiler

/** LUX search-language queries (SURVEY §2.9) compiled end-to-end:
  * query string → lexer/parser → AST → DataFrame combinators over the
  * entity/triple substrate derived from the star schema (the analog of
  * the reference's record + triple indexes, `marklogic/mapper.py:238-786`).
  * Oracles re-express the compiled semantics as EXISTS SQL. */
object LuxQueries extends QueryGroup {

  /** Entity substrate: (id, etype, name, num). num carries cents for
    * money, size for parts — the "indexed properties" analog. */
  def entities(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.load(spark, dir, "customer")
      .select(concat(lit("c"), $"c_custkey").as("id"), lit("customer").as("etype"),
        $"c_name".as("name"), RelationalQueries.cents($"c_acctbal").as("num"))
    val o = Tables.load(spark, dir, "orders")
      .select(concat(lit("o"), $"o_orderkey").as("id"), lit("order").as("etype"),
        lit(null).cast("string").as("name"),
        RelationalQueries.cents($"o_totalprice").as("num"))
    val p = Tables.load(spark, dir, "part")
      .select(concat(lit("p"), $"p_partkey").as("id"), lit("part").as("etype"),
        $"p_name".as("name"), $"p_size".cast("long").as("num"))
    val s = Tables.load(spark, dir, "supplier")
      .select(concat(lit("s"), $"s_suppkey").as("id"), lit("supplier").as("etype"),
        $"s_name".as("name"), lit(0L).as("num"))
    val n = Tables.load(spark, dir, "nation")
      .select(concat(lit("n"), $"n_nationkey").as("id"), lit("nation").as("etype"),
        $"n_name".as("name"), lit(0L).as("num"))
    // documents enter the substrate with their full text as the word
    // field — the analog of the reference's full-text index entities;
    // every other lux query constrains etype, so the class is invisible
    // to them, and it gives NEAR a field where token distance varies
    val d = Tables.load(spark, dir, "documents")
      .select(concat(lit("d"), $"doc_id").as("id"), lit("document").as("etype"),
        $"text".as("name"), lit(0L).as("num"))
    c.union(o).union(p).union(s).union(n).union(d)
  }

  /** Triple substrate: (subject, predicate, object). */
  def triples(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.load(spark, dir, "orders")
    val li = Tables.load(spark, dir, "lineitem")
    val c = Tables.load(spark, dir, "customer")
    val s = Tables.load(spark, dir, "supplier")
    // dedupe the NARROW numeric pairs, then mint the string ids: the
    // distinct shuffles 16-byte rows with map-side partial dedup instead
    // of ~30-byte concatenated strings, and concat runs on the deduped
    // survivors only (measured ~2× on the k2 export's substrate build)
    o.select(concat(lit("o"), $"o_orderkey").as("subject"),
        lit("placedBy").as("predicate"), concat(lit("c"), $"o_custkey").as("object"))
      .union(li.select($"l_orderkey", $"l_partkey").distinct()
        .select(concat(lit("o"), $"l_orderkey").as("subject"),
          lit("contains").as("predicate"), concat(lit("p"), $"l_partkey").as("object")))
      .union(li.select($"l_partkey", $"l_suppkey").distinct()
        .select(concat(lit("p"), $"l_partkey").as("subject"),
          lit("suppliedBy").as("predicate"), concat(lit("s"), $"l_suppkey").as("object")))
      .union(c.select(concat(lit("c"), $"c_custkey").as("subject"),
        lit("locatedIn").as("predicate"), concat(lit("n"), $"c_nationkey").as("object")))
      .union(s.select(concat(lit("s"), $"s_suppkey").as("subject"),
        lit("locatedIn").as("predicate"), concat(lit("n"), $"s_nationkey").as("object")))
  }

  /** The substrate is materialized ONCE per (session, dir) through
    * [[Fixtures.persisted]] (eager build, re-armed after an external
    * `clearCache()`) and shared by every compiled query — the analog of
    * the reference's persistent record/triple indexes (built offline,
    * queried many times). Rebuilding it per query re-scanned 5 parquet
    * tables and re-ran two full distinct() shuffles each time, which
    * dominated lux_q1's wall-clock.
    *
    * Layout: entities are hash-partitioned on `id` and triples on
    * `subject`, both into ONE shared count, `Substrate.indexPartitions`
    * — ceil(leaf bytes of both / `spark.graft.substrateTargetPartitionBytes`),
    * no cores floor (the Substrate header says why). The persisted
    * layout stays statically visible (Sessions freezes cached-plan
    * partitioning), so a FORWARD hop (`Rel`: triples semi-joined on
    * `object` against a broadcast sub-result) keeps the subject
    * partitioning, its `distinct` on the subject id needs no exchange,
    * and its semi-join with an entity leaf is co-partitioned. An
    * INVERSE hop (`InvRel`) projects `object`, which is not a
    * partitioning key, so at two or more partitions its `distinct`
    * still shuffles; a second triple permutation keyed on `object`
    * would remove that. At 100 TB the same layout is a bucketed table
    * on disk (by id / subject, one bucket count).
    *
    * Key contract: `id` is a key of the entity table. Every entity class
    * mints its ids from its own table's primary key under its own
    * prefix (c, o, p, s, n, d), so no two rows share an id. The compiler
    * folds the leaves of one boolean group into one row predicate,
    * which is exact only under this contract (`LuxCompileSpec` checks it).
    *
    * One partition: below one target of leaf bytes (64 MiB by default,
    * so every bench corpus) the layout is a single partition. Spark
    * keeps a join's single-partition sides unshuffled while each side's
    * size estimate is at most `spark.sql.maxSinglePartitionBytes`
    * (128 MiB). The compiler's hops are semi-joins, estimated at their
    * triple scan, so the estimates stay that small and the static plan
    * of lux_q1_hop_range at sf0.1 has no shuffle exchange
    * (`LuxSubstrateSpec` pins the one-partition case). */
  private[graft] def substrate(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val Seq(e, t) = Fixtures.persisted(spark, "lux_substrate", dir) {
      val (e0, t0) = (entities(spark, dir), triples(spark, dir))
      val n = Substrate.indexPartitions(e0, t0)
      Seq(e0.repartition(n, col("id")), t0.repartition(n, col("subject")))
    }
    (e, t)
  }

  /** Evict cached substrates and unpersist their blocks — the hook a
    * long-lived service embedding this module calls when an index epoch
    * rolls over (`dir = None` drops every substrate of the session).
    * Queries rebuild the substrate lazily on next use. */
  def evictSubstrate(spark: SparkSession, dir: Option[String] = None): Unit =
    Fixtures.evict(spark, "lux_substrate", dir)

  private def run(query: String)(spark: SparkSession, dir: String): DataFrame = {
    val (e, t) = substrate(spark, dir)
    new LuxCompiler(e, t).compile(query)
  }

  /** Oracle-side twin of the compiler's tokenized word leaf: whole
    * folded-token equality (the cts.py:2 default option list — case,
    * diacritic and punctuation insensitive, tokenized). `term` is folded
    * engine-side before splicing so both derivations share one fold.
    * Since punctuation is a token break (round 13), a punctuated term
    * like "NATION_3" folds to MULTIPLE words and the oracle mirrors the
    * engine's phrase semantics: the folded words as consecutive tokens,
    * derived positionally (the q12 machinery) — independent of the
    * engine's regex formulation. */
  private def tokenHitSql(expr: String, term: String): String = {
    val words = LuxCompiler.foldedWords(term)
    val t = TextQueries.tokensSql(
      graft.functions.WordFold.foldSql(s"lower($expr)"))
    words match {
      case Seq() => "FALSE"
      case Seq(one) => s"len(list_filter($t, t -> t = '$one')) > 0"
      case many =>
        // positions i where every word j sits at token i+j; range upper
        // bound is exclusive, so i runs 1 .. len-k+1. The token list
        // expression repeats per probe — fine for an oracle (DuckDB
        // evaluates it per row regardless; clarity over thrift here)
        val conds = many.zipWithIndex.map { case (w, j) =>
          s"($t)[i+$j] = '$w'"
        }.mkString(" AND ")
        s"len([i for i in range(1, len($t) + ${2 - many.size}) if $conds]) > 0"
    }
  }

  /** Q7 hop + Q8 inverse hop + range leaf: customers in a NATION_3-named
    * nation having an order over $300k. */
  val q1 = """AND(etype="customer", locatedIn(name="NATION_3"), ^placedBy(AND(etype="order", num>30000000)))"""
  private val q1Oracle: String =
    s"""SELECT 'c' || c_custkey AS id FROM customer
      |WHERE EXISTS (SELECT 1 FROM nation
      |  WHERE n_nationkey = c_nationkey AND ${tokenHitSql("n_name", "NATION_3")})
      |  AND EXISTS (SELECT 1 FROM orders
      |    WHERE o_custkey = c_custkey AND CAST(ROUND(o_totalprice*100) AS BIGINT) > 30000000)""".stripMargin

  /** Q7: the identity leaf (`ml_lexer.py:177-182` sem_iri): a direct id
    * lookup, a namespace-completed id, and an id-anchored hop — orders
    * placed by one named customer plus two point lookups. */
  val q7 = """OR(id="p42", id="urn:graft:s7", placedBy(id="c3"))"""
  private val q7Oracle: String =
    """SELECT 'p42' AS id FROM part WHERE p_partkey = 42
      |UNION ALL SELECT 's7' FROM supplier WHERE s_suppkey = 7
      |UNION ALL SELECT 'o' || o_orderkey FROM orders WHERE o_custkey = 3""".stripMargin

  /** OR of word-match + relationship branch: big widget parts, or parts
    * supplied out of the NATION_1-named nation (tokenized match — the
    * folded token 'nation1' equals only NATION_1, not NATION_10..19 the
    * old substring approximation also caught). */
  val q2 = """OR(AND(etype="part", name="widget", num>40), AND(etype="part", suppliedBy(locatedIn(name="NATION_1"))))"""
  private val q2Oracle: String =
    s"""SELECT 'p' || p_partkey AS id FROM part
      |WHERE (${tokenHitSql("p_name", "widget")} AND p_size > 40)
      |   OR EXISTS (SELECT 1 FROM lineitem, supplier, nation
      |        WHERE l_partkey = p_partkey AND s_suppkey = l_suppkey
      |          AND n_nationkey = s_nationkey
      |          AND ${tokenHitSql("n_name", "NATION_1")})""".stripMargin

  /** andNot: customers with at least one order, excluding NATION_0*. */
  val q3 = """AND(etype="customer", ^placedBy(etype="order"), NOT(locatedIn(name="NATION_0")))"""
  private val q3Oracle: String =
    s"""SELECT 'c' || c_custkey AS id FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |  AND NOT EXISTS (SELECT 1 FROM nation
      |    WHERE n_nationkey = c_nationkey AND ${tokenHitSql("n_name", "NATION_0")})""".stripMargin

  /** NEAR + BOOST, POSITIONAL since round 10: word leaves sharing a
    * text field require token proximity ≤ LuxCompiler.NearWindow (the
    * q12 machinery wired into the compiler — a strict superset of the
    * reference, whose cts compile raises NotImplementedError for NEAR;
    * BOOST still contributes its first arg's membership only). The
    * round-9 AND-fallback for non-word NEAR kids stays (spec-pinned in
    * LuxParserSpec). */
  val q4 = """BOOST(NEAR(etype="document", name="merge", name="scan"), name="document")"""
  private val q4Oracle: String = {
    // the same WordFold token index as the engine's NEAR — positions are
    // whole-folded-token EQUALITY hits (tokenized word semantics; the
    // old substring-in-token approximation retired with it)
    val t = TextQueries.tokensSql(
      graft.functions.WordFold.foldSql("lower(text)"))
    val md = "list_min(flatten([[abs(i-j) for j in pb] for i in pa]))"
    s"""WITH toks AS (SELECT 'd' || doc_id AS id, $t AS t FROM documents),
       |pos AS (
       |  SELECT id,
       |    [i for i in range(1, len(t)+1) if t[i] = 'merge'] AS pa,
       |    [i for i in range(1, len(t)+1) if t[i] = 'scan'] AS pb
       |  FROM toks)
       |SELECT id FROM pos
       |WHERE len(pa) > 0 AND len(pb) > 0 AND $md <= 3""".stripMargin
  }

  /** The JSON twin of q1 (ml_lexer JsonParser) — same oracle, and a
    * spec asserts the ASTs compile identically. ANDNOT spells the veto. */
  val q6Json: String =
    """{"ANDNOT": [
      |  {"AND": [
      |    {"etype": "customer"},
      |    {"locatedIn": {"name": "NATION_3"}},
      |    {"^placedBy": {"AND": [{"etype": "order"},
      |                           {"num": 30000000, "_comp": ">"}]}}]},
      |  {"locatedIn": {"name": "NATION_0"}}]}""".stripMargin
  private val q6Oracle: String =
    s"""SELECT 'c' || c_custkey AS id FROM customer
      |WHERE EXISTS (SELECT 1 FROM nation
      |  WHERE n_nationkey = c_nationkey AND ${tokenHitSql("n_name", "NATION_3")})
      |  AND EXISTS (SELECT 1 FROM orders
      |    WHERE o_custkey = c_custkey AND CAST(ROUND(o_totalprice*100) AS BIGINT) > 30000000)
      |  AND NOT EXISTS (SELECT 1 FROM nation
      |    WHERE n_nationkey = c_nationkey AND ${tokenHitSql("n_name", "NATION_0")})""".stripMargin

  /** Wildcarded word leaf (cts `wildcarded` option, cts.py:2 —
    * activated by `*`/`?` in the term, MarkLogic's automatic wildcard
    * detection): whole tokens of the text field match the anchored
    * glob. `w?dg*` exercises both wildcard chars against the part
    * vocabulary ("red widget" → token "widget"). */
  val q8 = """AND(etype="part", name="w?dg*")"""
  private val q8Oracle: String = {
    // WordFold (diacritic+punctuation fold) mirrored before tokenizing
    val t = TextQueries.tokensSql(
      graft.functions.WordFold.foldSql("lower(p_name)"))
    s"""SELECT 'p' || p_partkey AS id FROM part
       |WHERE len(list_filter($t, t -> regexp_full_match(t, 'w.dg.*'))) > 0""".stripMargin
  }

  /** Stemmed word leaf (cts `stemmed` option via the JSON form's
    * `_stemmed` param, ml_lexer.py:391-392): token-level equality on
    * the classic PORTER stem (functions/Porter.scala) — "merges" stems
    * to "merg" and matches documents containing "merge"/"merged"/
    * "merging", none of which the plain tokenized leaf would find. The
    * oracle re-derives the full Porter step chain in SQL (CTE stages
    * interpreting the same rule tables), stemming the query term
    * through the SAME chain via a -1-keyed seed row — so both the
    * token stems AND the term stem are derived independently of the
    * engine. */
  val q10StemJson: String =
    """{"AND": [{"etype": "document"}, {"name": "merges", "_stemmed": true}]}"""
  private val q10StemOracle: String = {
    // WordFold (diacritic+punctuation fold) mirrored before tokenizing
    val t = TextQueries.tokensSql(
      graft.functions.WordFold.foldSql("lower(text)"))
    val seed = graft.functions.WordFold.fold("merges")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($t) AS t FROM documents
       |  UNION ALL SELECT -1, '$seed'),
       |dtoks AS (SELECT DISTINCT doc_id, t FROM toks),
       |${graft.functions.Porter.sqlCtes("dtoks", "doc_id", "q10")}
       |SELECT DISTINCT 'd' || doc_id AS id
       |FROM q10_out
       |WHERE doc_id >= 0
       |  AND stem IN (SELECT stem FROM q10_out WHERE doc_id = -1)""".stripMargin
  }

  /** BOOST as RELEVANCE (cts boostQuery, cts.py:58-61): membership is
    * the first argument (docs containing "table"); the word-leaf
    * boosting argument lifts relevance via the integer BM25 term score
    * over the member set (LuxCompiler.ranked — flat 1000 baseline +
    * q10_bm25's exact formula). Closes the last query-language
    * deviation: BOOST results are ordered, not a bare id set. */
  val q9 = """BOOST(AND(etype="document", name="table"), name="merge")"""
  private val q9Oracle: String = {
    // folded token index end to end: membership (token 'table') and the
    // BM25 tf/df/dl counts all run over the same WordFold tokens the
    // engine's tokenized word leaf and ranked() scorer use
    val t = TextQueries.tokensSql(
      graft.functions.WordFold.foldSql("lower(text)"))
    s"""WITH cand AS (
       |  SELECT 'd' || doc_id AS id, $t AS t FROM documents
       |  WHERE list_contains($t, 'table')),
       |m AS (
       |  SELECT id, CAST(len(t) AS BIGINT) AS dl,
       |    CAST(len(list_filter(t, x -> x = 'merge')) AS BIGINT) AS tf
       |  FROM cand),
       |stats AS (
       |  SELECT COUNT(*) AS n_docs,
       |    GREATEST(CAST(SUM(dl) AS BIGINT) * 1000 // COUNT(*), 1) AS avgdl_milli,
       |    CAST(SUM(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df
       |  FROM m)
       |SELECT id,
       |  1000 + CASE WHEN tf > 0
       |    THEN ((((n_docs - df + 1) * 1000) // (df + 1)) * tf * 2200)
       |      // (tf * 1000 + ((1200 * (1000 - 750 + ((750 * dl * 1000) // avgdl_milli))) // 1000))
       |    ELSE 0 END AS score_milli
       |FROM m, stats""".stripMargin
  }

  /** The Porter DIFFERENTIAL: every distinct document token crossed
    * with a suffix matrix chosen to reach every algorithm step (plural,
    * eed/ed/ing + cleanup, y→i, the step-2/3 maps, step-4 deletions,
    * final-e, -ll), stemmed by the JVM `porter_stem` on the engine side
    * and by the full SQL CTE chain (Porter.sqlCtes — the same rule
    * tables, independently interpreted) on the oracle side. Any
    * divergence between the two derivations fails this row's hash. */
  private val porterSuffixes = Seq("", "s", "es", "ies", "ed", "eed",
    "ing", "y", "ational", "izer", "iveness", "ousli", "fulness",
    "biliti", "alism", "icate", "ement", "ance", "ion", "e", "ll")

  def porterDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.call_function
    val toks = Tables.load(spark, dir, "documents")
      .select(explode(TextQueries.tokensCol(
        graft.functions.WordFold.foldCol(lower(col("text"))))).as("base"))
      .distinct()
    toks.select(explode(array(porterSuffixes.map(s =>
        concat($"base", lit(s))): _*)).as("token"))
      .distinct()
      .select($"token", call_function("porter_stem", $"token").as("stem"))
  }
  private val porterDiffOracle: String = {
    val t = TextQueries.tokensSql(
      graft.functions.WordFold.foldSql("lower(text)"))
    val sufList = porterSuffixes.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""WITH base AS (SELECT DISTINCT unnest($t) AS b FROM documents),
       |words AS (SELECT DISTINCT 0 AS k, b || s.suf AS t
       |  FROM base, (SELECT unnest($sufList) AS suf) s),
       |${graft.functions.Porter.sqlCtes("words", "k", "pd")}
       |SELECT t AS token, stem FROM pd_out""".stripMargin
  }

  /** Plain multi-word term = PHRASE over consecutive folded tokens
    * (cts treats multi-word text as a phrase; round-12 review fix —
    * the tokenized leaf would otherwise silently match nothing). The
    * oracle derives adjacency positionally, q13-style, independent of
    * the engine's regex formulation. */
  val q12Phrase = """AND(etype="document", name="merge scan")"""
  private val q12PhraseOracle: String = {
    val t = TextQueries.tokensSql(
      graft.functions.WordFold.foldSql("lower(text)"))
    s"""WITH toks AS (SELECT doc_id, $t AS t FROM documents)
       |SELECT 'd' || doc_id AS id FROM toks
       |WHERE len([i for i in range(1, len(t))
       |           if t[i] = 'merge' AND t[i+1] = 'scan']) > 0""".stripMargin
  }

  /** Stemmed multi-word term: consecutive per-token PORTER stems —
    * "merged scans" reaches the 28 docs whose text has merge/scan
    * adjacent, while its plain twin matches zero (no literal "merged"
    * in the fixture; spec-pinned). The oracle stems every positioned
    * token AND both query words through the same generated Porter CTE
    * chain (seed rows k=-1/-2), then joins adjacency positionally. */
  val q13StemPhraseJson: String =
    """{"AND": [{"etype": "document"}, {"name": "merged scans", "_stemmed": true}]}"""
  private val q13StemPhraseOracle: String = {
    val t = TextQueries.tokensSql(
      graft.functions.WordFold.foldSql("lower(text)"))
    val w1 = graft.functions.WordFold.fold("merged")
    val w2 = graft.functions.WordFold.fold("scans")
    s"""WITH toks AS (SELECT doc_id, $t AS t FROM documents),
       |ptok AS (SELECT doc_id, x.i AS pos, t[x.i] AS tok
       |  FROM toks, UNNEST(range(1, len(t)+1)) AS x(i)),
       |dtok AS (
       |  SELECT DISTINCT CAST(0 AS BIGINT) AS k, tok AS t FROM ptok
       |  UNION ALL SELECT -1, '$w1'
       |  UNION ALL SELECT -2, '$w2'),
       |${graft.functions.Porter.sqlCtes("dtok", "k", "q13p")},
       |stems AS (
       |  SELECT p.doc_id, p.pos, o.stem
       |  FROM ptok p JOIN q13p_out o ON p.tok = o.t AND o.k = 0)
       |SELECT DISTINCT 'd' || a.doc_id AS id
       |FROM stems a JOIN stems b
       |  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |WHERE a.stem = (SELECT stem FROM q13p_out WHERE k = -1)
       |  AND b.stem = (SELECT stem FROM q13p_out WHERE k = -2)""".stripMargin
  }

  /** The FOLD differential — the porter-diff pattern applied to
    * WordFold itself: every distinct document token crossed with a
    * decoration matrix chosen to reach each fold rule (punctuation
    * split, connector punctuation, precomposed vs combining accents,
    * spacing/enclosing marks, supplementary-plane letters, Nl/No
    * number forms, non-ASCII whitespace, ß/İ/ł casing-and-accent
    * edges), folded by the JVM `word_fold` expression engine-side and
    * by the foldSql regex chain oracle-side. Any divergence between
    * the two derivations — either fold rule drift OR a lower()
    * disagreement on the decorated text — fails this row's hash. The
    * round-13 review found two real engine/oracle fold splits by hand
    * (Mc marks, and earlier the punctuation fusion); this makes the
    * whole class mechanical. */
  private val foldDecorations = Seq("", "-scan", "_3", "'s", "...",
    "é", "é", "xा", "x⃣", "𝕓ed",
    "²", "½x", "Ⅷ", " sep", "ß", "İ",
    "łø",
    "ΒΟΣ",  // uppercase Greek ending in Σ: full-cased vs simple-cased
            // lower diverge (βος vs βοσ) and must meet at the sigma fold
    "ές",   // literal final sigma in already-lower text
    "x\u000By") // vertical tab: NOT in this DuckDB's RE2 \s (probed —
                // upstream RE2 added \v to \s in 2017 but the oracle
                // build spaces it), so both folds must break on it;
                // pins the asymmetry the round-13 advice flagged

  def foldDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.load(spark, dir, "documents")
      .select(explode(TextQueries.tokensCol(lower(col("text")))).as("base"))
      .distinct()
    toks.select(explode(array(foldDecorations.map(s =>
        concat($"base", lit(s))): _*)).as("token"))
      .distinct()
      .select($"token",
        graft.functions.WordFold.foldCol(lower($"token")).as("folded"))
  }
  private val foldDiffOracle: String = {
    val t = TextQueries.tokensSql("lower(text)")
    val sufList = foldDecorations
      .map(s => "'" + s.replace("'", "''") + "'").mkString("[", ", ", "]")
    s"""WITH base AS (SELECT DISTINCT unnest($t) AS b FROM documents),
       |toks AS (SELECT DISTINCT b || s.suf AS token
       |  FROM base, (SELECT unnest($sufList) AS suf) s)
       |SELECT token,
       |  ${graft.functions.WordFold.foldSql("lower(token)")} AS folded
       |FROM toks""".stripMargin
  }

  private def runRanked(query: String)(spark: SparkSession, dir: String): DataFrame = {
    val (e, t) = substrate(spark, dir)
    new LuxCompiler(e, t).compileRanked(query)
  }

  private def runJson(query: String)(spark: SparkSession, dir: String): DataFrame = {
    val (e, t) = substrate(spark, dir)
    new LuxCompiler(e, t).compileJson(query)
  }

  override def register(): Unit = {
    Queries.register(QueryDef("lux_q1_hop_range", run(q1), Some(q1Oracle), bench = true))
    Queries.register(QueryDef("lux_q2_or_word", run(q2), Some(q2Oracle)))
    Queries.register(QueryDef("lux_q3_andnot", run(q3), Some(q3Oracle)))
    Queries.register(QueryDef("lux_q4_near", run(q4), Some(q4Oracle)))
    Queries.register(QueryDef("lux_q6_json", runJson(q6Json), Some(q6Oracle)))
    Queries.register(QueryDef("lux_q7_id", run(q7), Some(q7Oracle)))
    Queries.register(QueryDef("lux_q8_wildcard", run(q8), Some(q8Oracle)))
    Queries.register(QueryDef("lux_q9_boost", runRanked(q9), Some(q9Oracle)))
    Queries.register(QueryDef("lux_q10_stemmed", runJson(q10StemJson),
      Some(q10StemOracle)))
    Queries.register(QueryDef("lux_q11_porter_diff", porterDiff,
      Some(porterDiffOracle)))
    Queries.register(QueryDef("lux_q12_phrase", run(q12Phrase),
      Some(q12PhraseOracle)))
    Queries.register(QueryDef("lux_q13_stem_phrase", runJson(q13StemPhraseJson),
      Some(q13StemPhraseOracle)))
    Queries.register(QueryDef("lux_q14_fold_diff", foldDiff,
      Some(foldDiffOracle)))
  }
}
