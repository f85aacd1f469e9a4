package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Export + generator operators (SURVEY §2.2 K2, §2.8 F7, §2.4 J8/J13,
  * §2.6 W3): RDF N-Triples rendering, candidate-name generation
  * (UDTF-style flatMap), nested-record id rewrite via explode/join/
  * re-nest, delete cascade with inbound-reference keep, and
  * language-score ordering. */
object ExportQueries extends QueryGroup {

  /** K2/M15: N-Triples export — relationship triples from the triple
    * substrate plus literal name triples with N-Triples string escaping;
    * one output line per triple (a flatMap-to-text Generator). */
  def ntTriples(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rel = LuxQueries.triples(spark, dir)
      .select(concat(lit("<urn:graft:"), $"subject", lit("> <urn:graft:"),
        $"predicate", lit("> <urn:graft:"), $"object", lit("> .")).as("line"))
    // literal replace, not regexp_replace: both escapes are fixed
    // strings, and the regex engine (pattern compile + NFA walk per
    // row) is pure overhead on the export's hottest projection — the
    // same built-in the DuckDB oracle already uses (r17, guide §1.2
    // "per-task work"; output bit-identical)
    val esc = replace(replace(col("name"), lit("\\"), lit("\\\\")),
      lit("\""), lit("\\\""))
    val lit_ = LuxQueries.entities(spark, dir)
      // record-class literals only: the `document` substrate class is
      // the full-text index side (its name IS the document body, there
      // for NEAR), not an exported record
      .filter($"name".isNotNull && $"etype" =!= "document")
      .select(concat(lit("<urn:graft:"), $"id",
        lit("> <urn:graft:name> \""), esc, lit("\" .")).as("line"))
    rel.union(lit_)
  }
  private val ntTriplesOracle: String =
    """WITH rel AS (
      |  SELECT 'o' || o_orderkey AS s, 'placedBy' AS p, 'c' || o_custkey AS o FROM orders
      |  UNION ALL
      |  SELECT DISTINCT 'o' || l_orderkey, 'contains', 'p' || l_partkey FROM lineitem
      |  UNION ALL
      |  SELECT DISTINCT 'p' || l_partkey, 'suppliedBy', 's' || l_suppkey FROM lineitem
      |  UNION ALL
      |  SELECT 'c' || c_custkey, 'locatedIn', 'n' || c_nationkey FROM customer
      |  UNION ALL
      |  SELECT 's' || s_suppkey, 'locatedIn', 'n' || s_nationkey FROM supplier),
      |lits AS (
      |  SELECT 'c' || c_custkey AS id, c_name AS name FROM customer
      |  UNION ALL SELECT 'p' || p_partkey, p_name FROM part
      |  UNION ALL SELECT 's' || s_suppkey, s_name FROM supplier
      |  UNION ALL SELECT 'n' || n_nationkey, n_name FROM nation)
      |SELECT '<urn:graft:' || s || '> <urn:graft:' || p || '> <urn:graft:' || o || '> .' AS line FROM rel
      |UNION ALL
      |SELECT '<urn:graft:' || id || '> <urn:graft:name> "' ||
      |  replace(replace(name, '\', '\\'), '"', '\"') || '" .' FROM lits""".stripMargin

  /** F7: extract_names — UDTF-style generator emitting prioritized
    * candidate-name rows per record (original, lowercased, `last, first`
    * swap on the # separator), the reconciler's candidate feed. */
  def extractNames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.load(spark, dir, "customer")
    val swapped = concat(element_at(split($"c_name", "#"), 2), lit(", "),
      element_at(split($"c_name", "#"), 1))
    c.select($"c_custkey", explode(array(
        struct(lit(1L).as("priority"), $"c_name".as("name")),
        struct(lit(2L).as("priority"), lower($"c_name").as("name")),
        struct(lit(3L).as("priority"), swapped.as("name")))).as("cand"))
      .select($"c_custkey", $"cand.priority", $"cand.name")
  }
  private val extractNamesOracle: String =
    """SELECT c_custkey, 1 AS priority, c_name AS name FROM customer
      |UNION ALL
      |SELECT c_custkey, 2, lower(c_name) FROM customer
      |UNION ALL
      |SELECT c_custkey, 3,
      |  string_split(c_name, '#')[2] || ', ' || string_split(c_name, '#')[1]
      |FROM customer""".stripMargin

  /** J13: delete cascade — delete candidates (small parts) survive if any
    * active order still references them (inbound-reference semi-join);
    * output = the rows actually deleted. */
  def deleteCascade(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val candidates = Tables.load(spark, dir, "part").filter($"p_size" < 5)
    val activeRefs = Tables.load(spark, dir, "lineitem")
      .join(Tables.load(spark, dir, "orders")
          .filter($"o_orderdate" >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))),
        $"l_orderkey" === $"o_orderkey")
      .select($"l_partkey")
    candidates.join(activeRefs, $"p_partkey" === $"l_partkey", "left_anti")
      .select($"p_partkey", $"p_name")
  }
  private val deleteCascadeOracle: String =
    """SELECT p_partkey, p_name FROM part
      |WHERE p_size < 5 AND NOT EXISTS (
      |  SELECT 1 FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_partkey = p_partkey AND o_orderdate >= TIMESTAMP '1997-01-01')""".stripMargin

  /** W3: language ordering by score — per source, its languages sorted by
    * (score desc, lang asc) rendered as CSV (sorted struct array). */
  def langOrder(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val score = typedLit(Map("en" -> 100L, "fr" -> 90L, "de" -> 80L,
      "es" -> 70L, "zh" -> 60L))
    Tables.load(spark, dir, "documents")
      .select($"source", $"lang").distinct()
      .select($"source", struct((-coalesce(element_at(score, $"lang"), lit(0L)))
        .as("neg"), $"lang").as("sl"))
      .groupBy($"source")
      .agg(concat_ws(",", transform(sort_array(collect_list($"sl")),
        s => s.getField("lang"))).as("langs"))
  }
  private val langOrderOracle: String =
    """WITH sl AS (
      |  SELECT DISTINCT source, lang,
      |    CASE lang WHEN 'en' THEN 100 WHEN 'fr' THEN 90 WHEN 'de' THEN 80
      |              WHEN 'es' THEN 70 WHEN 'zh' THEN 60 ELSE 0 END AS score
      |  FROM documents)
      |SELECT source,
      |  array_to_string(list(lang ORDER BY score DESC, lang ASC), ',') AS langs
      |FROM sl GROUP BY source""".stripMargin

  /** J8/M6 at scale: nested-record id rewrite by explode → join → re-nest
    * — build nested order records (sorted item array), explode the items,
    * rewrite part ids through the reconciliation index, re-nest in
    * linenumber order. The SURVEY §7.4.4 partitioned-join path. */
  def nestedRewrite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.load(spark, dir, "lineitem").filter($"l_orderkey" % 20 === 0)
    val nested = li.groupBy($"l_orderkey")
      .agg(sort_array(collect_list(struct($"l_linenumber", $"l_partkey")))
        .as("items"))
    val idx = Tables.load(spark, dir, "part")
      .groupBy(lower($"p_name").as("key"), $"p_brand".as("itype"))
      .agg(min($"p_partkey").as("canonical"))
    val parts = Tables.load(spark, dir, "part")
      .join(idx, lower($"p_name") === $"key" && $"p_brand" === $"itype")
      .select($"p_partkey", $"canonical")
    nested
      .select($"l_orderkey", explode($"items").as("item"))
      .join(broadcast(parts), $"item.l_partkey" === $"p_partkey")
      .groupBy($"l_orderkey")
      .agg(concat_ws(",", transform(
        sort_array(collect_list(struct($"item.l_linenumber".as("ln"), $"canonical"))),
        s => s.getField("canonical"))).as("canonical_parts"))
  }
  private val nestedRewriteOracle: String =
    """WITH idx AS (
      |  SELECT lower(p_name) AS key, p_brand AS itype, MIN(p_partkey) AS canonical
      |  FROM part GROUP BY 1, 2),
      |pmap AS (
      |  SELECT p_partkey, canonical FROM part
      |  JOIN idx ON lower(p_name) = key AND p_brand = itype)
      |SELECT l_orderkey,
      |  array_to_string(list(canonical ORDER BY l_linenumber, canonical), ',')
      |    AS canonical_parts
      |FROM lineitem JOIN pmap ON l_partkey = p_partkey
      |WHERE l_orderkey % 20 = 0
      |GROUP BY l_orderkey""".stripMargin

  /** M15: the full record→triples walk (pipeline.NtWalk) over nested
    * fixture records: bnode minting, internal-ref short-circuit,
    * external sanitization, type-dependent part_of/member_of predicates,
    * literal/date handling. Map-only — one record in, ~14 rows out. */
  def ntWalk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val I = graft.pipeline.MlMapper.InternalPfx
    Tables.load(spark, dir, "customer")
      .select($"c_custkey".cast("long")).as[Long].flatMap { ck =>
        val member = if (ck % 2 == 0) "Set" else "Group"
        val json =
          s"""{"id": "${I}obj/$ck", "type": "HumanMadeObject",
             |"produced_by": {"type": "Production",
             |  "carried_out_by": [{"id": "${I}agent/${ck % 50}", "type": "Person"}],
             |  "timespan": {"type": "TimeSpan", "begin_of_the_begin": "1900-01-01T00:00:00"}},
             |"identified_by": [{"type": "Name", "content": "Object $ck"}],
             |"equivalent": [{"id": "http://ex.org/a b{$ck}", "type": "HumanMadeObject"}],
             |"part_of": [{"id": "${I}obj/p${ck % 100}", "type": "HumanMadeObject"}],
             |"member_of": [{"id": "${I}set/${ck % 20}", "type": "$member"}]}""".stripMargin
        val (triples, _) = graft.pipeline.NtWalk.transform(json)
        triples.map(t => (t.subject, t.predicate, t.obj, t.kind))
      }.toDF("subject", "predicate", "obj", "kind")
  }
  private val ntWalkOracle: String = {
    val I = graft.pipeline.MlMapper.InternalPfx
    val base = s"'$I' || 'obj/' || ck"
    val b0 = s"$base || '_0'"
    val b1 = s"$base || '_1'"
    val b2 = s"$base || '_2'"
    val agent = s"'$I' || 'agent/' || (ck % 50)"
    val ext = "'http://ex.org/a%20b%7B' || ck || '%7D'"
    def r(s: String, p: String, o: String, kind: String = "uri",
        cond: String = "TRUE") =
      s"SELECT $s AS subject, '$p' AS predicate, $o AS obj, '$kind' AS kind FROM b WHERE $cond"
    val rows = Seq(
      r(base, "rdf:type", "'crm:E22_Human-Made_Object'"),
      r(b0, "rdf:type", "'crm:E12_Production'"),
      r(b0, "crm:P14_carried_out_by", agent),
      r(b1, "rdf:type", "'crm:E52_Time-Span'"),
      r(b1, "crm:P82a_begin_of_the_begin", "'1900-01-01T00:00:00'", "date"),
      r(b0, "crm:P4_has_time-span", b1),
      r(base, "crm:P108i_was_produced_by", b0),
      r(b2, "rdf:type", "'crm:E33_E41_Linguistic_Appellation'"),
      r(b2, "crm:P190_has_symbolic_content", "'Object ' || ck", "literal"),
      r(base, "crm:P1_is_identified_by", b2),
      r(ext, "rdf:type", "'crm:E22_Human-Made_Object'"),
      r(base, "la:equivalent", ext),
      r(base, "crm:P46i_forms_part_of", s"'$I' || 'obj/p' || (ck % 100)"),
      r(base, "la:member_of", s"'$I' || 'set/' || (ck % 20)", "uri", "ck % 2 = 0"),
      r(base, "crm:P107i_is_current_or_former_member_of",
        s"'$I' || 'set/' || (ck % 20)", "uri", "ck % 2 <> 0"))
    s"""WITH b AS (SELECT c_custkey AS ck FROM customer)
       |${rows.mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** K1: the JSONL export sink proven through the real files — dump the
    * documents table as sharded JSONL (`export_full_N` analog,
    * `loader.py:29-86`), then re-ingest through Jsonl.load with
    * skip-existing semantics (doc_id < 100 "already present", anti-
    * joined away). The oracle reads the ORIGINAL parquet, so a
    * hash-match proves the sink wrote every row and every field
    * faithfully (JSON string escaping and integer width included), not
    * just that a roundtrip spec passed on a toy frame.
    *
    * Scale: save is a straight sharded write; load is line-splittable
    * JSON; skip-existing ships only the id column into the anti-join.
    *
    * The reference's ad-hoc export scripts are this same kernel: the
    * typed per-slice dump (`extract_people.py:24-33` — our typed scan
    * + sharded write) and the external-record zip export with its
    * qua-split first-wins dedupe (`exportExternal.py:45-63` — the
    * distinct-on-identifier step is s10's typed scan + d1's exact
    * dedupe composed ahead of the write). */
  def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang", $"source", $"text", $"n_chars")
    val out = new java.io.File(Fixtures.tempDir("graft_k1_"), "docs_jsonl").getPath
    sources.Jsonl.save(docs, out, shards = 3)
    val existing = docs.filter($"doc_id" < 100).select($"doc_id")
    sources.Jsonl.load(spark, out, "doc_id", Some(existing))
      .select($"doc_id", $"lang", $"source", $"text", $"n_chars")
  }
  private val jsonlRoundtripOracle: String =
    """SELECT doc_id, lang, source, text, n_chars
      |FROM documents WHERE doc_id >= 100""".stripMargin

  final case class SanOut(id: Long, clean_padded: String, clean_plain: String,
      uri: String)

  /** F18: the qlever full-text sanitize kernels (functions.Sanitize) —
    * per customer a raw literal exercising every rule: control chars,
    * quotes, backslashes, hyphen tokenization, NFD diacritics folding,
    * per-word punctuation strip + thorn padding, and the IRI brace
    * encoding. `clean_padded` runs with the knobs ON (diacritics off +
    * min 3 chars); `clean_plain` is the default path. */
  def sanitizeStrings(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Sanitize
    Tables.load(spark, dir, "customer")
      .select($"c_custkey".cast("long"), $"c_name")
      .as[(Long, String)].map { case (ck, cname) =>
        val raw = (ck % 4) match {
          case 0 => s"$cname-D\u00e9j\u00e0 \"Vu\""
          case 1 => s"$cname\tCr\u00e8me\\Br\u00fbl\u00e9e"
          case 2 => s"\u00d1a\u00f1o:: $cname"
          case _ => s"$cname a b!!"
        }
        SanOut(ck,
          Sanitize.sanitizeString(raw, removeDiacritics = true, minWordChars = 3),
          Sanitize.sanitizeString(raw),
          Sanitize.sanitizeUri(s"https://x.org/{q$ck}\r"))
      }.toDF()
  }
  private val sanitizeOracle: String =
    """WITH r AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS ck,
      |    CASE CAST(c_custkey % 4 AS INTEGER)
      |      WHEN 0 THEN c_name || '-Déjà "Vu"'
      |      WHEN 1 THEN c_name || chr(9) || 'Crème\Brûlée'
      |      WHEN 2 THEN 'Ñaño:: ' || c_name
      |      ELSE c_name || ' a b!!' END AS raw
      |  FROM customer),
      |base AS (
      |  SELECT ck,
      |    replace(replace(replace(replace(replace(replace(lower(raw),
      |      chr(13), ' '), chr(10), ' '), chr(9), ' '), '"', ''), '\', ''),
      |      '-', ' ') AS b
      |  FROM r)
      |SELECT ck AS id,
      |  list_aggregate(list_transform(
      |    list_filter(string_split_regex(strip_accents(b), '\s+'),
      |      w -> w <> ''),
      |    w -> CASE WHEN length(trim(w, '!"#$%&''()*+,-./:;<=>?@[\]^_`{|}~')) >= 3
      |      THEN trim(w, '!"#$%&''()*+,-./:;<=>?@[\]^_`{|}~')
      |      ELSE rpad(trim(w, '!"#$%&''()*+,-./:;<=>?@[\]^_`{|}~'), 3, 'þ')
      |      END),
      |    'string_agg', ' ') AS clean_padded,
      |  b AS clean_plain,
      |  'https://x.org/%7Bq' || ck || '%7D' AS uri
      |FROM base""".stripMargin

  final case class SanDiffOut(raw: String, plain: String, padded: String,
      uri_ext: String, uri_int: String)

  /** The SANITIZE differential (f18b) — the q14/f1b/f8b pattern on the
    * qlever kernels: every printable-ASCII document token × 15
    * decorations, one per kernel rule and string-library seam
    * (precomposed vs combining accents, Mc matra KEPT by the Mn-only
    * filter, Me keycap kept, supplementary-plane Mn dropped, non-BMP
    * standalone word ljust'ed by CODE POINTS, NBSP/ideographic-space
    * Python-split breaks, the İ full-vs-simple lower seam, ẞ→ß,
    * punctuation strip edges, the \r\n\t replace chain, dot/apostrophe
    * short words through strip→pad). Engine: the real Sanitize kernels.
    * Oracle: a full DuckDB re-derivation — explicit `\p{Mn}` removal +
    * strip_accents with the two Mc/Me decoration chars PUA-sentinel-
    * protected (strip_accents wrongly removes ALL marks; the sentinel
    * keeps the oracle at Python's Mn-only semantics), a `\x{…}`-class
    * regex split for Python's unicode str.split(), codepoint rpad for
    * ljust, and the İ→i+U+0307 pre-replace for full-casing lower.
    * Built FOUR engine parity fixes by construction: Python-split
    * whitespace, codepoint ljust, codepoint Mn filter, and
    * sanitize_uri's space/\n/\t handling + internal-namespace bypass
    * (mapper2.py:79-89). */
  private val sanDecorations: Seq[(String, String)] = Seq(
    ("", ""),
    ("é-", "\"x"),            // precomposed accent; hyphen→space; quote drop
    ("é", "\\y"),       // combining acute; backslash drop
    ("xा-", ""),         // Mc matra: survives the Mn-only filter
    ("x⃣ ", ""),         // Me enclosing keycap: survives
    ("x𝅧 ", ""),   // supplementary-plane Mn: dropped
    ("𝕓 ", ""),    // non-BMP standalone word: codepoint ljust
    (" z ", ""),         // NBSP: a Python-split word break
    ("　w ", ""),         // ideographic space: same
    ("İ", ""),                // full-vs-simple lower seam (pre-replaced)
    ("ẞs-", ""),              // sharp-S: simple mapping agrees
    ("!!", "!!"),             // punctuation strip at word edges
    ("\r", "\n\ta"),          // replace chain + a short padded word
    (". ", " .a"),            // dot-edged short words → strip → pad
    ("' ", " 'a"))            // apostrophe in the strip set

  def sanitizeDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Sanitize
    val toks = Tables.load(spark, dir, "documents")
      .select(explode(TextQueries.tokensCol(lower(col("text")))).as("b"))
      .filter(!col("b").rlike("[^\\x20-\\x7e]"))
      .distinct().as[String]
    toks.flatMap { b =>
      sanDecorations.map { case (p, s) =>
        val raw = p + b + s
        SanDiffOut(raw,
          Sanitize.sanitizeString(raw),
          Sanitize.sanitizeString(raw, removeDiacritics = true, minWordChars = 3),
          Sanitize.sanitizeUri(s"https://x.org/a b{$b}\n"),
          Sanitize.sanitizeUri(s"https://lux.example/data/x {$b}",
            "https://lux.example/data/"))
      }
    }.toDF().distinct()
  }

  /** SQL literal for a template string: printable-ASCII runs quoted,
    * everything else an explicit chr(codepoint) — keeps control chars
    * and supplementary-plane pieces out of the JSON-shipped SQL text. */
  private def sqlLit(s: String): String =
    if (s.isEmpty) "''"
    else {
      val parts = Seq.newBuilder[String]
      val b = new StringBuilder
      def flush(): Unit =
        if (b.nonEmpty) { parts += ("'" + b.toString.replace("'", "''") + "'"); b.clear() }
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        if (cp >= 0x20 && cp < 0x7f) b.append(cp.toChar)
        else { flush(); parts += s"chr($cp)" }
        i += Character.charCount(cp)
      }
      flush()
      parts.result().mkString(" || ")
    }

  private def sanitizeDiffOracle: String = {
    val pyWs = graft.functions.UriCanon.pyWhitespace
      .map(cp => s"\\x{${cp.toHexString}}").mkString
    val strip = """chr(9)||chr(10)||chr(11)||chr(12)||chr(13)||""" +
      """' !"#$%&''()*+,-./:;<=>?@[\]^_`{|}~'"""
    def trimW(x: String) = s"trim($x, $strip)"
    val tpl = sanDecorations
      .map { case (p, s) => s"(${sqlLit(p)}, ${sqlLit(s)})" }.mkString(", ")
    val t = TextQueries.tokensSql("lower(text)")
    // PUA sentinels protect the two Mc/Me decoration chars from
    // strip_accents (which removes ALL marks where Python removes Mn
    // only); the ASCII-token filter guarantees no other marks exist
    val matra = "chr(2366)"  // U+093E
    val keycap = "chr(8419)" // U+20E3
    s"""WITH base AS (SELECT DISTINCT unnest($t) AS b FROM documents),
       |tb AS (SELECT b FROM base
       |  WHERE NOT regexp_matches(b, '[^\\x20-\\x7e]')),
       |rows0 AS (SELECT DISTINCT t.pre || b || t.suf AS raw, b
       |  FROM tb, (VALUES $tpl) t(pre, suf)),
       |low AS (SELECT raw, b,
       |  lower(replace(raw, chr(304), 'i' || chr(775))) AS lo FROM rows0),
       |rep AS (SELECT *, replace(replace(replace(replace(replace(replace(lo,
       |  chr(13), ' '), chr(10), ' '), chr(9), ' '), '"', ''), '\\', ''),
       |  '-', ' ') AS r FROM low),
       |dia AS (SELECT *, replace(replace(strip_accents(regexp_replace(
       |  replace(replace(r, $matra, chr(57344)), $keycap, chr(57345)),
       |  '\\p{Mn}', '', 'g')), chr(57344), $matra), chr(57345), $keycap)
       |  AS d FROM rep),
       |pad AS (SELECT *, list_aggregate(list_transform(
       |  list_filter(string_split_regex(d, '[$pyWs]+'), w -> w <> ''),
       |  w -> CASE WHEN length(${trimW("w")}) >= 3 THEN ${trimW("w")}
       |    ELSE rpad(${trimW("w")}, 3, 'þ') END), 'string_agg', ' ')
       |  AS padded FROM dia)
       |SELECT raw, r AS plain, coalesce(padded, '') AS padded,
       |  replace(replace(replace(replace(replace(replace(replace(
       |    'https://x.org/a b{' || b || chr(10) || '}',
       |    ' ', '%20'), chr(10), ''), chr(9), ''), chr(13), ''), '"', ''),
       |    '{', '%7B'), '}', '%7D') AS uri_ext,
       |  'https://lux.example/data/x {' || b || '}' AS uri_int
       |FROM pad""".stripMargin
  }

  override def register(): Unit = {
    Queries.register(QueryDef("k1_jsonl_roundtrip", jsonlRoundtrip, Some(jsonlRoundtripOracle)))
    Queries.register(QueryDef("k2_nt_triples", ntTriples, Some(ntTriplesOracle), bench = true))
    Queries.register(QueryDef("f18_sanitize_string", sanitizeStrings, Some(sanitizeOracle)))
    Queries.register(QueryDef("f18b_sanitize_diff", sanitizeDiff, Some(sanitizeDiffOracle)))
    Queries.register(QueryDef("m15_nt_walk", ntWalk, Some(ntWalkOracle)))
    Queries.register(QueryDef("f7_extract_names", extractNames, Some(extractNamesOracle)))
    Queries.register(QueryDef("j13_delete_cascade", deleteCascade, Some(deleteCascadeOracle)))
    Queries.register(QueryDef("w3_lang_order", langOrder, Some(langOrderOracle)))
    Queries.register(QueryDef("j8b_nested_rewrite", nestedRewrite, Some(nestedRewriteOracle)))
  }
}
