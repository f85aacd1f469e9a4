package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.LuxQL
import graft.plans.LuxQL._

class LuxParserSpec extends AnyFunSuite {
  test("leaf comparators") {
    assert(LuxQL.parse("""name="widget"""") ===
      Leaf("name", "=", "widget", 0L, isNum = false))
    assert(LuxQL.parse("num>40") === Leaf("num", ">", null, 40L, isNum = true))
    assert(LuxQL.parse("num<=-5") === Leaf("num", "<=", null, -5L, isNum = true))
  }

  test("boolean nesting with arity rules") {
    val ast = LuxQL.parse("""AND(etype="part", OR(num>40, num<10))""")
    assert(ast === Bool("AND", Seq(
      Leaf("etype", "=", "part", 0L, isNum = false),
      Bool("OR", Seq(
        Leaf("num", ">", null, 40L, isNum = true),
        Leaf("num", "<", null, 10L, isNum = true))))))
    assertThrows[Exception](LuxQL.parse("""AND(num>1)"""))
    assertThrows[Exception](LuxQL.parse("""NOT(num>1, num<2)"""))
  }

  test("relationship and inverse hops") {
    assert(LuxQL.parse("""suppliedBy(name="x")""") ===
      Rel("suppliedBy", Leaf("name", "=", "x", 0L, isNum = false)))
    assert(LuxQL.parse("""^placedBy(etype="order")""") ===
      InvRel("placedBy", Leaf("etype", "=", "order", 0L, isNum = false)))
  }

  test("whitespace-insensitive; errors on malformed input") {
    assert(LuxQL.parse("""AND( num>1 ,  num<5 )""") ===
      Bool("AND", Seq(Leaf("num", ">", null, 1L, isNum = true),
        Leaf("num", "<", null, 5L, isNum = true))))
    assertThrows[Exception](LuxQL.parse("""AND(num>1"""))
    assertThrows[Exception](LuxQL.parse(""""unterminated"""))
    assertThrows[Exception](LuxQL.parse("""name="x" extra"""))
  }

  test("NEAR/BOOST/ANDNOT booleans with arity rules (query_token_rules.py:7)") {
    assert(LuxQL.parse("""NEAR(num>1, num<5)""") ===
      Bool("NEAR", Seq(Leaf("num", ">", null, 1L, isNum = true),
        Leaf("num", "<", null, 5L, isNum = true))))
    assert(LuxQL.parse("""BOOST(num>1, name="x")""") ===
      Bool("BOOST", Seq(Leaf("num", ">", null, 1L, isNum = true),
        Leaf("name", "=", "x", 0L, isNum = false))))
    assertThrows[Exception](LuxQL.parse("""BOOST(num>1)"""))
    assertThrows[Exception](LuxQL.parse("""ANDNOT(num>1)"""))
    assertThrows[Exception](LuxQL.parse("""ANDNOT(num>1, num<2, num<3)"""))
  }

  test("JSON parser mirrors the string parser (ml_lexer.py:324-405)") {
    val fromJson = LuxQL.parseJson(
      """{"AND": [{"etype": "part"},
        |         {"suppliedBy": {"name": "x"}},
        |         {"^placedBy": {"num": 40, "_comp": ">"}},
        |         {"num": 10, "_comp": "<="}]}""".stripMargin)
    assert(fromJson === Bool("AND", Seq(
      Leaf("etype", "=", "part", 0L, isNum = false),
      Rel("suppliedBy", Leaf("name", "=", "x", 0L, isNum = false)),
      InvRel("placedBy", Leaf("num", ">", null, 40L, isNum = true)),
      Leaf("num", "<=", null, 10L, isNum = true))))
  }

  test("JSON parser rejects malformed clauses") {
    // multiple non-param keys: ambiguous (ml_lexer.py:336-343)
    assertThrows[Exception](
      LuxQL.parseJson("""{"name": "x", "etype": "y"}"""))
    // raw value inside a boolean (ml_lexer.py:352-355)
    assertThrows[Exception](LuxQL.parseJson("""{"AND": ["x", {"num": 1}]}"""))
    // unknown boolean — NOT must be spelled ANDNOT in JSON (:328)
    assertThrows[Exception](LuxQL.parseJson("""{"NOT": [{"num": 1}]}"""))
    // _scope is tolerated and ignored
    assert(LuxQL.parseJson("""{"_scope": "Agent", "name": "x"}""") ===
      Leaf("name", "=", "x", 0L, isNum = false))
  }

  test("word-query options: _stemmed param and wildcard detection") {
    import graft.plans.LuxCompiler
    // JSON _stemmed param (ml_lexer.py:391-392) lands on the leaf
    assert(LuxQL.parseJson("""{"name": "scans", "_stemmed": true}""") ===
      Leaf("name", "=", "scans", 0L, isNum = false, stemmed = true))
    assert(LuxQL.parseJson("""{"name": "scans", "_stemmed": false}""") ===
      Leaf("name", "=", "scans", 0L, isNum = false))
    // _contains escape hatch (engine extension): raw substring match
    assert(LuxQL.parseJson("""{"name": "idge", "_contains": true}""") ===
      Leaf("name", "=", "idge", 0L, isNum = false, contains = true))
    // wildcarded is detected from the term, never a flag
    assert(LuxCompiler.isWildcard("wid*"))
    assert(LuxCompiler.isWildcard("w?dget"))
    assert(!LuxCompiler.isWildcard("widget"))
    // glob translation escapes regex metachars, maps only */?
    assert(LuxCompiler.globToRegex("w?dg*") === "w.dg.*")
    assert(LuxCompiler.globToRegex("a.b*") === "a\\.b.*")
  }

  test("wildcard and stemmed leaves compile against the substrate") {
    val spark = TestSpark.spark
    val (e, t) = LuxQueries.substrate(spark, TestSpark.sf)
    val c = new graft.plans.LuxCompiler(e, t)
    // wildcard matches whole tokens: w?dg* finds widget parts, and is a
    // subset of the _contains escape hatch for the stem "widg"
    val wild = c.compile("""AND(etype="part", name="w?dg*")""")
      .collect().map(_.getString(0)).toSet
    val contains = c.compileJson(
      """{"AND": [{"etype": "part"}, {"name": "widg", "_contains": true}]}""")
      .collect().map(_.getString(0)).toSet
    assert(wild.nonEmpty)
    assert(wild.subsetOf(contains))
    // plain terms are TOKENIZED (cts.py:2 default): "idge" (substring
    // of widget, never a whole token) matches nothing — only the
    // _contains escape hatch reaches substring semantics; the
    // token-anchored wildcard ^idge.*$ matches no whole token either
    assert(c.compile("""AND(etype="part", name="idge")""").count() === 0L)
    assert(c.compileJson(
      """{"AND": [{"etype": "part"}, {"name": "idge", "_contains": true}]}""")
      .count() > 0)
    assert(c.compile("""AND(etype="part", name="idge*")""").count() === 0L)
    // a plain whole-token term matches, and equals its _contains twin
    // on this fixture (clean single-word tokens)
    assert(c.compile("""AND(etype="part", name="widget")""").count() > 0)
    // stemmed "merges" reaches documents containing "merge" that the
    // plain contains leaf for "merges" cannot see
    val stemmed = c.compileJson(
      """{"AND": [{"etype": "document"}, {"name": "merges", "_stemmed": true}]}""")
      .collect().map(_.getString(0)).toSet
    val plain = c.compileJson(
      """{"AND": [{"etype": "document"}, {"name": "merges"}]}""")
      .collect().map(_.getString(0)).toSet
    val containsMerge = c.compile("""AND(etype="document", name="merge")""")
      .collect().map(_.getString(0)).toSet
    assert(stemmed.nonEmpty)
    assert(plain.isEmpty, "fixture has no literal 'merges' (else pick a new term)")
    assert(containsMerge.subsetOf(stemmed))
  }

  test("BOOST ranks: word-leaf boost lifts via BM25, other boosts flat") {
    val spark = TestSpark.spark
    val (e, t) = LuxQueries.substrate(spark, TestSpark.sf)
    val c = new graft.plans.LuxCompiler(e, t)
    val q = """BOOST(AND(etype="document", name="table"), name="merge")"""
    val ranked = c.compileRanked(q).collect()
    // membership identical to the un-ranked BOOST compile (first arg)
    val members = c.compile(q).collect().map(_.getString(0)).toSet
    assert(ranked.map(_.getString(0)).toSet === members)
    // best-first ordering, flat 1000 floor, and a genuine lift
    val scores = ranked.map(_.getLong(1))
    assert(scores.sameElements(scores.sortBy(-_)))
    assert(scores.forall(_ >= 1000L))
    assert(scores.exists(_ > 1000L), "no doc got boosted — fixture drift?")
    assert(scores.exists(_ == 1000L), "every doc boosted — term too common")
    // lifted docs are exactly the boost subquery's matches
    val boosted = c.compile("""AND(etype="document", name="merge")""")
      .collect().map(_.getString(0)).toSet
    assert(ranked.filter(_.getLong(1) > 1000L).map(_.getString(0)).toSet
      === boosted.intersect(members))
    // non-word boosting argument: flat +1000 membership lift
    val flat = c.compileRanked(
      """BOOST(etype="customer", locatedIn(name="NATION_3"))""").collect()
    assert(flat.map(_.getLong(1)).toSet === Set(1000L, 2000L))
    // JSON twin of the ranked surface compiles to the same result
    val jsonRanked = c.ranked(LuxQL.parseJson(
      """{"BOOST": [
        |  {"AND": [{"etype": "document"}, {"name": "table"}]},
        |  {"name": "merge"}]}""".stripMargin)).collect()
    assert(jsonRanked.map(r => (r.getString(0), r.getLong(1))).toSet ===
      ranked.map(r => (r.getString(0), r.getLong(1))).toSet)
  }

  test("wildcard/stemmed paths fold diacritics and punctuation (cts.py:2)") {
    import graft.plans.LuxCompiler
    val spark = TestSpark.spark
    import spark.implicits._
    // fold unit behavior: NFD accent strip; punctuation is a TOKEN
    // BREAK (folds to a space — the cts tokenizer splits words at
    // punctuation), whitespace kept
    assert(graft.functions.WordFold.fold("Naïve-Bayes") === "Naive Bayes")
    assert(graft.functions.WordFold.fold("café au lait!") === "cafe au lait ")
    assert(LuxCompiler.foldWildTerm("naïve*") === "naive*")
    // supplementary-plane letters survive the wildcard fold intact: a
    // per-char fold would drop both surrogate halves, silently turning
    // "𝕓*" into the match-everything glob "*"
    assert(LuxCompiler.foldWildTerm("𝕓*") === "𝕓*")
    // \pN number forms survive like the indexed fold; punctuation still
    // drops out of the glob rather than becoming an unmatchable space
    assert(LuxCompiler.foldWildTerm("²nd-best?") === "²ndbest?")
    // the fixture carries no accents/punct in word fields, so the fold
    // is exercised against literal entities here
    val e = Seq(
      ("x1", "part", "Naïve-Bayes primer", 0L),
      ("x2", "part", "naive bayes", 0L),
      ("x3", "part", "plain widget", 0L))
      .toDF("id", "etype", "name", "num")
    val t = Seq.empty[(String, String, String)]
      .toDF("subject", "predicate", "object")
    val c = new LuxCompiler(e, t)
    // "Naïve-Bayes" tokenizes at the hyphen to [naive, bayes] (the
    // reference's punctuation-sensitive tokenization); "naive*" matches
    // x1's first token and x2's exact "naive" token
    val wild = c.compile("""AND(etype="part", name="naive*")""")
      .collect().map(_.getString(0)).toSet
    assert(wild === Set("x1", "x2"))
    // stemmed equality is on the folded token: "bayes" stems to "bay",
    // matching the "bayes" token both x1 (split at the hyphen) and x2
    // carry
    val stemmed = c.compileJson(
      """{"AND": [{"etype": "part"}, {"name": "bayes", "_stemmed": true}]}""")
      .collect().map(_.getString(0)).toSet
    assert(stemmed === Set("x1", "x2"))
    // PLAIN terms fold too (tokenized default): "Naïve-Bayes" folds to
    // the PHRASE [naive, bayes], matching both the hyphenated x1 and
    // the spaced x2 — the reference behavior the round-12 fused fold
    // missed; bare "naive" now matches both as a single token
    val plainFused = c.compile("""AND(etype="part", name="Naïve-Bayes")""")
      .collect().map(_.getString(0)).toSet
    assert(plainFused === Set("x1", "x2"))
    val plainNaive = c.compile("""AND(etype="part", name="naive")""")
      .collect().map(_.getString(0)).toSet
    assert(plainNaive === Set("x1", "x2"))
  }

  test("multi-word plain terms are PHRASES over consecutive folded tokens") {
    import graft.plans.LuxCompiler
    val spark = TestSpark.spark
    import spark.implicits._
    val e = Seq(
      ("x1", "part", "merge scan runs nightly", 0L),
      ("x2", "part", "scan merge", 0L),          // words present, wrong order
      ("x3", "part", "merge the scan", 0L),      // words present, not adjacent
      ("x4", "part", "big Merge-Scan rig", 0L),  // hyphen = token break: matches
      ("x5", "part", "fast merge scans daily", 0L)) // 2nd word differs
      .toDF("id", "etype", "name", "num")
    val t = Seq.empty[(String, String, String)]
      .toDF("subject", "predicate", "object")
    val c = new LuxCompiler(e, t)
    // x4 matches too since round 13: "Merge-Scan" tokenizes at the
    // hyphen to the adjacent tokens [merge, scan], exactly like the
    // reference's punctuation-splitting tokenizer
    val phrase = c.compile("""AND(etype="part", name="merge scan")""")
      .collect().map(_.getString(0)).toSet
    assert(phrase === Set("x1", "x4"))
    // three-word phrase; and the stemmed phrase matches per-word stems
    // consecutively ("merge scans" stems to merg|scan like "merged scan")
    assert(c.compile("""AND(etype="part", name="merge the scan")""")
      .collect().map(_.getString(0)).toSet === Set("x3"))
    val stemmedPhrase = c.compileJson(
      """{"AND": [{"etype": "part"}, {"name": "merged scanning", "_stemmed": true}]}""")
      .collect().map(_.getString(0)).toSet
    assert(stemmedPhrase === Set("x1", "x4", "x5"))
    // multi-word terms contribute membership but not NEAR proximity,
    // and opt the BOOST scorer into the flat fallback
    assert(!LuxCompiler.isSingleWord("merge scan"))
    assert(!LuxCompiler.isSingleWord("Merge-Scan")) // hyphen splits: 2 tokens
  }

  test("string and JSON forms of the same query compile to equal results") {
    val spark = TestSpark.spark
    val sAst = LuxQL.parse(
      """ANDNOT(AND(etype="customer", locatedIn(name="NATION_3")), locatedIn(name="NATION_0"))""")
    val jAst = LuxQL.parseJson(
      """{"ANDNOT": [{"AND": [{"etype": "customer"},
        |                     {"locatedIn": {"name": "NATION_3"}}]},
        |            {"locatedIn": {"name": "NATION_0"}}]}""".stripMargin)
    assert(sAst === jAst) // identical ASTs => identical plans by construction
    val (e, t) = LuxQueries.substrate(spark, TestSpark.sf)
    val c = new graft.plans.LuxCompiler(e, t)
    val a = c.ids(sAst).collect().map(_.getString(0)).sorted
    val b = c.ids(jAst).collect().map(_.getString(0)).sorted
    assert(a.sameElements(b))
  }

  test("id leaf bypasses the catalog and completes the namespace prefix") {
    val spark = TestSpark.spark
    val (e, t) = LuxQueries.substrate(spark, TestSpark.sf)
    val c = new graft.plans.LuxCompiler(e, t)
    // "id" is not a catalog field, yet the leaf compiles (sem_iri path)
    assert(!graft.plans.LuxCatalog.default.fields("id"))
    val direct = c.compile("""id="p42"""").collect().map(_.getString(0))
    val prefixed = c.compile("""id="urn:graft:p42"""").collect().map(_.getString(0))
    assert(direct.sameElements(Array("p42")))
    assert(prefixed.sameElements(direct))
    // unknown ids return empty, not an error
    assert(c.compile("""id="zz999"""").count() === 0L)
  }

  test("NEAR over shared-field word leaves is positional; over hops it is AND") {
    val spark = TestSpark.spark
    val (e, t) = LuxQueries.substrate(spark, TestSpark.sf)
    val c = new graft.plans.LuxCompiler(e, t)
    // positional: a strict subset of AND — docs with both words but
    // farther apart than NearWindow drop out
    val near = c.compile("""NEAR(etype="document", name="merge", name="scan")""")
      .collect().map(_.getString(0)).toSet
    val and = c.compile("""AND(etype="document", name="merge", name="scan")""")
      .collect().map(_.getString(0)).toSet
    assert(near.subsetOf(and))
    assert(near.nonEmpty)
    assert(near != and, "window must actually filter on the fixture")
    // EQUALITY with the standalone q12 positional machinery: both are
    // exact whole-token matches now that the compiler's word leaves are
    // tokenized (q12 tokenizes raw lowercase, the compiler WordFold-
    // folds first — identical on this clean fixture, and the fold only
    // ever ADDS matches on punctuated text, e.g. a token "merge,").
    val q12 = MapperQueries.nearPos(spark, TestSpark.sf)
      .collect().map(r => "d" + r.getLong(0)).toSet
    assert(q12 === near)
    assert(q12.nonEmpty)
    // the AND fallback for NEAR whose kids are not word leaves on one
    // shared field (hops, exact/numeric leaves) — round-9 semantics
    val nearHops = c.compile(
      """NEAR(etype="customer", locatedIn(name="NATION_1"), ^placedBy(num>30000000))""")
      .collect().map(_.getString(0)).toSet
    val andHops = c.compile(
      """AND(etype="customer", locatedIn(name="NATION_1"), ^placedBy(num>30000000))""")
      .collect().map(_.getString(0)).toSet
    assert(nearHops === andHops)
    assert(nearHops.nonEmpty)
  }
}
