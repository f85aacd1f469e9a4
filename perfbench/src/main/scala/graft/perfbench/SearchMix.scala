package graft.perfbench

import graft.TextQueries
import graft.functions.WordFold
import graft.plans.LuxCompiler

/** The `search` workload's query stream: LuxQL templates modeled on the
  * registered `lux_q*` shapes, each paired with a DuckDB SQL twin that
  * re-derives the compiled semantics independently of the engine (the
  * same EXISTS / folded-token formulation the registered oracles use,
  * with the NEAR window of 3 tokens and the glob translation written out
  * rather than taken from the compiler). The seed picks every template
  * parameter. */
object SearchMix {

  /** `form`: "ql" (ids), "ranked" (BOOST relevance) or "json" (ids). */
  final case class Query(template: String, form: String, text: String, sql: String)

  private val nouns = Vector("widget", "bolt", "gear", "ring", "rod", "plate",
    "gizmo", "anvil")
  private val docWords = Vector("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "join", "filter", "group", "hash",
    "sort", "order", "scan", "batch", "query", "key", "row")
  private val globs = Vector("w?dg*", "g*r", "*od", "b?lt", "pl*", "an?il",
    "gi*o", "r?ng")

  /** Folded-token hit of `term` in the text column `expr`: one word is
    * token equality, several words are consecutive tokens (the phrase
    * semantics of the compiler's plain word leaf). */
  def tokenHit(expr: String, term: String): String = {
    val t = TextQueries.tokensSql(WordFold.foldSql(s"lower($expr)"))
    LuxCompiler.foldedWords(term) match {
      case Seq() => "FALSE"
      case Seq(one) => s"len(list_filter($t, t -> t = '$one')) > 0"
      case many =>
        val conds = many.zipWithIndex.map { case (w, j) => s"($t)[i+$j] = '$w'" }
          .mkString(" AND ")
        s"len([i for i in range(1, len($t) + ${2 - many.size}) if $conds]) > 0"
    }
  }

  private def hopRange(r: scala.util.Random): (String, String, String) = {
    val n = r.nextInt(25); val thr = 10000000L + r.nextInt(35) * 1000000L
    ("ql", s"""AND(etype="customer", locatedIn(name="NATION_$n"), ^placedBy(AND(etype="order", num>$thr)))""",
      s"""SELECT 'c' || c_custkey AS id FROM customer
         |WHERE EXISTS (SELECT 1 FROM nation
         |  WHERE n_nationkey = c_nationkey AND ${tokenHit("n_name", s"NATION_$n")})
         |  AND EXISTS (SELECT 1 FROM orders
         |    WHERE o_custkey = c_custkey AND CAST(ROUND(o_totalprice*100) AS BIGINT) > $thr)""".stripMargin)
  }

  private def orWord(r: scala.util.Random): (String, String, String) = {
    val w = nouns(r.nextInt(nouns.size)); val size = 1 + r.nextInt(49); val n = r.nextInt(25)
    ("ql", s"""OR(AND(etype="part", name="$w", num>$size), AND(etype="part", suppliedBy(locatedIn(name="NATION_$n"))))""",
      s"""SELECT 'p' || p_partkey AS id FROM part
         |WHERE (${tokenHit("p_name", w)} AND p_size > $size)
         |   OR EXISTS (SELECT 1 FROM lineitem, supplier, nation
         |        WHERE l_partkey = p_partkey AND s_suppkey = l_suppkey
         |          AND n_nationkey = s_nationkey
         |          AND ${tokenHit("n_name", s"NATION_$n")})""".stripMargin)
  }

  private def andNot(r: scala.util.Random): (String, String, String) = {
    val n = r.nextInt(25)
    ("ql", s"""AND(etype="customer", ^placedBy(etype="order"), NOT(locatedIn(name="NATION_$n")))""",
      s"""SELECT 'c' || c_custkey AS id FROM customer
         |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         |  AND NOT EXISTS (SELECT 1 FROM nation
         |    WHERE n_nationkey = c_nationkey AND ${tokenHit("n_name", s"NATION_$n")})""".stripMargin)
  }

  private def idLookup(r: scala.util.Random): (String, String, String) = {
    val p = r.nextInt(1000); val s = r.nextInt(100); val c = r.nextInt(1000)
    ("ql", s"""OR(id="p$p", id="urn:graft:s$s", placedBy(id="c$c"))""",
      s"""SELECT 'p$p' AS id FROM part WHERE p_partkey = $p
         |UNION SELECT 's$s' FROM supplier WHERE s_suppkey = $s
         |UNION SELECT 'o' || o_orderkey FROM orders WHERE o_custkey = $c""".stripMargin)
  }

  private def wildcard(r: scala.util.Random): (String, String, String) = {
    val g = globs(r.nextInt(globs.size))
    val t = TextQueries.tokensSql(WordFold.foldSql("lower(p_name)"))
    // the globs are lowercase letters and wildcards only
    val re = g.replace("*", ".*").replace("?", ".")
    ("ql", s"""AND(etype="part", name="$g")""",
      s"""SELECT 'p' || p_partkey AS id FROM part
         |WHERE len(list_filter($t, t -> regexp_full_match(t, '$re'))) > 0""".stripMargin)
  }

  private def near(r: scala.util.Random): (String, String, String) = {
    val a = docWords(r.nextInt(docWords.size))
    val b = docWords((docWords.indexOf(a) + 1 + r.nextInt(docWords.size - 1)) % docWords.size)
    val t = TextQueries.tokensSql(WordFold.foldSql("lower(text)"))
    ("ql", s"""BOOST(NEAR(etype="document", name="$a", name="$b"), name="document")""",
      s"""WITH toks AS (SELECT 'd' || doc_id AS id, $t AS t FROM documents),
         |pos AS (
         |  SELECT id,
         |    [i for i in range(1, len(t)+1) if t[i] = '$a'] AS pa,
         |    [i for i in range(1, len(t)+1) if t[i] = '$b'] AS pb
         |  FROM toks)
         |SELECT id FROM pos
         |WHERE len(pa) > 0 AND len(pb) > 0
         |  AND list_min(flatten([[abs(i-j) for j in pb] for i in pa])) <= 3""".stripMargin)
  }

  private def boost(r: scala.util.Random): (String, String, String) = {
    val a = docWords(r.nextInt(docWords.size)); val b = docWords(r.nextInt(docWords.size))
    val t = TextQueries.tokensSql(WordFold.foldSql("lower(text)"))
    ("ranked", s"""BOOST(AND(etype="document", name="$a"), name="$b")""",
      s"""WITH cand AS (
         |  SELECT 'd' || doc_id AS id, $t AS t FROM documents
         |  WHERE list_contains($t, '$a')),
         |m AS (
         |  SELECT id, CAST(len(t) AS BIGINT) AS dl,
         |    CAST(len(list_filter(t, x -> x = '$b')) AS BIGINT) AS tf
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
         |FROM m, stats""".stripMargin)
  }

  private def json(r: scala.util.Random): (String, String, String) = {
    val n = r.nextInt(25); val veto = (n + 1 + r.nextInt(24)) % 25
    val thr = 10000000L + r.nextInt(35) * 1000000L
    ("json",
      s"""{"ANDNOT": [{"AND": [{"etype": "customer"}, {"locatedIn": {"name": "NATION_$n"}},
         |  {"^placedBy": {"AND": [{"etype": "order"}, {"num": $thr, "_comp": ">"}]}}]},
         |  {"locatedIn": {"name": "NATION_$veto"}}]}""".stripMargin,
      s"""SELECT 'c' || c_custkey AS id FROM customer
         |WHERE EXISTS (SELECT 1 FROM nation
         |  WHERE n_nationkey = c_nationkey AND ${tokenHit("n_name", s"NATION_$n")})
         |  AND EXISTS (SELECT 1 FROM orders
         |    WHERE o_custkey = c_custkey AND CAST(ROUND(o_totalprice*100) AS BIGINT) > $thr)
         |  AND NOT EXISTS (SELECT 1 FROM nation
         |    WHERE n_nationkey = c_nationkey AND ${tokenHit("n_name", s"NATION_$veto")})""".stripMargin)
  }

  val templates: Seq[(String, scala.util.Random => (String, String, String))] = Seq(
    "hop_range" -> hopRange, "or_word" -> orWord, "andnot" -> andNot,
    "id_lookup" -> idLookup, "wildcard" -> wildcard, "near" -> near,
    "boost" -> boost, "json" -> json)

  /** One query per template, parameters drawn from `seed`. */
  def draw(seed: Long): Seq[Query] = {
    val r = new scala.util.Random(seed)
    templates.map { case (name, make) =>
      val (form, text, sql) = make(r)
      Query(name, form, text, sql)
    }
  }
}
