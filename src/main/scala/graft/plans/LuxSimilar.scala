package graft.plans

/** Q9: SimilarQuery (more-like-this) synthesis — the full agent-record
  * rewrite from the reference (`pipeline/storage/marklogic/ml_lexer.py:43-135`),
  * re-expressed as AST synthesis. The reference fetches the seed record
  * (a point lookup), builds a query STRING from its classifications,
  * description keywords, member_of sets and born/died years, and hands
  * it to the ordinary parser; we do exactly that — `queryString` output
  * goes through `LuxQL.parse` and `LuxCompiler`, so similar-search is a
  * rewrite rule in front of the engine, not an engine feature.
  *
  * Shape of the synthesized query (`ml_lexer.py:131-133`):
  *   AND(OR(classification(id=..)*, text=".."*, memberOf(id=..)*),
  *       AND(bornTime>b-d, bornTime<b+d),
  *       AND(diedTime>e-d2, diedTime<e+d2))
  */
object LuxSimilar {
  import LuxQL._

  /** The seed record's similarity-relevant attributes (the reference
    * pulls these from the record JSON, `ml_lexer.py:44-130`). Years are
    * the already-parsed begin_of_the_begin prefix. */
  final case class Seed(
      classifications: Seq[String] = Nil,
      texts: Seq[String] = Nil,
      born: Option[Int] = None,
      died: Option[Int] = None,
      memberOf: Seq[String] = Nil)

  /** Era-window half-width (`ml_lexer.py:100-106,119-125`): recent
    * lives get tighter windows — >1900 → ±10, >1700 → ±20, else ±35. */
  def eraDiff(year: Int): Int =
    if (year > 1900) 10 else if (year > 1700) 20 else 35

  /** Keyword election (`ml_lexer.py:66-88`): statements are
    * dash/dot/comma-flattened, lowercased, whitespace-split; tokens
    * survive when longer than 3 chars and all-alphabetic; 'born' and
    * 'died' are dropped; ranked by count descending. The reference only
    * emits keyword terms when MORE than 5 distinct words survive — the
    * emit loop sits inside the truncation branch (`ml_lexer.py:84-88`) —
    * ported faithfully. Deviation (documented): count ties rank
    * word-ascending; Python's stable sort keeps dict insertion order,
    * which no distributed replay can reproduce. */
  def topKeywords(texts: Seq[String]): Seq[String] = {
    val wds = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    for (txt <- texts) {
      val flat = txt.replace('-', ' ').replace('.', ' ').replace(',', ' ')
      for (t <- flat.toLowerCase(java.util.Locale.ROOT).split("\\s+"))
        if (t.length > 3 && t.forall(_.isLetter))
          wds.update(t, wds.getOrElse(t, 0) + 1)
    }
    wds.remove("born"); wds.remove("died")
    val ranked = wds.toSeq.sortBy { case (w, c) => (-c, w) }
    if (ranked.length > 5) ranked.take(5).map(_._1) else Seq.empty
  }

  private def eraTerm(field: String, year: Int): String = {
    val d = eraDiff(year)
    s"AND($field>${year - d},$field<${year + d})"
  }

  /** The synthesized query string (`make_agent_query`,
    * `ml_lexer.py:43-133`). Differences forced by our stricter grammar
    * (booleans take >= 2 children; the reference's PLY grammar accepts
    * one): a singleton OR/AND collapses to its only child. Returns None
    * when nothing at all is synthesizable (the reference would emit the
    * unparseable `AND(OR(),)`). */
  def agentQueryString(seed: Seed): Option[String] = {
    val orq =
      seed.classifications.map(c => s"""classification(id="$c")""") ++
      topKeywords(seed.texts).map(w => s"""text="$w"""") ++
      seed.memberOf.map(m => s"""memberOf(id="$m")""")
    val andq =
      seed.born.map(eraTerm("bornTime", _)).toSeq ++
      seed.died.map(eraTerm("diedTime", _)).toSeq
    val orqs = orq match {
      case Seq() => None
      case Seq(one) => Some(one)
      case many => Some(s"OR(${many.mkString(",")})")
    }
    (orqs.toSeq ++ andq) match {
      case Seq() => None
      case Seq(one) => Some(one)
      case terms => Some(s"AND(${terms.mkString(",")})")
    }
  }

  /** Catalog for the document substrate the similar query runs over:
    * docs carry text + born/died years; concepts (lang) and sets
    * (source) are hop targets addressed by exact id. */
  val catalog: LuxCatalog = LuxCatalog(
    fields = Set("etype", "name", "text", "bornTime", "diedTime", "id"),
    predicates = Set("classification", "memberOf"),
    exactFields = Set("etype", "id"))
}
