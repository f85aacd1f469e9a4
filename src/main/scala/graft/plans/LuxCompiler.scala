package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Compiles a LuxQL AST to DataFrame combinators over two substrate
  * tables — the Spark back end replacing the reference's cts compile
  * (`pipeline/storage/marklogic/cts.py:30-106`, leaf compile
  * `ml_lexer.py:177-195`):
  *
  *   entities(id, etype, name, num)   — per-entity attributes
  *   triples(subject, predicate, object) — relationship substrate
  *
  * Contract: `id` is a key of `entities` (no two rows share an id).
  * Every engine substrate keeps it (`LuxCompileSpec` checks them).
  *
  * Mapping: leaf string = TOKENIZED word match (case-, diacritic- and
  * punctuation-insensitive whole-token equality after WordFold — the
  * cts word-query default option list, cts.py:2; `_contains` escapes
  * to raw substring); leaf number = range compare; AND/OR =
  * intersect/union of id sets; NOT inside AND = andNot (except);
  * Rel = semi-join subject<-object; InvRel = reversed.
  *
  * Plan shape, as the reference composes a boolean query into one
  * predicate and a hop into a semi-join over its triple index:
  *  - The positive entity leaves of one AND become ONE scan,
  *    `entities.filter(p1 && p2 …)`; each NOT kid, leaf or not, stays an
  *    anti-join. The leaves of one OR become one scan of
  *    `p1 || p2 …`. Folding leaves into one row predicate is exact only
  *    because `id` is a key: a leaf's id set is then the ids of the
  *    rows it matches.
  *  - A hop is a `left_semi` of the filtered triples against its
  *    sub-result, then `distinct`. A semi-join's size estimate is its
  *    triple scan, not the product of both sides (an inner join's
  *    estimate without CBO), so the planner broadcasts hop results in
  *    the static plan and a one-partition substrate stays unshuffled.
  *
  * Over `LuxQueries.substrate` (entities hash-partitioned on `id`,
  * triples on `subject`, one shared count) a FORWARD hop (Rel) streams
  * triples in their subject layout, so its `distinct` needs no exchange
  * and its semi-join with an entity leaf is co-partitioned. An INVERSE
  * hop (InvRel) returns `object`, which the layout does not key, so at
  * two or more partitions its `distinct` still shuffles. The compiler
  * itself takes any two frames; the layout is the substrate's.
  */
/** Q4: the searchConfig-style field catalog — config as data (§1.3).
  * Declares queryable leaf fields and relationship predicates; the
  * compiler rejects anything outside it (the reference errors the same
  * way on unknown fields, `ml_lexer.py:259-321`). */
final case class LuxCatalog(fields: Set[String], predicates: Set[String],
    exactFields: Set[String] = Set("etype"))

object LuxCatalog {
  val default: LuxCatalog = LuxCatalog(
    fields = Set("etype", "name", "num"),
    predicates = Set("placedBy", "contains", "suppliedBy", "locatedIn"))

  /** Catalog over the M14 record substrate (MlIndexQueries): facet
    * booleans are numeric leaf fields; predicates are the shortcut /
    * reference triple names. */
  val records: LuxCatalog = LuxCatalog(
    fields = Set("etype", "is_online", "has_digital_image",
      "is_collection_item", "is_public_domain"),
    predicates = Set("lux:about_or_depicts", "lux:agentOfProduction",
      "lux:placeOfProduction", "lux:any", "lux:refCtr", "crm:P129_is_about",
      "la:member_of", "skos:broader"))
}

final class LuxCompiler(entities: DataFrame, triples: DataFrame,
    catalog: LuxCatalog = LuxCatalog.default) {
  import LuxQL._

  /** Result: DataFrame with a single `id` column (distinct). */
  def ids(q: Ast): DataFrame = q match {
    case l: Leaf => scan(predicate(l))
    case Rel(pred, _) if !catalog.predicates(pred) =>
      sys.error(s"unknown relationship '$pred'")
    case InvRel(pred, _) if !catalog.predicates(pred) =>
      sys.error(s"unknown relationship '^$pred'")

    // the leaves scan the entity table once, as one disjunction; a
    // single part is already a distinct id set
    case Bool("OR", kids) =>
      val (leaves, others) = splitLeaves(kids)
      val parts = (if (leaves.isEmpty) Nil
        else Seq(scan(leaves.map(predicate).reduce(_ || _)))) ++ others.map(ids)
      if (parts.size == 1) parts.head else parts.reduce(_ union _).distinct()

    // NEAR: membership is AND of the kids, and word leaves that share a
    // text field additionally require TOKEN PROXIMITY — every pair of
    // NEAR'd words must occur within NearWindow tokens of each other in
    // that field (q12's position-array machinery: HOF filters over the
    // token index, min pairwise |i-j|, no explode). A strict superset
    // of the reference, whose cts compile raises NotImplementedError
    // for NEAR (ml_lexer.py:214) while the parser accepts it
    // (query_token_rules.py:7); non-word kids (hops, numeric/exact
    // leaves) contribute membership only — proximity is undefined for
    // them, exactly as in cts where near-query composes word queries.
    case Bool("NEAR", kids) =>
      // only PLAIN SINGLE-word leaves join the positional machinery —
      // wildcarded/stemmed/_contains/multi-word(phrase) leaves
      // contribute membership (via the AND base, where wordPredicate
      // honors their semantics) but not proximity, the same
      // composition rule as non-word kids
      val wordLeaves = kids.collect {
        case Leaf(f, "=", s, _, false, false, false)
            if catalog.fields(f) && !catalog.exactFields(f) &&
              !LuxCompiler.isWildcard(s) &&
              LuxCompiler.isSingleWord(s) => (f, s)
      }
      val byField = wordLeaves.groupBy(_._1).filter(_._2.size >= 2)
      byField.foldLeft(ids(Bool("AND", kids))) { case (acc, (f, ws)) =>
        // the same WordFold token index as the plain word leaf, so NEAR
        // proximity and leaf membership agree token-for-token (the q12
        // positional machinery over the cts-folded tokens)
        val fieldFolded = graft.functions.WordFold.foldCol(lower(entities.col(f)))
        val t = graft.TextQueries.tokensCol(fieldFolded)
        // positions via transform-WITH-INDEX, never element_at probes
        // over sequence(1, n): filter pushdown re-inlines any tokenize
        // expression into each probe (it has no common-subexpression
        // guard), which turns the position scan O(tokens²)·O(split) —
        // measured 130 s over a 250k-doc stress corpus vs ~2 s for this
        // one-pass form. Each token is visited once; an empty/null field
        // simply yields no positions. Tokenized leaf semantics: a token
        // counts when it EQUALS the folded word (cts.py:2 word query).
        // foldedWords(w).head, NOT raw fold(w): the leaves are gated on
        // isSingleWord, and foldedWords is THE shared derivation — raw
        // fold keeps leading/trailing whitespace (reachable via quoted /
        // JSON terms), which would silently zero out proximity while the
        // leaf's own membership predicate still matched
        def pos(w: String) = filter(
          transform(t, (tok, i) =>
            when(tok === lit(LuxCompiler.foldedWords(w).head),
              i + 1).otherwise(-1)),
          x => x > 0)
        // cheap substring pre-gate first (token equality implies the
        // folded word appears in the folded field, so this never drops a
        // match): codegen And short-circuits per row, so the positional
        // arithmetic below only runs on rows that contain every NEAR'd
        // word — without this, predicate pushdown re-inlines the token
        // array into each element_at probe and the position scan goes
        // O(tokens²)·O(split) over the whole corpus (measured 140 s →
        // 2 s at the 2M-entity stress scale)
        val present = ws.map(w =>
          instr(fieldFolded, LuxCompiler.foldedWords(w._2).head) > 0)
          .reduce(_ && _)
        val prox = ws.map(_._2).combinations(2).map { case Seq(a, b) =>
          val (pa, pb) = (pos(a), pos(b))
          size(pa) > 0 && size(pb) > 0 &&
            array_min(flatten(transform(pa, x =>
              transform(pb, y => abs(x - y))))) <= LuxCompiler.NearWindow
        }.reduce(_ && _)
        acc.join(entities.filter(present && prox).select("id"), Seq("id"), "left_semi")
      }

    // BOOST(matching, boosting): membership is the first argument;
    // the second only lifts relevance (same deviation note as NEAR)
    case Bool("BOOST", Seq(main, _)) => ids(main)

    // ANDNOT (the JSON grammar's NOT spelling): positive minus negative
    case Bool("ANDNOT", Seq(pos, neg)) =>
      ids(pos).join(ids(neg), Seq("id"), "left_anti")

    case Bool("AND", kids) =>
      val (nots, pos) = kids.partition {
        case Bool("NOT", _) => true
        case _ => false
      }
      require(pos.nonEmpty, "AND requires at least one positive term")
      val (posLeaves, posOthers) = splitLeaves(pos)
      // the positive leaves scan the entity table once, as one
      // conjunction. Left-semi instead of intersect: sub-results are
      // already distinct id sets, and semi-join skips intersect's
      // per-side dedup shuffles
      val anded = ((if (posLeaves.isEmpty) Nil
        else Seq(scan(posLeaves.map(predicate).reduce(_ && _)))) ++
        posOthers.map(ids)).reduce((a, b) => a.join(b, Seq("id"), "left_semi"))
      // left_anti, not except: both sides are already-distinct id sets, so
      // except's per-side dedup shuffles are wasted work (same argument as
      // the left_semi AND above; AQE broadcasts small NOT sides)
      nots.foldLeft(anded) {
        case (acc, Bool("NOT", Seq(k))) =>
          acc.join(ids(k), Seq("id"), "left_anti")
        case (_, other) => // unreachable: nots partitioned on NOT above
          sys.error(s"NOT arm got $other")
      }

    case Bool("NOT", _) =>
      sys.error("NOT is only supported inside AND (andNot semantics)")

    // hops are semi-joins: their size estimate is the triple scan, not
    // the product of both sides, so the planner broadcasts hop results
    case Rel(pred, sub) =>
      triples.filter(col("predicate") === pred)
        .join(ids(sub).withColumnRenamed("id", "object"), Seq("object"), "left_semi")
        .select(col("subject").as("id")).distinct()

    case InvRel(pred, sub) =>
      triples.filter(col("predicate") === pred)
        .join(ids(sub).withColumnRenamed("id", "subject"), Seq("subject"), "left_semi")
        .select(col("object").as("id")).distinct()

    case other => sys.error(s"cannot compile $other")
  }

  /** The ids of the entities matching `p`: one scan of the table. */
  private def scan(p: Column): DataFrame = entities.filter(p).select("id")

  private def splitLeaves(kids: Seq[Ast]): (Seq[Leaf], Seq[Ast]) =
    (kids.collect { case l: Leaf => l }, kids.filterNot(_.isInstanceOf[Leaf]))

  /** A leaf's predicate over the entity table. */
  private def predicate(l: Leaf): Column = l match {
    // the identity leaf (ml_lexer.py:177-182): field "id" bypasses the
    // catalog (every class has it) and completes a bare identifier to
    // the data-namespace IRI before the exact lookup — our namespace
    // twin is the urn:graft: prefix the N-Triples export uses
    case Leaf("id", "=", str, _, false, _, _) =>
      entities.col("id") === str.stripPrefix("urn:graft:")
    case Leaf(field, _, _, _, _, _, _) if !catalog.fields(field) =>
      sys.error(s"unknown field '$field' (catalog: ${catalog.fields.toSeq.sorted.mkString(",")})")
    case Leaf(field, op, str, num, isNum, stemmed, contains) =>
      // any catalog field is a column of the entity substrate (facet
      // booleans are numeric)
      val col = entities.col(field)
      (op, isNum) match {
        case ("=", false) if catalog.exactFields(field) => col === str
        case ("=", false) =>
          LuxCompiler.wordPredicate(col, str, stemmed, contains)
        case ("=", true) => col === num
        case ("<", true) => col < num
        case (">", true) => col > num
        case ("<=", true) => col <= num
        case (">=", true) => col >= num
        case other => sys.error(s"unsupported comparator: $other")
      }
  }

  def compile(query: String): DataFrame = ids(LuxQL.parse(query))

  /** JSON query form → same plan as its string twin. */
  def compileJson(query: String): DataFrame = ids(LuxQL.parseJson(query))

  /** The RELEVANCE surface: (id, score_milli), ordered best-first.
    *
    * BOOST(main, boosting) per cts boostQuery (cts.py:58-61):
    * membership is `main`'s id set, unchanged; `boosting` only lifts
    * relevance. Every member scores a flat 1000 baseline. When the
    * boosting argument is built entirely of plain word leaves (alone or
    * under AND/OR), each term adds the integer BM25 score (k1=1.2,
    * b=0.75 in milli units, rational idf — the exact q10_bm25 formula)
    * computed over the MEMBER set: corpus stats (N, avgdl, per-term df)
    * are one tiny aggregate broadcast back, so scoring is scan + map —
    * no wide shuffle, the q10 scale shape. Any other boosting argument
    * (hops, ranges, wildcards) falls back to a flat +1000 membership
    * lift, documented. Non-BOOST queries rank every member equal. */
  def ranked(q: Ast): DataFrame = q match {
    case Bool("BOOST", Seq(main, boost)) =>
      val cand = ids(main)
      val terms = boostTerms(boost)
      if (terms.nonEmpty) {
        val withName = cand
          .join(entities.select(col("id"), col("name")), Seq("id"), "left")
        val toks = graft.TextQueries.tokensCol(
          graft.functions.WordFold.foldCol(lower(coalesce(col("name"), lit("")))))
        val tfCols = terms.indices.map(i =>
          size(filter(toks, x => x === lit(terms(i)))).cast("long").as(s"tf_$i"))
        val m = withName.select(
          col("id") +: size(toks).cast("long").as("dl") +: tfCols: _*)
        val statCols =
          graft.TextQueries.intDiv(sum(col("dl")) * 1000L, count(lit(1)))
            .as("avgdl_milli") +:
            terms.indices.map(i =>
              sum(when(col(s"tf_$i") > 0L, 1L).otherwise(0L)).as(s"df_$i"))
        val stats = m.agg(count(lit(1)).as("n_docs"), statCols: _*)
        val k1 = 1200L
        val b = 750L
        val lift = terms.indices.map { i =>
          val tf = col(s"tf_$i"); val df = col(s"df_$i")
          val idf = graft.TextQueries.intDiv(
            (col("n_docs") - df + 1L) * 1000L, df + 1L)
          // greatest(avgdl,1): a member set of all-empty name fields
          // must not divide by zero
          val lenNorm = lit(1000L) - b + graft.TextQueries.intDiv(
            lit(b) * col("dl") * 1000L, greatest(col("avgdl_milli"), lit(1L)))
          val denom =
            tf * 1000L + graft.TextQueries.intDiv(lit(k1) * lenNorm, lit(1000L))
          when(tf > 0L,
            graft.TextQueries.intDiv(idf * tf * (1000L + k1), denom))
            .otherwise(lit(0L))
        }.reduce(_ + _)
        m.crossJoin(broadcast(stats))
          .select(col("id"), (lit(1000L) + lift).as("score_milli"))
          .orderBy(col("score_milli").desc, col("id"))
      } else {
        val lifted = ids(boost).withColumn("lift", lit(1000L))
        cand.join(lifted, Seq("id"), "left")
          .select(col("id"),
            (lit(1000L) + coalesce(col("lift"), lit(0L))).as("score_milli"))
          .orderBy(col("score_milli").desc, col("id"))
      }
    case other => ids(other).withColumn("score_milli", lit(1000L))
  }

  def compileRanked(query: String): DataFrame = ranked(LuxQL.parse(query))

  /** The scoring-term bag of a boosting argument: non-empty only when
    * the whole subtree is plain word leaves (alone or under AND/OR) —
    * anything else opts the BOOST into the flat membership lift. */
  private def boostTerms(q: Ast): Seq[String] = q match {
    // f == "name" EXPLICITLY: the ranked() scorer computes tf/df/dl
    // over the entities.name token index, so only name-field terms may
    // reach the BM25 path — a second word field added to the catalog
    // must take the flat-boost fallback, not be scored against the
    // wrong column
    case Leaf(f, "=", s, _, false, false, false)
        if f == "name" && catalog.fields(f) && !catalog.exactFields(f) &&
          !LuxCompiler.isWildcard(s) && LuxCompiler.isSingleWord(s) =>
      // the scorer counts tf over the FOLDED token index, so the term
      // takes the same foldedWords derivation the predicate uses (the
      // isSingleWord guard above makes .head total); multi-word terms
      // opt into the flat-boost fallback — per-token tf of a phrase is
      // undefined in the q10 scorer
      Seq(LuxCompiler.foldedWords(s).head)
    case Bool(op, kids) if op == "AND" || op == "OR" =>
      val sub = kids.map(boostTerms)
      if (sub.forall(_.nonEmpty)) sub.flatten.distinct else Seq.empty
    case _ => Seq.empty
  }
}

object LuxCompiler {
  /** NEAR token window (cts near-query default distance analog; the
    * same window q12's standalone positional NEAR uses). */
  val NearWindow = 3

  /** True if the term uses the cts `wildcarded` option — detected from
    * the term itself (`*`/`?` present), matching MarkLogic's automatic
    * wildcard detection rather than an explicit option flag. */
  def isWildcard(term: String): Boolean =
    term.exists(c => c == '*' || c == '?')

  /** THE words-of-a-term derivation (lowercase → WordFold → whitespace
    * split): the single definition wordPredicate's plain and stemmed
    * branches and [[isSingleWord]] all share, so the single/multi-word
    * routing (NEAR positional membership, BM25 boost eligibility) can
    * never drift from the predicate's own tokenization. */
  def foldedWords(term: String): Seq[String] =
    graft.functions.WordFold.fold(term.toLowerCase(java.util.Locale.ROOT))
      .split("\\s+").filter(_.nonEmpty).toSeq

  /** True when the FOLDED term is exactly one token — the contract for
    * the NEAR positional machinery and the BM25 boost scorer (both
    * reason about single tokens; multi-word terms compose as phrases
    * through wordPredicate instead). */
  def isSingleWord(term: String): Boolean = foldedWords(term).size == 1

  /** Glob → anchored regex: `*` = any run, `?` = one char, everything
    * else literal (regex metachars escaped). The same pattern string is
    * valid for Spark RLIKE (Java regex) and DuckDB regexp_full_match
    * (RE2) — the subset used here is common to both. */
  def globToRegex(term: String): String =
    term.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\^$.|+()[]{}".contains(c) => "\\" + c
      case c => c.toString
    }

  /** Fold a wildcarded term's literal chars through WordFold while
    * keeping the wildcard metachars themselves. Whitespace produced by
    * the fold (punctuation is a token break since round 13, and literal
    * spaces were always possible) is DROPPED rather than kept: the glob
    * matches single whole tokens, which never contain whitespace, so a
    * space in the pattern could only ever match nothing — dropping it
    * keeps e.g. "nation_*" useful (glob "nation*" over the split
    * tokens). Multi-token wildcard phrases are not supported. */
  def foldWildTerm(w: String): String = {
    // iterate CODE POINTS: a per-char flatMap would fold each half of a
    // supplementary letter's surrogate pair separately (neither half is
    // a letter, both vanish), silently turning "𝕓*" into the
    // match-everything glob "*" while the indexed fold keeps 𝕓 in
    // tokens — the survivor-class contract lux_q14_fold_diff pins
    val b = new java.lang.StringBuilder(w.length)
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      if (cp == '*' || cp == '?') b.appendCodePoint(cp)
      else b.append(graft.functions.WordFold.fold(
        new String(Character.toChars(cp))).filterNot(_.isWhitespace))
      i += Character.charCount(cp)
    }
    b.toString
  }

  /** Word-leaf predicate over a text field — the cts word-query default
    * option list (cts.py:2: case-insensitive, diacritic-insensitive,
    * punctuation-insensitive, TOKENIZED): every path lowercases and
    * runs the WordFold normalization over tokens AND term, so
    * "Naïve-Bayes" meets "naive bayes" at the same folded tokens.
    * Plain single-word terms match whole folded tokens by equality; a
    * plain MULTI-word term is a PHRASE — consecutive folded tokens
    * (how cts treats multi-word text; without this a quoted
    * "merge scan" would silently match nothing, since no whitespace
    * survives tokenization). Wildcarded terms match whole tokens
    * against the anchored glob; stemmed terms match the classic Porter
    * stem per word (consecutively when multi-word; the light
    * three-stage fold below stays as the documented fallback).
    * `contains = true` (the JSON `_contains` param — an engine
    * extension) escapes back to raw substring match of the lowercased
    * field. Position arrays are transform-with-index passes over the
    * folded token column — never element_at probes (the HOF-CSE
    * pitfall NEAR documents). */
  def wordPredicate(field: Column, term: String, stemmed: Boolean,
      contains: Boolean = false): Column = {
    val w = term.toLowerCase(java.util.Locale.ROOT)
    def folded = graft.TextQueries.tokensCol(
      graft.functions.WordFold.foldCol(lower(field)))
    if (contains) instr(lower(field), w) > 0
    else if (isWildcard(w))
      exists(folded, t => t.rlike("^" + globToRegex(foldWildTerm(w)) + "$"))
    else if (stemmed) {
      val stems = foldedWords(w).map(graft.functions.Porter.stem)
      stems match {
        case Seq() => lit(false)
        case Seq(one) =>
          exists(folded, t => call_function("porter_stem", t) === lit(one))
        case many => stemPhrase(folded, many)
      }
    } else {
      val terms = foldedWords(w)
      terms match {
        case Seq() => lit(false)
        case Seq(one) => array_contains(folded, one)
        case many =>
          // plain PHRASE = the folded words as consecutive tokens. On
          // the folded field (whitespace survives WordFold) that is one
          // token-anchored regex — a single codegen pass per row, no
          // HOF at all (folded terms are letters/digits only, so they
          // are regex-literal safe)
          graft.functions.WordFold.foldCol(lower(field))
            .rlike("(^|\\s)" + many.mkString("\\s+") + "(\\s|$)")
      }
    }
  }

  /** Stemmed PHRASE: `stems` occur as consecutive tokens' Porter stems.
    * 1-based positions of stems(0) are progressively filtered by
    * membership of position+j in stems(j)'s position array — the q13
    * phrase machinery, no explode, no element_at probes. (The inner
    * pos arrays are re-derived per surviving position of stems(0) —
    * HOFs have no CSE — which is fine for the handful of occurrences a
    * first stem has per document; the PLAIN phrase path above avoids
    * HOFs entirely.) */
  private def stemPhrase(tokens: Column, stems: Seq[String]): Column = {
    def pos(stem: String) = filter(
      transform(tokens, (tok, i) =>
        when(call_function("porter_stem", tok) === lit(stem), i + 1)
          .otherwise(-1)),
      x => x > 0)
    val phrase = stems.indices.drop(1).foldLeft(pos(stems.head)) {
      (acc, j) => filter(acc, i => array_contains(pos(stems(j)), i + j))
    }
    size(phrase) > 0
  }
}
