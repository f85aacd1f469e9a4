package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The classic Porter stemming algorithm (M.F. Porter, "An algorithm
  * for suffix stripping", Program 14(3), 1980) — the production-grade
  * `stemmed` word-query option the reference's cts layer gets from its
  * search engine (`pipeline/storage/marklogic/cts.py:2`), replacing
  * round 11's three-stage light stem; it is the only stemmer a word
  * leaf uses.
  *
  * Semantics follow the published algorithm with the reference C
  * implementation's conventions: words of length <= 2 are returned
  * unchanged, and within a step the LONGEST matching suffix is elected
  * before its m-condition is tested — a failed condition ends the step
  * (no fallback to shorter suffixes).
  *
  * Both derivations come from ONE rule table: [[stem]] interprets it on
  * the JVM (registered as the codegen SQL function `porter_stem`), and
  * [[sqlCtes]] emits a DuckDB CTE chain interpreting the same table, so
  * the oracle re-derives every step independently of the engine's
  * execution. The consonant/vowel pattern (`y` is a vowel exactly when
  * the preceding letter classified consonant) is computed once per
  * stage and SLICED for suffix-stripped stems — valid because a char's
  * class depends only on what precedes it. */
object Porter {

  /** Step 2 suffix → replacement, longest first (longest-match). */
  val step2: Seq[(String, String)] = Seq(
    "ational" -> "ate", "ization" -> "ize", "iveness" -> "ive",
    "fulness" -> "ful", "ousness" -> "ous",
    "tional" -> "tion", "biliti" -> "ble",
    "entli" -> "ent", "ousli" -> "ous", "ation" -> "ate",
    "alism" -> "al", "aliti" -> "al", "iviti" -> "ive",
    "enci" -> "ence", "anci" -> "ance", "izer" -> "ize",
    "abli" -> "able", "alli" -> "al", "ator" -> "ate",
    "eli" -> "e")

  /** Step 3 suffix → replacement, longest first. */
  val step3: Seq[(String, String)] = Seq(
    "icate" -> "ic", "ative" -> "", "alize" -> "al",
    "iciti" -> "ic", "ical" -> "ic", "ful" -> "", "ness" -> "")

  /** Step 4 suffixes (deleted when m(stem) > 1; `ion` additionally
    * requires the stem to end s/t), longest first. */
  val step4: Seq[String] = Seq(
    "ement",
    "ance", "ence", "able", "ible", "ment",
    "ant", "ent", "ism", "ate", "iti", "ous", "ive", "ize", "ion",
    "al", "er", "ic", "ou")

  // ------------------------------------------------------ JVM side

  /** c/v classification string of `w` (lowercase letters assumed).
    * Iterates CODE POINTS, not UTF-16 chars — the oracle's cvSql
    * iterates DuckDB characters (code points), so a supplementary-plane
    * letter (which WordFold deliberately preserves in tokens) must
    * contribute ONE consonant here too, or measure m diverges and the
    * lux_q11_porter_diff differential (which crosses every corpus
    * token) fails on any non-BMP token. */
  private def cv(w: String): String = {
    val b = new java.lang.StringBuilder(w.length)
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      val vowel =
        if (cp == 'a' || cp == 'e' || cp == 'i' || cp == 'o' || cp == 'u') true
        else if (cp == 'y') b.length > 0 && b.charAt(b.length - 1) == 'c'
        else false
      b.append(if (vowel) 'v' else 'c')
      i += Character.charCount(cp)
    }
    b.toString
  }

  /** Porter's measure: the VC-sequence count = v→c transitions. */
  private def m(pat: String): Int = {
    var n = 0
    var i = 1
    while (i < pat.length) {
      if (pat.charAt(i - 1) == 'v' && pat.charAt(i) == 'c') n += 1
      i += 1
    }
    n
  }

  private def hasVowel(pat: String): Boolean = pat.indexOf('v') >= 0
  // last-two-letters equality compares CODE POINTS (the oracle's
  // right(w,1)/substr compare characters): charAt on a word ending in
  // identical supplementary letters would compare surrogate halves
  private def endsDoubleC(w: String, pat: String): Boolean =
    pat.endsWith("cc") && w.codePointCount(0, w.length) >= 2 && {
      val last = w.offsetByCodePoints(w.length, -1)
      val prev = w.offsetByCodePoints(w.length, -2)
      w.codePointAt(prev) == w.codePointAt(last)
    }
  private def endsCvc(w: String, pat: String): Boolean =
    w.length >= 3 && pat.endsWith("cvc") && {
      val c = w.charAt(w.length - 1); c != 'w' && c != 'x' && c != 'y'
    }

  /** Classic Porter stem of a lowercase word. Total: non-letter input
    * just flows through the per-char classifier (digits are
    * consonants), so any WordFold token is safe. */
  def stem(word: String): String = {
    // code-point count, like the oracle's len(t) <= 2 guard: "𝐚s" is
    // two characters to DuckDB and must be two characters here
    if (word == null || word.codePointCount(0, word.length) <= 2) return word
    var w = word
    def pat = cv(w) // recomputed per use; words are short

    // step 1a: plurals
    if (w.endsWith("sses")) w = w.dropRight(2)
    else if (w.endsWith("ies")) w = w.dropRight(2)
    else if (!w.endsWith("ss") && w.endsWith("s")) w = w.dropRight(1)

    // step 1b: ed/ing (eed tests m on the stripped stem; ed/ing fire
    // the cleanup rules)
    var fired = false
    if (w.endsWith("eed")) {
      if (m(cv(w.dropRight(3))) > 0) w = w.dropRight(1)
    } else if (w.endsWith("ed") && hasVowel(cv(w.dropRight(2)))) {
      w = w.dropRight(2); fired = true
    } else if (w.endsWith("ing") && hasVowel(cv(w.dropRight(3)))) {
      w = w.dropRight(3); fired = true
    }
    if (fired) {
      if (w.endsWith("at") || w.endsWith("bl") || w.endsWith("iz")) w += "e"
      else if (endsDoubleC(w, pat) && !"lsz".contains(w.charAt(w.length - 1)))
        // drop one CODE POINT, not one char: endsDoubleC now fires on
        // identical supplementary double letters, and dropRight(1)
        // would split the surrogate pair while the oracle's
        // substr(w, 1, len-1) drops the whole character
        w = w.substring(0, w.offsetByCodePoints(w.length, -1))
      else if (m(pat) == 1 && endsCvc(w, pat)) w += "e"
    }

    // step 1c: y -> i after a vowel-bearing stem
    if (w.endsWith("y") && hasVowel(cv(w.dropRight(1))))
      w = w.dropRight(1) + "i"

    // step 2 (m(stem) > 0), longest match, no fallback on failure
    step2.find(p => w.endsWith(p._1)).foreach { case (suf, rep) =>
      val s = w.dropRight(suf.length)
      if (m(cv(s)) > 0) w = s + rep
    }

    // step 3 (m(stem) > 0)
    step3.find(p => w.endsWith(p._1)).foreach { case (suf, rep) =>
      val s = w.dropRight(suf.length)
      if (m(cv(s)) > 0) w = s + rep
    }

    // step 4 (m(stem) > 1; ion additionally needs *S or *T)
    step4.find(w.endsWith).foreach { suf =>
      val s = w.dropRight(suf.length)
      if (m(cv(s)) > 1 &&
          (suf != "ion" || s.endsWith("s") || s.endsWith("t"))) w = s
    }

    // step 5a: final e
    if (w.endsWith("e")) {
      val s = w.dropRight(1)
      val sp = cv(s)
      val mm = m(sp)
      if (mm > 1 || (mm == 1 && !endsCvc(s, sp))) w = s
    }

    // step 5b: -ll with m > 1
    if (w.endsWith("l") && m(pat) > 1 && endsDoubleC(w, pat))
      w = w.dropRight(1)

    w
  }

  /** Register as SQL function `porter_stem` on a session (idempotent). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "porter_stem", args => PorterStemExpr(args.head), "built-in")

  // --------------------------------------------------- oracle side

  /** DuckDB expression: the c/v pattern of string expression `e` — the
    * same left-to-right classifier as [[cv]] (y is a vowel exactly when
    * the accumulated pattern ends in a consonant). */
  private def cvSql(e: String): String =
    s"""list_reduce(list_prepend('', [$e[i] for i in range(1, len($e)+1)]),
       |  (acc, ch) -> acc || CASE
       |    WHEN ch IN ('a','e','i','o','u') THEN 'v'
       |    WHEN ch = 'y' AND acc <> '' AND right(acc, 1) = 'c' THEN 'v'
       |    ELSE 'c' END)""".stripMargin

  /** m of a pattern-expression slice: v→c transitions = non-overlapping
    * 'vc' matches. */
  private def mOf(patSlice: String): String =
    s"len(regexp_extract_all($patSlice, 'vc'))"
  /** Pattern of w with the last `k` chars stripped — a pure SLICE of
    * the precomputed pattern (classes depend only on preceding chars). */
  private def patDrop(k: Int): String =
    if (k == 0) "pat" else s"substr(pat, 1, len(w) - $k)"
  private def mDrop(k: Int): String = mOf(patDrop(k))
  private def hasVowelDrop(k: Int): String = s"contains(${patDrop(k)}, 'v')"
  private def drop(k: Int): String = s"substr(w, 1, len(w) - $k)"
  private val endsDoubleCSql: String =
    "(len(w) >= 2 AND right(w, 1) = substr(w, len(w)-1, 1)" +
      " AND ends_with(pat, 'cc'))"
  /** *o on w with the last `k` chars stripped. */
  private def endsCvcDrop(k: Int): String =
    s"(len(w) >= ${k + 3} AND ends_with(${patDrop(k)}, 'cvc')" +
      s" AND substr(w, len(w) - $k, 1) NOT IN ('w','x','y'))"

  /** The full Porter CTE chain: stems column `t` of CTE `src` (which
    * also carries `keys`), emitting CTE `<prefix>_out`(keys, t, stem).
    * Caller splices this after its own CTEs:
    * `WITH ..., ${Porter.sqlCtes("toks", "doc_id", "q10")} SELECT ...
    * FROM q10_out`. Interprets the SAME step2/step3/step4 tables as
    * [[stem]]. */
  def sqlCtes(src: String, keys: String, prefix: String): String = {
    val p = prefix
    def repl(suf: String, rep: String, mMin: Int): String = {
      val k = suf.length
      val out =
        if (rep.isEmpty) drop(k) else s"${drop(k)} || '$rep'"
      s"""WHEN ends_with(w, '$suf') THEN
         |    CASE WHEN ${mDrop(k)} > $mMin THEN $out ELSE w END""".stripMargin
    }
    val step2Case = step2.map { case (s, r) => repl(s, r, 0) }
      .mkString("CASE ", "\n  ", "\n  ELSE w END")
    val step3Case = step3.map { case (s, r) => repl(s, r, 0) }
      .mkString("CASE ", "\n  ", "\n  ELSE w END")
    val step4Case = step4.map { suf =>
      val k = suf.length
      val extra =
        if (suf == "ion")
          s" AND substr(w, len(w) - $k, 1) IN ('s','t')"
        else ""
      s"""WHEN ends_with(w, '$suf') THEN
         |    CASE WHEN ${mDrop(k)} > 1$extra THEN ${drop(k)} ELSE w END"""
        .stripMargin
    }.mkString("CASE ", "\n  ", "\n  ELSE w END")
    s"""${p}_0 AS (SELECT $keys, t,
       |  CASE WHEN ends_with(t, 'sses') THEN substr(t, 1, len(t) - 2)
       |    WHEN ends_with(t, 'ies') THEN substr(t, 1, len(t) - 2)
       |    WHEN ends_with(t, 'ss') THEN t
       |    WHEN ends_with(t, 's') THEN substr(t, 1, len(t) - 1)
       |    ELSE t END AS w
       |  FROM $src),
       |${p}_1 AS (SELECT $keys, t, w, ${cvSql("w")} AS pat FROM ${p}_0),
       |${p}_2 AS (SELECT $keys, t,
       |  CASE WHEN ends_with(w, 'eed') THEN
       |      CASE WHEN ${mDrop(3)} > 0 THEN ${drop(1)} ELSE w END
       |    WHEN ends_with(w, 'ed') AND ${hasVowelDrop(2)} THEN ${drop(2)}
       |    WHEN ends_with(w, 'ing') AND ${hasVowelDrop(3)} THEN ${drop(3)}
       |    ELSE w END AS w,
       |  (NOT ends_with(w, 'eed') AND
       |    ((ends_with(w, 'ed') AND ${hasVowelDrop(2)}) OR
       |     (ends_with(w, 'ing') AND ${hasVowelDrop(3)}))) AS fired
       |  FROM ${p}_1),
       |${p}_3 AS (SELECT $keys, t, w, fired, ${cvSql("w")} AS pat FROM ${p}_2),
       |${p}_4 AS (SELECT $keys, t,
       |  CASE WHEN NOT fired THEN w
       |    WHEN ends_with(w, 'at') OR ends_with(w, 'bl')
       |      OR ends_with(w, 'iz') THEN w || 'e'
       |    WHEN $endsDoubleCSql
       |      AND right(w, 1) NOT IN ('l','s','z') THEN ${drop(1)}
       |    WHEN ${mDrop(0)} = 1 AND ${endsCvcDrop(0)} THEN w || 'e'
       |    ELSE w END AS w
       |  FROM ${p}_3),
       |${p}_5 AS (SELECT $keys, t, w, ${cvSql("w")} AS pat FROM ${p}_4),
       |${p}_6 AS (SELECT $keys, t,
       |  CASE WHEN ends_with(w, 'y') AND ${hasVowelDrop(1)}
       |    THEN ${drop(1)} || 'i' ELSE w END AS w
       |  FROM ${p}_5),
       |${p}_7 AS (SELECT $keys, t, w, ${cvSql("w")} AS pat FROM ${p}_6),
       |${p}_8 AS (SELECT $keys, t, $step2Case AS w FROM ${p}_7),
       |${p}_9 AS (SELECT $keys, t, w, ${cvSql("w")} AS pat FROM ${p}_8),
       |${p}_10 AS (SELECT $keys, t, $step3Case AS w FROM ${p}_9),
       |${p}_11 AS (SELECT $keys, t, w, ${cvSql("w")} AS pat FROM ${p}_10),
       |${p}_12 AS (SELECT $keys, t, $step4Case AS w FROM ${p}_11),
       |${p}_13 AS (SELECT $keys, t, w, ${cvSql("w")} AS pat FROM ${p}_12),
       |${p}_14 AS (SELECT $keys, t,
       |  CASE WHEN ends_with(w, 'e') AND
       |      (${mDrop(1)} > 1 OR (${mDrop(1)} = 1 AND NOT ${endsCvcDrop(1)}))
       |    THEN ${drop(1)} ELSE w END AS w
       |  FROM ${p}_13),
       |${p}_15 AS (SELECT $keys, t, w, ${cvSql("w")} AS pat FROM ${p}_14),
       |${p}_out AS (SELECT $keys, t,
       |  CASE WHEN len(t) <= 2 THEN t
       |    WHEN ends_with(w, 'l') AND ${mDrop(0)} > 1 AND $endsDoubleCSql
       |    THEN ${drop(1)} ELSE w END AS stem
       |  FROM ${p}_15)""".stripMargin
  }
}

/** Native codegen'd expression: one static call per row. */
final case class PorterStemExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"porter_stem requires STRING input, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      Porter.stem(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.Porter.stem($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): PorterStemExpr =
    copy(child = newChild)
}
