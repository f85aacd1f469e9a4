package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the training-data
  * pipeline surface (language-ID heuristic, quality scoring, token counting,
  * rolling-hash fingerprinting; reference analogs: recordText aggregation
  * `pipeline/sources/lux/qlever/mapper.py:412-463`, keyword stats
  * `pipeline/storage/marklogic/ml_lexer.py:65-86`).
  *
  * Design for 100 TB: every op here is a narrow map-only projection built
  * from codegen'd higher-order functions (split/filter/transform/aggregate)
  * — no shuffle, no UDF, no driver state; it scales linearly with input
  * splits. Hashes are polynomial char-code folds mod 2^31-1, chosen so the
  * DuckDB oracle can reproduce them bit-for-bit with list_reduce.
  */
object TextQueries extends QueryGroup {

  val HashP = 2147483647L // 2^31-1, keeps acc*131+c within int64
  val WordB = 31L
  val DocB = 131L

  /** Integer FLOOR division: floor(a/b), exact while |a/b| fits double's
    * 2^53 mantissa (every use here: keys, counts, ±1.8e8 microdegrees).
    * Matches DuckDB `//` for non-negative dividends — which is all the
    * oracle SQL uses — but on NEGATIVE dividends DuckDB `//` truncates
    * toward zero (-7//2 = -3) while this floors (-4). GeoQueries.cell
    * depends on the floor contract for grid cells straddling zero (a
    * truncating division would make cell 0 twice as wide and break the
    * 3×3 neighborhood guarantee), so do not "fix" this to `a div b`. */
  def intDiv(a: Column, b: Column): Column = floor(a / b).cast("long")

  /** Whitespace tokens with empties dropped (both engines keep boundary
    * empties differently; filtering makes them agree). */
  def tokensCol(text: Column): Column = filter(split(text, "\\s+"), _ =!= "")
  def tokensSql(text: String): String =
    s"list_filter(string_split_regex($text, '\\s+'), x -> x <> '')"

  /** Polynomial hash of one word's bytes: fold (a*31+b) % (2^31-1).
    * Backed by the native codegen'd PolyHash expression; identical to the
    * HOF char-fold reference `PolyHashSpec.wordHashHof` for ASCII input. */
  def wordHash(w: Column): Column = call_function("poly_hash", w)
  def wordHashSql(w: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(unicode(($w)[i]) AS BIGINT) for i in range(1, len($w)+1)]), (a,b) -> (a*$WordB+b) % $HashP)"

  /** Doc fingerprint: order-sensitive fold of word hashes (rolling hash). */
  def docFingerprint(tokens: Column): Column =
    aggregate(transform(tokens, wordHash(_)), lit(0L),
      (a, b) => (a * DocB + b) % HashP)
  def docFingerprintSql(tokens: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform($tokens, w -> ${wordHashSql("w")})), (a,b) -> (a*$DocB+b) % $HashP)"

  /** Language marker lexicons (heuristic language-ID over the synthetic
    * corpus vocabulary; the real-world analog is char-n-gram profiles). */
  val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("order", "sort", "merge", "window"),
    "en" -> Seq("the", "a", "fast", "slow"),
    "es" -> Seq("data", "value", "row", "column"),
    "fr" -> Seq("join", "filter", "scan", "hash"),
    "zh" -> Seq("spark", "stream", "batch", "query"))

  val stopwords: Seq[String] = Seq("the", "a")

  // ---------------------------------------------------------------- queries

  /** Token counting: whitespace tokenization + distinct + length stats.
    * Integer-exact: avg length quantized by integer division. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokensCol($"text")
    Tables.load(spark, dir, "documents")
      .select($"doc_id",
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        // greatest(n,1): a zero-token doc reads 0 avg length instead of
        // killing the task under ANSI (SURVEY lesson 16; the d20 pattern)
        intDiv(aggregate(transform(toks, t => length(t).cast("long")), lit(0L), _ + _)
          * 1000L, greatest(size(toks), lit(1))).as("avg_len_milli"))
  }
  private val tokenCountOracle: String = {
    val t = tokensSql("text")
    s"""SELECT doc_id,
       |  CAST(len($t) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct($t)) AS BIGINT) AS n_distinct,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform($t, x -> CAST(len(x) AS BIGINT))), (a,b) -> a+b) * 1000 // GREATEST(CAST(len($t) AS BIGINT), 1) AS avg_len_milli
       |FROM documents""".stripMargin
  }

  /** Language-ID: argmax of marker-lexicon hit counts, tie-broken by lang
    * ascending; docs with zero hits → 'und'. Shuffle-free columnar argmax
    * (sorted struct array), so it stays inside whole-stage codegen. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokensCol($"text")
    val scored = markers.map { case (lang, words) =>
      struct((-size(filter(toks, t => t.isInCollection(words)))).cast("long").as("neg"),
        lit(lang).as("lang"))
    }
    val best = element_at(sort_array(array(scored: _*)), 1)
    Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang".as("actual_lang"),
        when(best.getField("neg") === 0, "und")
          .otherwise(best.getField("lang")).as("pred_lang"),
        (-best.getField("neg")).as("score"))
  }
  private val langIdOracle: String = {
    val t = tokensSql("text")
    val scores = markers.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString("[", ",", "]")
      s"SELECT doc_id, '$lang' AS l, CAST(len(list_filter($t, x -> list_contains($lst, x))) AS BIGINT) AS s FROM documents"
    }.mkString("\nUNION ALL\n")
    s"""WITH scores AS ($scores),
       |best AS (
       |  SELECT doc_id, l, s,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, l ASC) AS rn
       |  FROM scores)
       |SELECT d.doc_id, d.lang AS actual_lang,
       |  CASE WHEN b.s = 0 THEN 'und' ELSE b.l END AS pred_lang, b.s AS score
       |FROM documents d JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1""".stripMargin
  }

  /** Quality scoring: token/distinct/stopword ratios, all integer-exact
    * (milli units via integer division); boolean keep-flag like a filter
    * stage in a training-data pipeline. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokensCol($"text")
    val n = size(toks).cast("long")
    val nDist = size(array_distinct(toks)).cast("long")
    val nStop = size(filter(toks, t => t.isInCollection(stopwords))).cast("long")
    // greatest(n,1): zero-token docs score 0 and fail `keep` via n >= 10
    // instead of killing the task under ANSI (SURVEY lesson 16)
    val ng = greatest(n, lit(1L))
    Tables.load(spark, dir, "documents")
      .select($"doc_id", n.as("n_tokens"),
        intDiv(nDist * 1000L, ng).as("distinct_milli"),
        intDiv(nStop * 1000L, ng).as("stop_milli"),
        intDiv($"n_chars", ng).as("chars_per_token"),
        (n >= 10L && intDiv(nDist * 1000L, ng) >= 100L &&
          intDiv(nStop * 1000L, ng) <= 500L).as("keep"))
  }
  private val qualityOracle: String = {
    val t = tokensSql("text")
    val stop = stopwords.map(w => s"'$w'").mkString("[", ",", "]")
    s"""WITH m AS (
       |  SELECT doc_id, n_chars,
       |    CAST(len($t) AS BIGINT) AS n,
       |    CAST(len(list_distinct($t)) AS BIGINT) AS nd,
       |    CAST(len(list_filter($t, x -> list_contains($stop, x))) AS BIGINT) AS ns
       |  FROM documents)
       |SELECT doc_id, n AS n_tokens,
       |  nd * 1000 // GREATEST(n, 1) AS distinct_milli,
       |  ns * 1000 // GREATEST(n, 1) AS stop_milli,
       |  n_chars // GREATEST(n, 1) AS chars_per_token,
       |  (n >= 10 AND nd * 1000 // GREATEST(n, 1) >= 100
       |    AND ns * 1000 // GREATEST(n, 1) <= 500) AS keep
       |FROM m""".stripMargin
  }

  /** Document fingerprinting: order-sensitive rolling hash over the token
    * stream — groups byte-identical token sequences (exact-dup substrate). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id", docFingerprint(tokensCol($"text")).as("fp"))
  }
  private val fingerprintOracle: String =
    s"""SELECT doc_id, ${docFingerprintSql(tokensSql("text"))} AS fp
       |FROM documents""".stripMargin

  /** Dataset profiling (SURVEY §7.1 step 11): per-table cardinality and
    * null stats with approx_count_distinct (HLL++). Sketches differ
    * across engines, so this registers WITHOUT an oracle — the driver
    * records the weaker rows-only check; exact columns ride along. */
  def profile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.load(spark, dir, "documents")
    d.select(
      count(lit(1)).as("n_rows"),
      approx_count_distinct($"text").as("approx_texts"),
      approx_count_distinct($"lang").as("approx_langs"),
      countDistinct($"source").as("exact_sources"),
      sum(when($"text".isNull, 1L).otherwise(0L)).as("null_texts"))
  }

  /** The oracle-checked companion of t_profile: the same profiling
    * shape with EXACT distincts (count_distinct is engine-portable;
    * the HLL++ variant above stays for the scale path where exact
    * distinct would shuffle the full column). */
  def profileExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.load(spark, dir, "documents")
    d.groupBy($"source")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct($"text").as("n_texts"),
        countDistinct($"lang").as("n_langs"),
        sum(when($"text".isNull, 1L).otherwise(0L)).as("null_texts"),
        sum(length($"text")).cast("long").as("total_chars"))
  }
  private val profileExactOracle: String =
    """SELECT source, COUNT(*) AS n_rows,
      |  COUNT(DISTINCT text) AS n_texts,
      |  COUNT(DISTINCT lang) AS n_langs,
      |  CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_texts,
      |  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
      |FROM documents GROUP BY source""".stripMargin

  /** Deterministic-HLL geometry: HllM registers; the register hash
    * (aj/bj row 60) yields a 31-bit value split as (index mod HllM,
    * 25-bit suffix) whose leading-zero rank feeds the register max. */
  val HllM = 64L

  /** Deterministic HyperLogLog distinct-token count per source — the
    * oracle-checked twin of t_profile's engine-opaque
    * approx_count_distinct: with FIXED hashes every step is portable,
    * so the sketch replays bit-for-bit. Registers are pure integers
    * (groupBy(source, reg) MAX of the leading-zero rank — map-side
    * partial max, HllM rows per source); the raw estimator
    * alpha*m^2 / sum(2^-M_j) is IEEE-exact across engines because
    * every 2^-M_j is dyadic with <= 26 fraction bits (the sum needs
    * < 53), and one literal, one multiply, one divide and one floor
    * are correctly rounded identically. Exact distincts ride along as
    * ground truth; at 100 TB you keep only the 64 registers per
    * source. (Raw estimator by design — linear counting, the standard
    * small-range correction, needs ln() whose last ulp is not pinned
    * across engines; on this corpus' ~31-token per-source vocabulary
    * the raw estimate therefore reads ~2x high, a bounded overcount
    * the spec pins. The point is the exact-replay sketch harness.) */
  def hllCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.load(spark, dir, "documents")
      .select($"source", explode(tokensCol(lower($"text"))).as("tok"))
      .select($"source", $"tok", wordHash($"tok").as("h"))
      .persist() // registers + exact truth
    val regs = toks
      .select($"source", pmod(lit(functions.VecMath.aj(60)) * $"h" +
        lit(functions.VecMath.bj(60)), lit(HashP)).as("h2"))
      .select($"source", pmod($"h2", lit(HllM)).as("reg"),
        intDiv($"h2", lit(HllM)).as("w")) // w < 2^25
      .select($"source", $"reg",
        when($"w" === 0L, lit(26L))
          .otherwise(lit(26L) - length(bin($"w"))).as("rho"))
      .groupBy($"source", $"reg").agg(max($"rho").as("mj"))
    val est = regs.groupBy($"source").agg(
        count(lit(1)).as("n_regs"),
        sum($"mj").cast("long").as("reg_digest"),
        sum(lit(1.0d) / pow(lit(2.0d), $"mj")).as("s_present"))
      .select($"source", $"reg_digest",
        floor(lit(1000.0d * 0.709d * (HllM * HllM).toDouble) /
          ($"s_present" + (lit(HllM) - $"n_regs").cast("double")))
          .cast("long").as("hll_est_milli"))
    val exact = toks.groupBy($"source")
      .agg(countDistinct($"tok").as("exact_distinct"))
    est.join(exact, Seq("source"))
      .select($"source", $"exact_distinct", $"reg_digest", $"hll_est_milli")
  }
  private val hllCountsOracle: String = {
    val t = tokensSql("lower(text)")
    s"""WITH toks AS (
       |  SELECT source, unnest($t) AS tok FROM documents),
       |th AS (SELECT source, tok, ${wordHashSql("tok")} AS h FROM toks),
       |h2t AS (
       |  SELECT source, tok,
       |    (${functions.VecMath.aj(60)}*h + ${functions.VecMath.bj(60)}) % $HashP AS h2
       |  FROM th),
       |rr AS (
       |  SELECT source, h2 % $HllM AS reg,
       |    CASE WHEN h2 // $HllM = 0 THEN 26
       |         ELSE 26 - length(bin(h2 // $HllM)) END AS rho
       |  FROM h2t),
       |regs AS (SELECT source, reg, MAX(rho) AS mj FROM rr GROUP BY 1, 2),
       |est AS (
       |  SELECT source,
       |    CAST(SUM(mj) AS BIGINT) AS reg_digest,
       |    CAST(floor(1000.0 * 0.709 * ${HllM * HllM}
       |      / (SUM(1.0 / pow(2.0, mj)) + ($HllM - COUNT(*)))) AS BIGINT)
       |      AS hll_est_milli
       |  FROM regs GROUP BY 1)
       |SELECT t.source, COUNT(DISTINCT tok) AS exact_distinct,
       |  ANY_VALUE(reg_digest) AS reg_digest,
       |  ANY_VALUE(hll_est_milli) AS hll_est_milli
       |FROM th t JOIN est e ON t.source = e.source
       |GROUP BY 1""".stripMargin
  }

  /** Count-Min sketch geometry: CmsD independent hash rows of CmsW
    * buckets (aj/bj rows 56–59, clear of every other family's range).
    * Unlike the HLL in t_profile, CMS with FIXED hashes is fully
    * deterministic, so it gets a bit-exact oracle. */
  val CmsD = 4
  val CmsW = 256L

  /** Count-Min sketch token-frequency estimation — the bounded-memory
    * heavy-hitters primitive (Cormode & Muthukrishnan 2005): the whole
    * corpus folds into a CmsD x CmsW counter grid (one groupBy over
    * ≤1024 cells, map-side partial sums — state size independent of
    * corpus and vocabulary), and a token's estimate is the MIN of its
    * CmsD cells. Output: the exact top-20 tokens with exact and
    * estimated counts; CMS can only OVERcount (est >= exact, the
    * spec'd guarantee), with error bounded by collisions per bucket.
    * At 100 TB the exact per-token groupBy this query carries for
    * ground truth is what you'd drop — the sketch alone answers with
    * megabytes of state. */
  def cmsCounts(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    def bucket(j: Int, h: Column): Column =
      pmod(pmod(lit(functions.VecMath.aj(56 + j)) * h +
        lit(functions.VecMath.bj(56 + j)), lit(HashP)), lit(CmsW))
    val toks = Tables.load(spark, dir, "documents")
      .select(explode(tokensCol(lower($"text"))).as("tok"))
      .select($"tok", wordHash($"tok").as("h"))
      .persist() // sketch build + exact ground truth both read it
    val cells = toks
      .select(explode(array((0 until CmsD).map(j =>
        struct(lit(j).as("row"), bucket(j, $"h").as("bucket"))): _*)).as("c"))
      .groupBy($"c.row".as("row"), $"c.bucket".as("bucket"))
      .agg(count(lit(1)).as("n"))
    val exact = toks.groupBy($"tok", $"h").agg(count(lit(1)).as("exact_n"))
    // Top-20 via orderBy+limit, not a global row_number window: Spark
    // plans TakeOrderedAndProject (per-partition top-k then merge), so
    // the vocabulary-sized rank never lands in one partition.
    val top = exact.orderBy($"exact_n".desc, $"tok".asc).limit(20)
    top.select($"tok", $"h", $"exact_n",
        explode(array((0 until CmsD).map(j =>
          struct(lit(j).as("row"), bucket(j, $"h").as("bucket"))): _*)).as("c"))
      .join(broadcast(cells),
        $"c.row" === cells("row") && $"c.bucket" === cells("bucket"))
      .groupBy($"tok", $"exact_n")
      .agg(min($"n").as("cms_n"))
      .select($"tok".as("token"), $"exact_n", $"cms_n")
  }
  private val cmsCountsOracle: String = {
    val t = tokensSql("lower(text)")
    val consts = (0 until CmsD).map(j =>
      s"(${j}, ${functions.VecMath.aj(56 + j)}, ${functions.VecMath.bj(56 + j)})")
      .mkString(", ")
    s"""WITH toks AS (SELECT unnest($t) AS tok FROM documents),
       |th AS (SELECT tok, ${wordHashSql("tok")} AS h FROM toks),
       |consts(j, a, b) AS (SELECT * FROM (VALUES $consts)),
       |cells AS (
       |  SELECT j, ((a*h + b) % $HashP) % $CmsW AS bucket, COUNT(*) AS n
       |  FROM th, consts GROUP BY 1, 2),
       |exact AS (SELECT tok, h, COUNT(*) AS exact_n FROM th GROUP BY 1, 2),
       |top AS (
       |  SELECT * FROM (
       |    SELECT tok, h, exact_n,
       |      ROW_NUMBER() OVER (ORDER BY exact_n DESC, tok ASC) AS rk
       |    FROM exact) WHERE rk <= 20)
       |SELECT t.tok AS token, t.exact_n,
       |  (SELECT MIN(ce.n) FROM consts c JOIN cells ce
       |    ON ce.j = c.j AND ce.bucket = ((c.a*t.h + c.b) % $HashP) % $CmsW)
       |    AS cms_n
       |FROM top t""".stripMargin
  }

  /** Repetition signals (the Gopher-style quality gates): fraction of
    * the doc taken by its most-repeated token / bigram and the overall
    * duplicate-token fraction, with a keep-flag at the published-recipe
    * thresholds. Shuffle-free: the per-doc mode is computed as the max
    * run length of the SORTED token array in one columnar fold — no
    * explode/groupBy per document, so the op stays map-only at corpus
    * scale (the DuckDB oracle takes the explode route to the same
    * counts, cross-checking the fold). */
  def repRatio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // max run length of a sorted array = count of the most frequent
    // element; struct-accumulator fold keeps it inside one projection
    def maxRun(sorted: Column, empty: Column): Column =
      aggregate(sorted,
        struct(empty.as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
            .otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        },
        acc => acc.getField("best"))
    val withCols = Tables.load(spark, dir, "documents")
      .select($"doc_id", tokensCol($"text").as("t"))
      .select($"doc_id", $"t",
        when(size($"t") >= 2,
          transform(sequence(lit(1), size($"t") - 1), i =>
            concat_ws(" ", element_at($"t", i), element_at($"t", i + 1))))
          .otherwise(array().cast("array<string>")).as("bg"))
    val n = size($"t").cast("long")
    val nd = size(array_distinct($"t")).cast("long")
    withCols.select($"doc_id", n.as("n_tokens"),
      intDiv(maxRun(array_sort($"t"), lit("")) * 1000L, greatest(n, lit(1L)))
        .as("top_token_milli"),
      intDiv(maxRun(array_sort($"bg"), lit("")) * 1000L,
        greatest(n - 1L, lit(1L))).as("top_bigram_milli"),
      intDiv((n - nd) * 1000L, greatest(n, lit(1L))).as("dup_milli"))
  }
  private val repRatioOracle: String = {
    val t = tokensSql("text")
    s"""WITH toks AS (SELECT doc_id, $t AS t FROM documents),
       |tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
       |tc AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
       |top1 AS (SELECT doc_id, MAX(c) AS topc FROM tc GROUP BY 1),
       |bg AS (
       |  SELECT doc_id, unnest([t[i] || ' ' || t[i+1]
       |    for i in range(1, len(t))]) AS b
       |  FROM toks WHERE len(t) >= 2),
       |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
       |top2 AS (SELECT doc_id, MAX(c) AS topb FROM bc GROUP BY 1)
       |SELECT toks.doc_id,
       |  CAST(len(t) AS BIGINT) AS n_tokens,
       |  COALESCE(topc, 0) * 1000
       |    // GREATEST(CAST(len(t) AS BIGINT), 1) AS top_token_milli,
       |  COALESCE(topb, 0) * 1000
       |    // GREATEST(CAST(len(t) AS BIGINT) - 1, 1) AS top_bigram_milli,
       |  (CAST(len(t) AS BIGINT) - CAST(len(list_distinct(t)) AS BIGINT)) * 1000
       |    // GREATEST(CAST(len(t) AS BIGINT), 1) AS dup_milli
       |FROM toks
       |LEFT JOIN top1 ON top1.doc_id = toks.doc_id
       |LEFT JOIN top2 ON top2.doc_id = toks.doc_id""".stripMargin
  }

  /** PII patterns shared by the scrub query and its oracle — kept to
    * the regex subset Java and RE2 interpret identically (character
    * classes, bounded repeats; no lookaround, no backrefs). */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]+", "<EMAIL>"),
    ("phone", "555-[0-9]{4}", "<PHONE>"),
    ("ip", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"))

  /** PII detection + redaction: count and mask emails / phone numbers /
    * IPs — the scrub pass a training-data pipeline runs before anything
    * else sees the text. The synthetic corpus carries no PII, so the
    * fixture injects deterministic markers keyed on doc_id (same
    * expression in the oracle) and the scrubber must remove ALL of them
    * (residue counted and asserted zero). Map-only columnar regex —
    * linear scan, no shuffle, no UDF. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val raw = concat($"text",
      when($"doc_id" % 3 === 0,
        concat(lit(" contact u"), $"doc_id", lit("@example.org"))).otherwise(""),
      when($"doc_id" % 5 === 0,
        concat(lit(" call 555-"),
          lpad(($"doc_id" % 10000).cast("string"), 4, "0"))).otherwise(""),
      when($"doc_id" % 7 === 0,
        concat(lit(" from 10.0."), $"doc_id" % 256, lit(".1"))).otherwise(""))
    val scrubbed = piiPatterns.foldLeft(col("raw")) {
      case (c, (_, re, mask)) => regexp_replace(c, re, mask)
    }
    Tables.load(spark, dir, "documents")
      .select($"doc_id", raw.as("raw"))
      .select($"doc_id" +:
        piiPatterns.map { case (name, re, _) =>
          regexp_count($"raw", lit(re)).cast("long").as(s"n_$name")
        } :+ scrubbed.as("scrubbed"): _*)
      .withColumn("residue",
        piiPatterns.map { case (_, re, _) =>
          regexp_count($"scrubbed", lit(re)).cast("long")
        }.reduce(_ + _))
  }
  private val piiScrubOracle: String = {
    val counts = piiPatterns.map { case (name, re, _) =>
      s"CAST(len(regexp_extract_all(raw, '$re')) AS BIGINT) AS n_$name"
    }.mkString(",\n  ")
    val scrub = piiPatterns.foldLeft("raw") {
      case (c, (_, re, mask)) => s"regexp_replace($c, '$re', '$mask', 'g')"
    }
    val residue = piiPatterns.map { case (_, re, _) =>
      s"CAST(len(regexp_extract_all($scrub, '$re')) AS BIGINT)"
    }.mkString(" + ")
    s"""WITH r AS (
       |  SELECT doc_id, text
       |    || CASE WHEN doc_id % 3 = 0
       |         THEN ' contact u' || doc_id || '@example.org' ELSE '' END
       |    || CASE WHEN doc_id % 5 = 0
       |         THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |         ELSE '' END
       |    || CASE WHEN doc_id % 7 = 0
       |         THEN ' from 10.0.' || (doc_id % 256) || '.1' ELSE '' END AS raw
       |  FROM documents)
       |SELECT doc_id,
       |  $counts,
       |  $scrub AS scrubbed,
       |  $residue AS residue
       |FROM r""".stripMargin
  }

  /** Per-language sampling rates (milli) for the stratified sample —
    * the domain-mixture weighting step of a training-data pipeline. */
  val sampleRates: Seq[(String, Long)] =
    Seq("en" -> 800L, "de" -> 400L, "es" -> 200L, "fr" -> 100L, "zh" -> 50L)

  /** The stratified sample's keep test, `sampleDraw < sampleRate`: the
    * doc's reproducible draw (LCG mod 1000) against its language's
    * rate (milli; 25 for a language not in `sampleRates`). */
  val sampleDraw: Column = (col("doc_id") * 1103515245L + 12345L) % HashP % 1000L
  val sampleRate: Column = sampleRates.tail.foldLeft(
    when(col("lang") === sampleRates.head._1, sampleRates.head._2)) {
    case (acc, (l, r)) => acc.when(col("lang") === l, r)
  }.otherwise(25L)

  /** Deterministic stratified sampling / domain mixing: each language
    * stratum keeps a fixed fraction of its documents, selected by a
    * reproducible per-doc hash (LCG mod 1000) — the 100 TB form of
    * "sample 80% of English, 5% of zh": a map-only filter, no shuffle,
    * no RNG state, re-runnable to the identical sample. Survivors carry
    * the inverse-probability weight (milli) used to de-bias downstream
    * mixture statistics. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang", $"source", sampleDraw.as("u"),
        sampleRate.as("rate_milli"))
      .filter($"u" < $"rate_milli")
      .select($"doc_id", $"lang", $"source", $"u",
        intDiv(lit(1000000L), $"rate_milli").as("weight_milli"))
  }
  private val stratifiedSampleOracle: String = {
    val cases = sampleRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
      .mkString(" ")
    s"""WITH m AS (
       |  SELECT doc_id, lang, source,
       |    (doc_id * 1103515245 + 12345) % $HashP % 1000 AS u,
       |    CASE $cases ELSE 25 END AS rate_milli
       |  FROM documents)
       |SELECT doc_id, lang, source, u, 1000000 // rate_milli AS weight_milli
       |FROM m WHERE u < rate_milli""".stripMargin
  }

  /** Weighted-sample size and the Lehmer mixing multiplier. */
  val WrsN = 100
  val WrsA = 48271L

  /** Deterministic weighted sampling without replacement — the
    * integer-exact form of Efraimidis–Spirakis A-ES: a doc of weight w
    * holds w lottery tickets, ticket j hashed from the string
    * "doc_id:j" by the engine's PolyHash, and the doc's key is its BEST
    * ticket (the max of w uniforms is distributed as u^(1/w), which is
    * exactly the A-ES key — discretized to integers so both engines
    * agree bit-for-bit where float pow would drift). Top-N by
    * (best ticket, doc_id) is then the sample. Weights here derive from
    * doc length (1..5); ticket expansion is a bounded explode (Σw rows),
    * the per-doc max is a map-side partial aggregate, and the top-N is
    * orderBy+limit (TakeOrderedAndProject) — no global window, shuffle
    * ∝ docs.
    *
    * Ticket dispersion matters: the poly hash of "doc:j" alone puts a
    * doc's w tickets within 4 units of each other on the 2^31 ring (only
    * the last byte varies), so the max barely depends on w and the
    * lottery loses its weight proportionality. Hashing j FIRST and then
    * applying two Lehmer rounds (×48271 mod 2^31−1, int64-safe) wraps
    * the ring twice and scatters a doc's tickets — measured on this
    * corpus the top-100 selection rate is ≈ proportional to w. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.load(spark, dir, "documents")
      .select($"doc_id".cast("long").as("doc_id"),
        (octet_length($"text") % 5L + 1L).cast("long").as("w"))
    val h = wordHash(concat_ws(":", $"j", $"doc_id"))
    val t = h * WrsA % HashP * WrsA % HashP
    d.withColumn("j", explode(sequence(lit(1L), $"w")))
      .select($"doc_id", $"w", t.as("t"))
      .groupBy($"doc_id", $"w").agg(max($"t").as("best_ticket"))
      .orderBy($"best_ticket".desc, $"doc_id".asc)
      .limit(WrsN)
  }
  private val weightedSampleOracle: String =
    s"""WITH d AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |    CAST(strlen(text) % 5 + 1 AS BIGINT) AS w
       |  FROM documents),
       |t AS (
       |  SELECT doc_id, w, UNNEST(range(1, w + 1)) AS j
       |  FROM d),
       |h AS (
       |  SELECT doc_id, w,
       |    ${wordHashSql("j::VARCHAR || ':' || doc_id::VARCHAR")} AS h
       |  FROM t)
       |SELECT doc_id, w,
       |  MAX(h * $WrsA % $HashP * $WrsA % $HashP) AS best_ticket
       |FROM h GROUP BY doc_id, w
       |ORDER BY best_ticket DESC, doc_id ASC LIMIT $WrsN""".stripMargin

  val ChunkTokens = 2048L

  /** Sequence packing: concatenate each source's documents in doc_id
    * order and chunk the token stream into fixed training windows —
    * every doc gets its (bin, offset) in the packed stream plus a flag
    * for crossing a window boundary. The standard concat-and-chunk
    * packing step before LLM training.
    *
    * NOT a per-source window: a source is not structurally bounded (one
    * Common-Crawl-sized source at 100 TB would sort on a single
    * reducer), so the per-source running sum is the range-partitioned
    * global prefix sum under the (source, doc_id) total order minus a
    * per-source start offset — [[operators.PrefixSum.withGroupedRunningSum]],
    * where a huge source spans many partitions. */
  def packChunks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"source", size(tokensCol($"text")).cast("long").as("n"))
    operators.PrefixSum
      .withGroupedRunningSum(base, "n", "run_tok", "source", $"doc_id")
      .withColumn("start_tok", $"run_tok" - $"n")
      .select($"doc_id", $"source", $"n".as("n_tokens"), $"start_tok",
        intDiv($"start_tok", lit(ChunkTokens)).as("bin"),
        ($"start_tok" % ChunkTokens).as("offset"),
        (intDiv($"start_tok" + $"n" - 1L, lit(ChunkTokens)) >
          intDiv($"start_tok", lit(ChunkTokens))).as("crosses"))
  }
  private val packChunksOracle: String = {
    val t = tokensSql("text")
    s"""WITH m AS (
       |  SELECT doc_id, source, CAST(len($t) AS BIGINT) AS n FROM documents),
       |c AS (
       |  SELECT doc_id, source, n,
       |    SUM(n) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) - n AS start_tok
       |  FROM m)
       |SELECT doc_id, source, n AS n_tokens, CAST(start_tok AS BIGINT) AS start_tok,
       |  CAST(start_tok // $ChunkTokens AS BIGINT) AS bin,
       |  CAST(start_tok % $ChunkTokens AS BIGINT) AS offset,
       |  ((start_tok + n - 1) // $ChunkTokens > start_tok // $ChunkTokens) AS crosses
       |FROM c""".stripMargin
  }

  /** Corpus-level bigram novelty: the fraction of a document's distinct
    * bigrams that occur in NO other document — the integer-exact stand-in
    * for an n-gram LM perplexity filter (high novelty = unusual word
    * transitions; low = boilerplate). The one genuinely wide text op:
    * bigram document frequency is a corpus aggregation — one shuffle on
    * the bigram key with map-side partial counts, the same shape (and
    * the same skew answer) as the reference's refCtr counting. */
  def bigramNovelty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bigrams = Tables.load(spark, dir, "documents")
      .select($"doc_id", tokensCol($"text").as("t"))
      .select($"doc_id",
        when(size($"t") >= 2,
          array_distinct(transform(sequence(lit(1), size($"t") - 1), i =>
            concat_ws(" ", element_at($"t", i), element_at($"t", i + 1)))))
          .otherwise(array().cast("array<string>")).as("bg"))
      .persist() // feeds the df aggregation AND the per-doc join
    val exploded = bigrams.select($"doc_id", explode($"bg").as("b"))
    val df = exploded.groupBy($"b").agg(count(lit(1)).as("df"))
    val perDoc = exploded.join(df, "b")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when($"df" === 1L, 1L).otherwise(0L)).as("n_unique"))
    bigrams.select($"doc_id").join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        coalesce($"n_unique", lit(0L)).as("n_unique"),
        intDiv(coalesce($"n_unique", lit(0L)) * 1000L,
          greatest(coalesce($"n_bigrams", lit(0L)), lit(1L))).as("novelty_milli"))
  }
  private val bigramNoveltyOracle: String = {
    val t = tokensSql("text")
    s"""WITH toks AS (SELECT doc_id, $t AS t FROM documents),
       |bgs AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) >= 2 THEN list_distinct([t[i] || ' ' || t[i+1]
       |      for i in range(1, len(t))]) ELSE [] END AS bg
       |  FROM toks),
       |ex AS (SELECT doc_id, unnest(bg) AS b FROM bgs),
       |df AS (SELECT b, COUNT(*) AS df FROM ex GROUP BY b),
       |per AS (
       |  SELECT ex.doc_id, COUNT(*) AS n_bigrams,
       |    CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
       |  FROM ex JOIN df ON df.b = ex.b GROUP BY ex.doc_id)
       |SELECT bgs.doc_id,
       |  COALESCE(n_bigrams, 0) AS n_bigrams,
       |  COALESCE(n_unique, 0) AS n_unique,
       |  COALESCE(n_unique, 0) * 1000
       |    // GREATEST(COALESCE(n_bigrams, 0), 1) AS novelty_milli
       |FROM bgs LEFT JOIN per ON per.doc_id = bgs.doc_id""".stripMargin
  }

  /** GPT-2-style pre-tokenizer pattern, restricted to the Java∩RE2
    * portable subset (explicit ASCII classes, no \p{} or lookahead):
    * contractions, space-prefixed letter runs, digit runs, punct runs.
    * Whitespace-only tokens are not counted. */
  val BpePattern = "'ll|'re|'ve|'[sdmt]| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"

  /** BPE-ish tokenization: the regex pre-tokenizer pass every BPE
    * tokenizer runs before merges — token counts here are the training
    * cost estimator (fertility = regex tokens per whitespace word).
    * Map-only codegen regexp fold, no shuffle. */
  def bpeTokens(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = regexp_extract_all($"text", lit(BpePattern), lit(0))
    Tables.load(spark, dir, "documents")
      .select($"doc_id",
        size(toks).cast("long").as("n_bpe"),
        size(array_distinct(toks)).cast("long").as("n_bpe_distinct"),
        size(tokensCol($"text")).cast("long").as("n_ws"))
      .withColumn("fertility_milli",
        intDiv($"n_bpe" * 1000L, greatest($"n_ws", lit(1L))))
  }
  private val bpeOracle: String = {
    val pat = BpePattern.replace("\\s", "\\s").replace("'", "''")
    val t = s"regexp_extract_all(text, '$pat')"
    s"""SELECT doc_id,
       |  CAST(len($t) AS BIGINT) AS n_bpe,
       |  CAST(len(list_distinct($t)) AS BIGINT) AS n_bpe_distinct,
       |  CAST(len(${tokensSql("text")}) AS BIGINT) AS n_ws,
       |  CAST(len($t) AS BIGINT) * 1000
       |    // GREATEST(CAST(len(${tokensSql("text")}) AS BIGINT), 1) AS fertility_milli
       |FROM documents""".stripMargin
  }

  private val FeatDim = 4096L   // hashed feature space (feature hashing, Weinberger et al. 2009)
  private val Wa = 1103515245L  // deterministic stand-in weight generator (LCG constants);
  private val Wb = 12345L       // a trained fasttext-style model would ship real weights here

  /** Quality-classifier scoring: a linear model over hashed token
    * features — the fasttext-style filter shape (CCNet/DCLM): each
    * token hashes into a `FeatDim`-bucket feature space, each bucket
    * carries a weight, and the doc score is the mean token weight
    * (milli-quantized, truncating div to match DuckDB `//` on
    * negative sums). Weights are a deterministic LCG of the bucket id
    * — swapping in trained weights is a broadcast-array lookup with
    * the identical plan shape.
    *
    * Scale: map-only fold over the token array inside whole-stage
    * codegen (poly_hash is the native expression) — no shuffle, no
    * model state on executors beyond the weight closure. */
  def classifierScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokensCol($"text")
    val weight = (t: Column) =>
      (lit(Wa) * (wordHash(t) % FeatDim) + lit(Wb)) % HashP % 2001L - 1000L
    Tables.load(spark, dir, "documents")
      .select($"doc_id",
        size(toks).cast("long").as("n_tokens"),
        aggregate(transform(toks, weight), lit(0L), _ + _).as("w_sum"))
      .withColumn("score_milli", expr("(w_sum * 1000) div greatest(n_tokens, 1)"))
      .withColumn("accept", ($"score_milli" >= 0L).cast("long"))
  }
  private val classifierOracle: String = {
    val t = tokensSql("text")
    val w = s"(($Wa * (${wordHashSql("w")} % $FeatDim) + $Wb) % $HashP) % 2001 - 1000"
    s"""WITH m AS (
       |  SELECT doc_id, CAST(len($t) AS BIGINT) AS n_tokens,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform($t, w -> $w)), (a,b) -> a+b) AS w_sum
       |  FROM documents)
       |SELECT doc_id, n_tokens, w_sum,
       |  (w_sum * 1000) // GREATEST(n_tokens, 1) AS score_milli,
       |  CAST(((w_sum * 1000) // GREATEST(n_tokens, 1)) >= 0 AS BIGINT) AS accept
       |FROM m""".stripMargin
  }

  /** Filter-threshold CALIBRATION sweep — the step every pipeline runs
    * before fixing a quality-filter cutoff: sweep the classifier score
    * over a threshold grid and report the confusion counts plus
    * integer-milli precision / recall / F1 at each point, against an
    * independent truth label (lexical diversity ≥ 0.5 — distinct
    * tokens over tokens). One map pass computes (score, label) per
    * doc; the grid explode (21 rows per doc) feeds a 21-group
    * aggregate with map-side partial sums — no shuffle wider than the
    * grid, corpus-size-independent result. */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokensCol($"text")
    val weight = (t: Column) =>
      (lit(Wa) * (wordHash(t) % FeatDim) + lit(Wb)) % HashP % 2001L - 1000L
    val perDoc = Tables.load(spark, dir, "documents")
      .select(
        size(toks).cast("long").as("n"),
        size(array_distinct(toks)).cast("long").as("nd"),
        aggregate(transform(toks, weight), lit(0L), _ + _).as("w_sum"))
      // mean token weight: the weights are already milli (±1000 = ±1.0),
      // so the score lands on the same [-1000, 1000] grid as the sweep
      .select(
        expr("w_sum div greatest(n, 1)").as("score"),
        (intDiv($"nd" * 1000L, greatest($"n", lit(1L))) >= 500L).as("label"))
    val cell = (p: Column) => sum(when(p, 1L).otherwise(0L))
    perDoc
      .select($"score", $"label",
        explode(sequence(lit(-1000L), lit(1000L), lit(100L))).as("threshold"))
      .groupBy($"threshold")
      .agg(
        cell($"score" >= $"threshold" && $"label").as("tp"),
        cell($"score" >= $"threshold" && !$"label").as("fp"),
        cell($"score" < $"threshold" && $"label").as("fn"))
      .select($"threshold", $"tp", $"fp", $"fn",
        intDiv($"tp" * 1000L, greatest($"tp" + $"fp", lit(1L)))
          .as("precision_milli"),
        intDiv($"tp" * 1000L, greatest($"tp" + $"fn", lit(1L)))
          .as("recall_milli"))
      .withColumn("f1_milli",
        intDiv($"precision_milli" * $"recall_milli" * 2L,
          greatest($"precision_milli" + $"recall_milli", lit(1L))))
  }
  private val thresholdSweepOracle: String = {
    val t = tokensSql("text")
    val w = s"(($Wa * (${wordHashSql("w")} % $FeatDim) + $Wb) % $HashP) % 2001 - 1000"
    s"""WITH m AS (
       |  SELECT CAST(len($t) AS BIGINT) AS n,
       |    CAST(len(list_distinct($t)) AS BIGINT) AS nd,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform($t, w -> $w)), (a,b) -> a+b) AS w_sum
       |  FROM documents),
       |s AS (
       |  SELECT w_sum // GREATEST(n, 1) AS score,
       |    (nd * 1000 // GREATEST(n, 1)) >= 500 AS label
       |  FROM m),
       |th AS (SELECT unnest(range(-1000, 1001, 100)) AS threshold),
       |cells AS (
       |  SELECT threshold,
       |    CAST(SUM(CASE WHEN score >= threshold AND label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(SUM(CASE WHEN score >= threshold AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(SUM(CASE WHEN score < threshold AND label THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |  FROM s, th GROUP BY 1),
       |pr AS (
       |  SELECT threshold, tp, fp, fn,
       |    tp * 1000 // GREATEST(tp + fp, 1) AS precision_milli,
       |    tp * 1000 // GREATEST(tp + fn, 1) AS recall_milli
       |  FROM cells)
       |SELECT threshold, tp, fp, fn, precision_milli, recall_milli,
       |  precision_milli * recall_milli * 2
       |    // GREATEST(precision_milli + recall_milli, 1) AS f1_milli
       |FROM pr""".stripMargin
  }

  /** Domain-level reputation filter — the URL/domain stage of corpus
    * pipelines (RefinedWeb filters whole domains; Dolma aggregates
    * doc-level signals per site before dropping it): per-source mean
    * lexical-diversity and exact-duplicate fraction decide the fate of
    * EVERY document from that source.
    *
    * Scale shape: doc-level signals are map-only; the per-domain
    * rollup groups by `source` (domain cardinality ≪ corpus — partial
    * aggregation collapses each map task to one row per domain); the
    * verdict table is tiny and BROADCAST back onto the corpus, so no
    * wide join touches full documents. */
  def domainFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokensCol($"text")
    val n = size(toks).cast("long")
    val nDist = size(array_distinct(toks)).cast("long")
    val m = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"source",
        intDiv(nDist * 1000L, greatest(n, lit(1L))).as("q_milli"),
        docFingerprint(toks).as("fp"))
    val domains = m.groupBy($"source").agg(
      count(lit(1)).as("n_docs"),
      intDiv(sum($"q_milli"), count(lit(1))).as("mean_q_milli"),
      ((count(lit(1)) - countDistinct($"fp")) * 1000L).as("dup_x1000"))
      .select($"source", $"n_docs", $"mean_q_milli",
        intDiv($"dup_x1000", $"n_docs").as("dup_milli"))
      .withColumn("domain_keep",
        $"mean_q_milli" >= 200L && $"dup_milli" <= 300L)
    m.join(broadcast(domains), Seq("source"))
      .select($"doc_id", $"source", $"mean_q_milli", $"dup_milli",
        $"domain_keep")
  }
  private val domainFilterOracle: String = {
    val t = tokensSql("text")
    s"""WITH m AS (
       |  SELECT doc_id, source,
       |    CAST(len(list_distinct($t)) AS BIGINT) * 1000
       |      // GREATEST(CAST(len($t) AS BIGINT), 1) AS q_milli,
       |    ${docFingerprintSql(tokensSql("text"))} AS fp
       |  FROM documents),
       |d AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(q_milli) AS BIGINT) // COUNT(*) AS mean_q_milli,
       |    (COUNT(*) - COUNT(DISTINCT fp)) * 1000 // COUNT(*) AS dup_milli
       |  FROM m GROUP BY 1)
       |SELECT doc_id, m.source, mean_q_milli, dup_milli,
       |  (mean_q_milli >= 200 AND dup_milli <= 300) AS domain_keep
       |FROM m JOIN d ON m.source = d.source""".stripMargin
  }

  /** Distributed BPE tokenizer-merge TRAINING (Sennrich et al. 2016) —
    * learn the top-R merge rules from corpus word counts. The classic
    * distributed trainer shape: the corpus collapses ONCE to a
    * (word, count) vocab table (corpus-scale shuffle, then never
    * again); each round counts weighted adjacent symbol pairs over the
    * vocab (narrow rows, map-side partial sums), elects the best pair
    * (ONE scalar row to the driver, like g1's convergence aggregate),
    * and applies the merge map-only. Round cost is vocab-bound, not
    * corpus-bound — exactly why production BPE trainers scale.
    *
    * Symbol sequences ride in a wrapped string (`|k||e||y|`): applying
    * a merge is a literal string replace, whose greedy leftmost-
    * non-overlapping semantics IS BPE's merge rule and is identical in
    * Java and DuckDB (verified: `|a||a||a||a|` → `|aa||aa|`), so the
    * oracle replays training exactly, round by round. Ties elect the
    * lexicographically smallest pair. */
  /** The trainer loop, shared by t_bpe_train and t_bpe_apply. */
  private[graft] def bpeMerges(spark: SparkSession, dir: String,
      rounds: Int = 5): Seq[(Int, String, Long)] = {
    import spark.implicits._
    var words = Tables.load(spark, dir, "documents")
      .select(explode(tokensCol(lower($"text"))).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .select(regexp_replace($"w", "(.)", "|$1|").as("s"), $"cnt")
      .persist()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    for (r <- 1 to rounds) {
      val syms = split(btrim($"s", lit("|")), "\\|\\|")
      val pairs = when(size(syms) >= 2,
        transform(sequence(lit(0), size(syms) - 2), i =>
          concat(lit("|"), element_at(syms, i + 1), lit("||"),
            element_at(syms, i + 2), lit("|"))))
        .otherwise(array().cast("array<string>"))
      val best = words.select($"cnt", explode(pairs).as("p"))
        .groupBy($"p").agg(sum($"cnt").as("support"))
        .orderBy($"support".desc, $"p".asc).limit(1).head()
      val (bp, sup) = (best.getString(0), best.getLong(1))
      merges += ((r, bp, sup))
      val next = words
        .select(replace($"s", lit(bp), lit(bp.replace("||", ""))).as("s"), $"cnt")
        .persist()
      next.count() // materialize before dropping the parent
      words.unpersist()
      words = next
    }
    words.unpersist()
    merges.toSeq
  }

  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeMerges(spark, dir).toDF("round", "pair", "support")
      .select($"round".cast("long").as("round"), $"pair", $"support")
  }
  private val bpeTrainOracle: String = {
    val sel = (1 to 5).map(r =>
      s"SELECT CAST($r AS BIGINT) AS round, p AS pair, support FROM b$r")
      .mkString("\nUNION ALL\n")
    s"""WITH $bpeTrainCtes
       |$sel""".stripMargin
  }

  /** Shared trainer CTE chain (w0 + 5 rounds ending in b5/w5). */
  private def bpeTrainCtes: String = {
    val t = tokensSql("lower(text)")
    val rounds = (1 to 5).map { r =>
      s"""p$r AS (
         |  SELECT u AS p, CAST(SUM(cnt) AS BIGINT) AS support FROM (
         |    SELECT cnt, unnest(['|'||syms[i]||'||'||syms[i+1]||'|'
         |        for i in range(1, len(syms))]) AS u
         |    FROM (SELECT string_split(trim(s, '|'), '||') AS syms, cnt
         |          FROM w${r - 1}))
         |  GROUP BY 1),
         |b$r AS (SELECT p, support FROM p$r ORDER BY support DESC, p ASC LIMIT 1),
         |w$r AS (
         |  SELECT replace(s, (SELECT p FROM b$r),
         |    replace((SELECT p FROM b$r), '||', '')) AS s, cnt FROM w${r - 1})""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (
       |  SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS s, cnt FROM (
       |    SELECT w, COUNT(*) AS cnt FROM (
       |      SELECT unnest($t) AS w FROM documents) GROUP BY 1)),
       |$rounds""".stripMargin
  }

  /** Tokenizer APPLICATION with the trained merges — the other half of
    * t_bpe_train: every document re-tokenized under the learned
    * 5-merge vocabulary, yielding true trained-tokenizer counts and
    * fertility. Map-only over the corpus (merges arrive as literals in
    * the token lambda; training cost is vocab-bound, see bpeMerges).
    * The oracle re-trains via the shared CTE chain and applies the
    * same merges as scalar-subquery replaces, so train AND apply are
    * both replayed. */
  def bpeApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val merges = bpeMerges(spark, dir)
    val symCount = (tok: Column) => {
      val wrapped = regexp_replace(tok, "(.)", "|$1|")
      val merged = merges.foldLeft(wrapped) { case (c, (_, bp, _)) =>
        replace(c, lit(bp), lit(bp.replace("||", "")))
      }
      size(split(btrim(merged, lit("|")), "\\|\\|")).cast("long")
    }
    Tables.load(spark, dir, "documents")
      .select($"doc_id", tokensCol(lower($"text")).as("t"))
      .select($"doc_id",
        size($"t").cast("long").as("ws_tokens"),
        aggregate(transform($"t", symCount), lit(0L), _ + _).as("bpe_tokens"))
      .withColumn("fertility_milli",
        intDiv($"bpe_tokens" * 1000L, greatest($"ws_tokens", lit(1L))))
  }
  private val bpeApplyOracle: String = {
    val t = tokensSql("lower(text)")
    // subqueries are not allowed inside DuckDB lambdas: surface the 5
    // trained pairs as plain columns via a one-row cross join first
    val pairCols = (1 to 5).map(r =>
      s"(SELECT p FROM b$r) AS p$r, (SELECT replace(p, '||', '') FROM b$r) AS q$r")
      .mkString(",\n    ")
    val applied = (1 to 5).foldLeft("regexp_replace(x, '(.)', '|\\1|', 'g')") {
      case (inner, r) => s"replace($inner, p$r, q$r)"
    }
    s"""WITH $bpeTrainCtes,
       |m AS (SELECT
       |    $pairCols),
       |toks AS (SELECT doc_id, $t AS t FROM documents),
       |per AS (
       |  SELECT doc_id, CAST(len(t) AS BIGINT) AS ws_tokens,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      [CAST(len(string_split(trim($applied, '|'), '||')) AS BIGINT)
       |       for x in t]), (a,b)->a+b) AS BIGINT) AS bpe_tokens
       |  FROM toks, m)
       |SELECT doc_id, ws_tokens, bpe_tokens,
       |  bpe_tokens * 1000 // GREATEST(ws_tokens, 1) AS fertility_milli
       |FROM per""".stripMargin
  }

  /** The full Gopher-style quality rule battery (Rae et al. 2021,
    * table A1) as one map-only pass — each rule a named boolean plus
    * the conjunction, so downstream filters can audit WHICH rule
    * killed a document (the production requirement; a bare keep bit
    * hides the distribution shift each rule causes):
    *   - doc length in [8, 50000] tokens;
    *   - mean word length in [2, 12] chars (integer milli);
    *   - symbol-to-word ratio ≤ 0.1 (# and … stand in for the symbol
    *     class);
    *   - ≥70% of words contain an alphabetic char;
    *   - ≥2 stopword hits;
    *   - ≤30% of lines bullet-started / ≤20% ellipsis-ended (our
    *     corpus is single-line, so the line rules evaluate over the
    *     one line — the plumbing is what transfers).
    * All thresholds integer-milli so both engines agree exactly. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokensCol($"text")
    val n = size(toks).cast("long")
    val nAlpha = size(filter(toks, t => t.rlike("[a-zA-Z]"))).cast("long")
    val nSym = size(filter(toks, t =>
      t.startsWith("#") || t.endsWith("..."))).cast("long")
    val nStop = size(filter(toks, t => t.isInCollection(stopwords))).cast("long")
    val meanLenMilli = intDiv(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)) * 1000L,
      greatest(n, lit(1L)))
    val bulletMilli = when(trim($"text").startsWith("- ") ||
      trim($"text").startsWith("* "), 1000L).otherwise(0L)
    val ellipsisMilli = when(trim($"text").endsWith("..."), 1000L).otherwise(0L)
    Tables.load(spark, dir, "documents")
      .select($"doc_id", n.as("n_tokens"),
        meanLenMilli.as("mean_len_milli"),
        intDiv(nSym * 1000L, greatest(n, lit(1L))).as("sym_milli"),
        intDiv(nAlpha * 1000L, greatest(n, lit(1L))).as("alpha_milli"),
        nStop.as("n_stop"),
        bulletMilli.as("bullet_milli"), ellipsisMilli.as("ellipsis_milli"))
      .withColumn("r_len", $"n_tokens" >= 8L && $"n_tokens" <= 50000L)
      .withColumn("r_word_len",
        $"mean_len_milli" >= 2000L && $"mean_len_milli" <= 12000L)
      .withColumn("r_sym", $"sym_milli" <= 100L)
      .withColumn("r_alpha", $"alpha_milli" >= 700L)
      .withColumn("r_stop", $"n_stop" >= 2L)
      .withColumn("r_lines",
        $"bullet_milli" <= 300L && $"ellipsis_milli" <= 200L)
      .withColumn("keep", $"r_len" && $"r_word_len" && $"r_sym" &&
        $"r_alpha" && $"r_stop" && $"r_lines")
  }
  private val gopherOracle: String = {
    val t = tokensSql("text")
    val stop = stopwords.map(w => s"'$w'").mkString("[", ",", "]")
    s"""WITH m AS (
       |  SELECT doc_id, text,
       |    CAST(len($t) AS BIGINT) AS n,
       |    CAST(len(list_filter($t, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS na,
       |    CAST(len(list_filter($t, x ->
       |      starts_with(x, '#') OR x LIKE '%...')) AS BIGINT) AS nsym,
       |    CAST(len(list_filter($t, x -> list_contains($stop, x))) AS BIGINT) AS nstop,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform($t, x -> CAST(length(x) AS BIGINT))), (a,b)->a+b)
       |      AS BIGINT) AS chars
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, n AS n_tokens,
       |    chars * 1000 // GREATEST(n, 1) AS mean_len_milli,
       |    nsym * 1000 // GREATEST(n, 1) AS sym_milli,
       |    na * 1000 // GREATEST(n, 1) AS alpha_milli,
       |    nstop AS n_stop,
       |    CASE WHEN starts_with(trim(text), '- ')
       |      OR starts_with(trim(text), '* ') THEN 1000 ELSE 0 END AS bullet_milli,
       |    CASE WHEN trim(text) LIKE '%...' THEN 1000 ELSE 0 END AS ellipsis_milli
       |  FROM m)
       |SELECT doc_id, n_tokens, mean_len_milli, sym_milli, alpha_milli, n_stop,
       |  CAST(bullet_milli AS BIGINT) AS bullet_milli,
       |  CAST(ellipsis_milli AS BIGINT) AS ellipsis_milli,
       |  (n_tokens >= 8 AND n_tokens <= 50000) AS r_len,
       |  (mean_len_milli >= 2000 AND mean_len_milli <= 12000) AS r_word_len,
       |  (sym_milli <= 100) AS r_sym,
       |  (alpha_milli >= 700) AS r_alpha,
       |  (n_stop >= 2) AS r_stop,
       |  (bullet_milli <= 300 AND ellipsis_milli <= 200) AS r_lines,
       |  ((n_tokens >= 8 AND n_tokens <= 50000)
       |    AND (mean_len_milli >= 2000 AND mean_len_milli <= 12000)
       |    AND (sym_milli <= 100) AND (alpha_milli >= 700) AND (n_stop >= 2)
       |    AND (bullet_milli <= 300 AND ellipsis_milli <= 200)) AS keep
       |FROM d""".stripMargin
  }

  /** Temperature-based domain mixing (the α-sampling of multilingual/
    * multi-domain training, α = 0.5): a domain's sampling weight is
    * proportional to its token count RAISED TO α, flattening the
    * natural distribution so small domains are up-sampled. Integer
    * path: isqrt via floor(sqrt) (exact for counts ≪ 2^52, the same
    * device cosMilli uses), then milli weights against the isqrt sum
    * and the boost factor vs natural frequency. Scale: one tiny
    * per-domain aggregate, totals broadcast back — nothing corpus-
    * sized shuffles twice. */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perDomain = Tables.load(spark, dir, "documents")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokensCol($"text"))).cast("long").as("n_tokens"))
      .withColumn("isq",
        floor(sqrt($"n_tokens".cast("double"))).cast("long"))
    val totals = perDomain.agg(
      sum($"n_tokens").as("tot_tokens"), sum($"isq").as("tot_isq"))
    perDomain.crossJoin(broadcast(totals))
      .select($"source", $"n_docs", $"n_tokens",
        intDiv($"isq" * 1000L, $"tot_isq").as("w_milli"),
        intDiv($"n_tokens" * 1000L, $"tot_tokens").as("natural_milli"))
      .withColumn("boost_milli",
        intDiv($"w_milli" * 1000L, greatest($"natural_milli", lit(1L))))
  }
  private val mixTemperatureOracle: String = {
    val t = tokensSql("text")
    s"""WITH d AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(len($t)) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1),
       |d2 AS (
       |  SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS isq
       |  FROM d),
       |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt,
       |  CAST(SUM(isq) AS BIGINT) AS ti FROM d2)
       |SELECT source, n_docs, n_tokens,
       |  isq * 1000 // ti AS w_milli,
       |  n_tokens * 1000 // tt AS natural_milli,
       |  (isq * 1000 // ti) * 1000
       |    // GREATEST(n_tokens * 1000 // tt, 1) AS boost_milli
       |FROM d2, tot""".stripMargin
  }

  /** UniMax language budgeting (Chung et al. 2023): allocate a total
    * token budget B across languages with a per-language EPOCH CAP C —
    * ascending by size, each language gets min(C·size, fair share of
    * what remains). The sequential loop has a closed form: cappedness
    * is monotone along the ascending order (the deciding quantity
    * C·(prefix₍ᵢ₋₁₎ + sᵢ·(n-i+1)) is non-decreasing when sᵢ is
    * sorted ascending), so a window prefix-sum decides every language
    * in one pass — no driver loop. Uncapped languages split the
    * remaining budget evenly (floor division; the remainder is slack,
    * not reallocated — matching the paper's static allocation).
    * B = 3/4 of corpus tokens, C = 1 epoch (the common post-dedup
    * setting), which exercises BOTH regimes on this corpus: the four
    * small languages cap at exactly 1000 milli-epochs and `en` is
    * undersampled at the equal share. Scale: everything after the
    * per-language aggregate is arithmetic over #languages rows. */
  def unimax(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val C = 1L
    val perLang = Tables.load(spark, dir, "documents")
      .groupBy($"lang")
      .agg(sum(size(tokensCol($"text"))).cast("long").as("n_tokens"))
    val totals = perLang.agg(
      count(lit(1)).as("n"),
      intDiv(sum($"n_tokens") * 3L, lit(4L)).as("budget"))
    // ascending rank + running sum via GlobalRank/PrefixSum (the table is
    // #languages rows, but no production path gets to single-partition a
    // window — the same discipline as t_shard_balance / s16)
    val ranked = operators.PrefixSum.withRunningSum(
        operators.GlobalRank.withRank(
          perLang.crossJoin(broadcast(totals)),
          "i", $"n_tokens".asc, $"lang".asc),
        "n_tokens", "prefix", $"n_tokens".asc, $"lang".asc)
      .withColumn("capped",
        (lit(C) * ($"prefix" - $"n_tokens" + $"n_tokens" * ($"n" - $"i" + 1L))
          <= $"budget").cast("long"))
    val capStats = ranked.agg(
      sum($"capped").as("k"),
      coalesce(sum(when($"capped" === 1L, $"n_tokens")), lit(0L)).as("capsum"))
    ranked.crossJoin(broadcast(capStats))
      .withColumn("alloc_tokens",
        when($"capped" === 1L, lit(C) * $"n_tokens")
          .otherwise(intDiv($"budget" - lit(C) * $"capsum",
            greatest($"n" - $"k", lit(1L)))))
      .select($"lang", $"n_tokens", $"capped", $"alloc_tokens",
        intDiv($"alloc_tokens" * 1000L, greatest($"n_tokens", lit(1L)))
          .as("epochs_milli"))
  }
  private val unimaxOracle: String = {
    val t = tokensSql("text")
    s"""WITH perlang AS (
       |  SELECT lang, CAST(SUM(len($t)) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1),
       |g AS (SELECT COUNT(*) AS n, SUM(n_tokens) * 3 // 4 AS budget
       |  FROM perlang),
       |r AS (
       |  SELECT lang, n_tokens, n, budget,
       |    CAST(ROW_NUMBER() OVER (ORDER BY n_tokens, lang) AS BIGINT) AS i,
       |    SUM(n_tokens) OVER (ORDER BY n_tokens, lang
       |      ROWS UNBOUNDED PRECEDING) AS prefix
       |  FROM perlang, g),
       |c AS (
       |  SELECT *, CAST(
       |    1 * (prefix - n_tokens + n_tokens * (n - i + 1)) <= budget
       |    AS BIGINT) AS capped
       |  FROM r),
       |s AS (SELECT SUM(capped) AS k,
       |  COALESCE(SUM(CASE WHEN capped = 1 THEN n_tokens END), 0) AS capsum
       |  FROM c),
       |a AS (
       |  SELECT lang, n_tokens, capped,
       |    CASE WHEN capped = 1 THEN 1 * n_tokens
       |      ELSE (budget - 1 * capsum) // GREATEST(n - k, 1) END
       |      AS alloc_tokens
       |  FROM c, s)
       |SELECT lang, n_tokens, capped,
       |  CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
       |  CAST(alloc_tokens * 1000 // GREATEST(n_tokens, 1) AS BIGINT)
       |    AS epochs_milli
       |FROM a""".stripMargin
  }

  private val DsirDim = 256L // hashed n-gram feature space for t_dsir_select

  /** DSIR-style data selection (Xie et al. 2023): score every document
    * by how much its hashed unigram features look like a TARGET
    * distribution (here: the `en` slice standing in for the curated
    * target domain) relative to the RAW corpus distribution, then keep
    * the top quarter. Portable integer analog of the paper's
    * log-likelihood ratio: per feature bucket,
    * ratio_milli = 1000·(target_count+1) / (raw_count+1) (add-one
    * smoothed, floor division), and a document scores the MEAN
    * ratio_milli over its token occurrences. Selection is
    * threshold-based, the way production selectors deploy: the cutoff
    * is the highest score whose descending cumulative count reaches
    * the quota ceil(n/4), so ties at the cutoff are all admitted
    * (reported quota slack, never an arbitrary tie-break).
    * Scale: the feature dim is a 256-row broadcast; documents explode
    * once and aggregate back by doc_id with map-side partials; the
    * histogram the cutoff derives from is score-range-sized, not
    * corpus-sized. */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang", tokensCol($"text").as("t"))
      .persist() // two token passes: bucket stats + per-doc scoring
    val tok = docs.select($"doc_id", $"lang",
      explode($"t").as("w"))
      .select($"doc_id", $"lang", (wordHash($"w") % DsirDim).as("bucket"))
    val dim = tok.groupBy($"bucket").agg(
      count(lit(1)).as("r_cnt"),
      coalesce(sum(when($"lang" === "en", 1L)), lit(0L)).as("t_cnt"))
      .select($"bucket",
        intDiv(($"t_cnt" + 1L) * 1000L, $"r_cnt" + 1L).as("ratio_milli"))
    val perDoc = tok.join(broadcast(dim), "bucket")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum($"ratio_milli").as("rsum"))
      .select($"doc_id", $"n_tokens",
        intDiv($"rsum", greatest($"n_tokens", lit(1L))).as("score_milli"))
    val scored = docs.select($"doc_id").join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_tokens", lit(0L)).as("n_tokens"),
        coalesce($"score_milli", lit(0L)).as("score_milli"))
    // running count over the (score-range-sized) histogram via PrefixSum —
    // bounded here, but no production path should carry an unpartitioned
    // WindowExec even on small inputs
    val hist = operators.PrefixSum.withRunningSum(
      scored.groupBy($"score_milli").agg(count(lit(1)).as("cnt")),
      "cnt", "cum", $"score_milli".desc)
    val cutoff = hist.crossJoin(broadcast(
        scored.agg(intDiv(count(lit(1)) + 3L, lit(4L)).as("quota"))))
      .agg(max(when($"cum" >= $"quota", $"score_milli")).as("cutoff"))
    scored.crossJoin(broadcast(cutoff))
      .select($"doc_id", $"n_tokens", $"score_milli",
        ($"score_milli" >= $"cutoff").cast("long").as("selected"))
  }
  private val dsirSelectOracle: String = {
    val t = tokensSql("text")
    s"""WITH toks AS (SELECT doc_id, lang, $t AS t FROM documents),
       |tok AS (
       |  SELECT doc_id, lang, ${wordHashSql("w")} % $DsirDim AS bucket
       |  FROM (SELECT doc_id, lang, unnest(t) AS w FROM toks)),
       |dim AS (
       |  SELECT bucket,
       |    (COALESCE(SUM(CASE WHEN lang = 'en' THEN 1 END), 0) + 1) * 1000
       |      // (COUNT(*) + 1) AS ratio_milli
       |  FROM tok GROUP BY 1),
       |perdoc AS (
       |  SELECT doc_id, COUNT(*) AS n_tokens,
       |    SUM(ratio_milli) AS rsum
       |  FROM tok JOIN dim USING (bucket) GROUP BY 1),
       |scored AS (
       |  SELECT d.doc_id,
       |    CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
       |    CAST(COALESCE(rsum // GREATEST(n_tokens, 1), 0) AS BIGINT)
       |      AS score_milli
       |  FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id),
       |hist AS (
       |  SELECT score_milli, COUNT(*) AS cnt,
       |    SUM(COUNT(*)) OVER (ORDER BY score_milli DESC
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM scored GROUP BY 1),
       |q AS (SELECT (COUNT(*) + 3) // 4 AS quota FROM scored),
       |cut AS (
       |  SELECT MAX(CASE WHEN cum >= quota THEN score_milli END) AS cutoff
       |  FROM hist, q)
       |SELECT doc_id, n_tokens, score_milli,
       |  CAST(score_milli >= cutoff AS BIGINT) AS selected
       |FROM scored, cut""".stripMargin
  }

  /** Trigram stupid-backoff language model (Brants et al. 2007 — the
    * distributed n-gram LM built FOR this exact MapReduce shape), the
    * integer-exact analog of the CCNet/Wenzek perplexity filter: train
    * n-gram count tables on the training split (doc_id % 10 != 0, the
    * complement of t_split_leakage's held-out tenth) and score every
    * document by its mean per-position transition probability. Per
    * trigram position: 1000·c(w1w2w3)/c(w1w2) when the trigram was
    * seen in training, else backoff 400·c(w2w3)/c(w2) (0.4 factor,
    * milli-quantized), else add-one-smoothed unigram
    * 160·(c(w3)+1)/(N+V). All divisions floor on non-negative
    * operands, so both engines agree bit-for-bit.
    * Scale: count-table construction is one groupBy per order with
    * map-side partials (the canonical 100 TB aggregation); scoring
    * joins positions against PRE-AGGREGATED tables (one row per
    * n-gram), so Zipf skew in token frequency never concentrates a
    * partition — the hot key's count row is one row, and AQE handles
    * the probe-side imbalance. Driver traffic: zero (N and V ride a
    * broadcast scalar row). */
  def ngramLm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", tokensCol($"text").as("t"))
      .persist() // token pass feeds positions, count tables, final join
    val pos = docs
      .select($"doc_id",
        when(size($"t") >= 3,
          transform(sequence(lit(1), size($"t") - 2), i =>
            struct(element_at($"t", i).as("w1"),
              element_at($"t", i + 1).as("w2"),
              element_at($"t", i + 2).as("w3"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string,w3:string>>"))
          .as("g"))
      .select($"doc_id", explode($"g").as("g"))
      .select($"doc_id", $"g.w1", $"g.w2", $"g.w3")
    val train = docs.filter($"doc_id" % 10 =!= 0)
    val uni = train.select(explode($"t").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cu"))
    val big = train
      .select(when(size($"t") >= 2,
          transform(sequence(lit(1), size($"t") - 1), i =>
            struct(element_at($"t", i).as("w1"),
              element_at($"t", i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>")).as("g"))
      .select(explode($"g").as("g")).select($"g.w1", $"g.w2")
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
    val tri = pos.filter($"doc_id" % 10 =!= 0)
      .groupBy($"w1", $"w2", $"w3").agg(count(lit(1)).as("c3"))
    val nv = uni.agg(count(lit(1)).as("v"), sum($"cu").as("n"))
    val b12 = big.select($"w1".as("b1"), $"w2".as("b2"), $"cb".as("cb12"))
    val b23 = big.select($"w1".as("c1"), $"w2".as("c2"), $"cb".as("cb23"))
    val u2 = uni.select($"w".as("u2w"), $"cu".as("cu2"))
    val u3 = uni.select($"w".as("u3w"), $"cu".as("cu3"))
    // a train trigram's (w1,w2) is a train bigram and a train bigram's
    // w1 is a train unigram, so each branch's denominator is non-null
    val score = when($"c3".isNotNull, intDiv($"c3" * 1000L, $"cb12"))
      .when($"cb23".isNotNull, intDiv($"cb23" * 400L, $"cu2"))
      .otherwise(intDiv((coalesce($"cu3", lit(0L)) + 1L) * 160L, $"n" + $"v"))
    val perDoc = pos
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(b12, $"w1" === $"b1" && $"w2" === $"b2", "left")
      .join(b23, $"w2" === $"c1" && $"w3" === $"c2", "left")
      .join(u2, $"w2" === $"u2w", "left")
      .join(u3, $"w3" === $"u3w", "left")
      .crossJoin(broadcast(nv))
      .select($"doc_id", score.as("s"),
        $"c3".isNotNull.cast("long").as("h3"),
        ($"c3".isNull && $"cb23".isNotNull).cast("long").as("h2"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_pos"), sum($"h3").as("n_tri_hits"),
        sum($"h2").as("n_big_hits"), sum($"s").as("ssum"))
    docs.select($"doc_id").join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_pos", lit(0L)).as("n_pos"),
        coalesce($"n_tri_hits", lit(0L)).as("n_tri_hits"),
        coalesce($"n_big_hits", lit(0L)).as("n_big_hits"),
        coalesce(intDiv($"ssum", greatest($"n_pos", lit(1L))), lit(0L))
          .as("lm_milli"))
  }
  private val ngramLmOracle: String = {
    val t = tokensSql("text")
    s"""WITH toks AS (SELECT doc_id, $t AS t FROM documents),
       |pos0 AS (
       |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3 THEN
       |    [{'w1': t[i], 'w2': t[i+1], 'w3': t[i+2]} for i in range(1, len(t)-1)]
       |    ELSE [] END) AS g
       |  FROM toks),
       |p AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2, g.w3 AS w3 FROM pos0),
       |uni AS (SELECT w, COUNT(*) AS cu FROM
       |  (SELECT unnest(t) AS w FROM toks WHERE doc_id % 10 <> 0) GROUP BY 1),
       |big0 AS (
       |  SELECT unnest(CASE WHEN len(t) >= 2 THEN
       |    [{'w1': t[i], 'w2': t[i+1]} for i in range(1, len(t))]
       |    ELSE [] END) AS g
       |  FROM toks WHERE doc_id % 10 <> 0),
       |big AS (SELECT g.w1 AS w1, g.w2 AS w2, COUNT(*) AS cb FROM big0 GROUP BY 1, 2),
       |tri AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM p
       |  WHERE doc_id % 10 <> 0 GROUP BY 1, 2, 3),
       |nv AS (SELECT COUNT(*) AS v, SUM(cu) AS n FROM uni),
       |sc AS (
       |  SELECT p.doc_id,
       |    CASE WHEN c3 IS NOT NULL THEN c3 * 1000 // b12.cb
       |      WHEN b23.cb IS NOT NULL THEN b23.cb * 400 // u2.cu
       |      ELSE (COALESCE(u3.cu, 0) + 1) * 160 // (n + v) END AS s,
       |    CAST(c3 IS NOT NULL AS BIGINT) AS h3,
       |    CAST(c3 IS NULL AND b23.cb IS NOT NULL AS BIGINT) AS h2
       |  FROM p
       |  LEFT JOIN tri ON tri.w1 = p.w1 AND tri.w2 = p.w2 AND tri.w3 = p.w3
       |  LEFT JOIN big b12 ON b12.w1 = p.w1 AND b12.w2 = p.w2
       |  LEFT JOIN big b23 ON b23.w1 = p.w2 AND b23.w2 = p.w3
       |  LEFT JOIN uni u2 ON u2.w = p.w2
       |  LEFT JOIN uni u3 ON u3.w = p.w3
       |  CROSS JOIN nv),
       |per AS (SELECT doc_id, COUNT(*) AS n_pos, SUM(h3) AS n_tri_hits,
       |  SUM(h2) AS n_big_hits, SUM(s) AS ssum FROM sc GROUP BY 1)
       |SELECT t.doc_id,
       |  CAST(COALESCE(n_pos, 0) AS BIGINT) AS n_pos,
       |  CAST(COALESCE(n_tri_hits, 0) AS BIGINT) AS n_tri_hits,
       |  CAST(COALESCE(n_big_hits, 0) AS BIGINT) AS n_big_hits,
       |  CAST(COALESCE(ssum // GREATEST(n_pos, 1), 0) AS BIGINT) AS lm_milli
       |FROM toks t LEFT JOIN per ON per.doc_id = t.doc_id""".stripMargin
  }

  /** CCNet-style quality bucketing (Wenzek et al. 2020): within each
    * language, documents rank by a quality signal and split into
    * head/middle/tail TERCILES — the standard pre-training data
    * stratification (head feeds the model, tail is dropped or
    * down-weighted). Rank arithmetic: bucket = (rank-1)·3 / n, exact
    * in both engines. One shuffle by language for the rank; the
    * signal itself is map-only (lexical diversity standing in for the
    * LM perplexity, which drops in as any scored column).
    *
    * Scale note: the per-language rank window holds corpus/|langs|
    * rows — exact tercile-by-RANK is inherently a per-language global
    * order (CCNet's published design ranks per shard). The at-scale
    * relaxation is threshold-based: compute the two tercile score
    * cutoffs from the bounded (lang, score_milli) histogram (the
    * t_dsir/PrefixSum shape) and bucket by comparison — identical
    * except for documents tied exactly at a cutoff. This query keeps
    * the exact-rank semantics the oracle replays. */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val toks = tokensCol($"text")
    val n = size(toks).cast("long")
    val q = intDiv(size(array_distinct(toks)).cast("long") * 1000L,
      greatest(n, lit(1L)))
    val m = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang", q.as("q_milli"))
    val w = Window.partitionBy($"lang")
      .orderBy($"q_milli".desc, $"doc_id".asc) // best first: head = bucket 0
    m.withColumn("rank", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"lang")))
      .select($"doc_id", $"lang", $"q_milli",
        intDiv(($"rank" - 1L) * 3L, $"n").as("bucket"))
      .withColumn("bucket_name",
        when($"bucket" === 0L, "head").when($"bucket" === 1L, "middle")
          .otherwise("tail"))
  }
  private val ccnetBucketsOracle: String = {
    val t = tokensSql("text")
    s"""WITH m AS (
       |  SELECT doc_id, lang,
       |    CAST(len(list_distinct($t)) AS BIGINT) * 1000
       |      // GREATEST(CAST(len($t) AS BIGINT), 1) AS q_milli
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, lang, q_milli,
       |    ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY q_milli DESC, doc_id ASC) AS rank,
       |    COUNT(*) OVER (PARTITION BY lang) AS n
       |  FROM m)
       |SELECT doc_id, lang, q_milli,
       |  (rank - 1) * 3 // n AS bucket,
       |  CASE (rank - 1) * 3 // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
       |    ELSE 'tail' END AS bucket_name
       |FROM r""".stripMargin
  }

  /** The dataset-card roll-up: the one-row corpus summary every
    * released dataset ships (docs, tokens, language/source
    * cardinalities, exact-duplicate rate, mean lexical diversity) —
    * ONE pass of map-side-combined aggregates; the fingerprint
    * distinct-count is the only corpus-keyed aggregation and it
    * shuffles 8-byte keys. */
  /** Hierarchical dataset card: token/doc counts at every level of the
    * (source, lang) hierarchy in ONE pass via ROLLUP — per-(source,
    * lang) cells, per-source subtotals, and the grand total, with the
    * rolled-up levels labelled 'ALL'. Catalyst expands the grouping
    * sets inside a single aggregation (one shuffle, not three
    * queries); DuckDB's ROLLUP replays it exactly. */
  def rollupCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"source", $"lang", size(tokensCol($"text")).cast("long").as("n"))
      .rollup($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n").cast("long").as("n_tokens"))
      .select(coalesce($"source", lit("ALL")).as("source"),
        coalesce($"lang", lit("ALL")).as("lang"),
        $"n_docs", $"n_tokens")
  }
  private val rollupCardOracle: String = {
    val t = tokensSql("text")
    s"""SELECT COALESCE(source, 'ALL') AS source,
       |  COALESCE(lang, 'ALL') AS lang,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(len($t)) AS BIGINT) AS n_tokens
       |FROM documents GROUP BY ROLLUP(source, lang)""".stripMargin
  }

  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokensCol($"text")
    val n = size(toks).cast("long")
    val m = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang", $"source", n.as("n"),
        intDiv(size(array_distinct(toks)).cast("long") * 1000L,
          greatest(n, lit(1L))).as("q_milli"),
        docFingerprint(toks).as("fp"))
    m.agg(
      count(lit(1)).as("n_docs"),
      sum($"n").cast("long").as("n_tokens"),
      countDistinct($"lang").as("n_langs"),
      countDistinct($"source").as("n_sources"),
      ((count(lit(1)) - countDistinct($"fp")) * 1000L).as("dx"),
      intDiv(sum($"q_milli"), count(lit(1))).as("mean_q_milli"))
      .select($"n_docs", $"n_tokens", $"n_langs", $"n_sources",
        intDiv($"dx", $"n_docs").as("dup_milli"), $"mean_q_milli")
  }
  private val datasetCardOracle: String = {
    val t = tokensSql("text")
    s"""WITH m AS (
       |  SELECT doc_id, lang, source,
       |    CAST(len($t) AS BIGINT) AS n,
       |    CAST(len(list_distinct($t)) AS BIGINT) * 1000
       |      // GREATEST(CAST(len($t) AS BIGINT), 1) AS q_milli,
       |    ${docFingerprintSql(tokensSql("text"))} AS fp
       |  FROM documents)
       |SELECT COUNT(*) AS n_docs,
       |  CAST(SUM(n) AS BIGINT) AS n_tokens,
       |  COUNT(DISTINCT lang) AS n_langs,
       |  COUNT(DISTINCT source) AS n_sources,
       |  (COUNT(*) - COUNT(DISTINCT fp)) * 1000 // COUNT(*) AS dup_milli,
       |  CAST(SUM(q_milli) AS BIGINT) // COUNT(*) AS mean_q_milli
       |FROM m""".stripMargin
  }

  /** Document-length histogram in power-of-2 buckets — the length
    * panel of the dataset card (sequence-length planning, packing
    * efficiency, truncation loss all read off it). Bucket =
    * floor(log2(n)) computed as the binary digit count minus one —
    * integer-exact in both engines (no float log); map-side-combined
    * groupBy over at most ~40 buckets. */
  def lengthDist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = size(tokensCol($"text")).cast("long")
    val bucket = when(n > 0L, length(bin(n)).cast("long") - 1L)
      .otherwise(lit(-1L))
    Tables.load(spark, dir, "documents")
      .select(bucket.as("log2_bucket"), n.as("n"))
      .groupBy($"log2_bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"n").cast("long").as("n_tokens"),
        min($"n").as("min_len"), max($"n").as("max_len"))
  }
  private val lengthDistOracle: String = {
    val t = tokensSql("text")
    s"""WITH m AS (SELECT CAST(len($t) AS BIGINT) AS n FROM documents)
       |SELECT CASE WHEN n > 0 THEN CAST(length(bin(n)) AS BIGINT) - 1
       |    ELSE -1 END AS log2_bucket,
       |  COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens,
       |  MIN(n) AS min_len, MAX(n) AS max_len
       |FROM m GROUP BY 1""".stripMargin
  }

  /** The k-anonymity release audit for a training-data drop: group the
    * corpus by its quasi-identifier tuple (language, source, length
    * bucket) and flag every group smaller than k=5 for suppression —
    * the standard pre-release governance check next to t_pii_scrub.
    * One groupBy on a bounded key domain, map-side partial aggregation;
    * at 100 TB the result is the (tiny) group census, never the rows. */
  def kanonAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val K = 5L
    Tables.load(spark, dir, "documents")
      .groupBy($"lang", $"source",
        intDiv($"n_chars", lit(500L)).as("len_bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("status",
        when($"n_docs" < K, "suppress").otherwise("ok"))
  }
  private val kanonAuditOracle: String =
    """SELECT lang, source, n_chars // 500 AS len_bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CASE WHEN COUNT(*) < 5 THEN 'suppress' ELSE 'ok' END AS status
      |FROM documents GROUP BY 1, 2, 3""".stripMargin

  /** The l-diversity companion to t_kanon_audit: within each
    * quasi-identifier group (source, length bucket), the sensitive
    * attribute (language) must take at least l=2 distinct values —
    * a small k-anonymous group that is language-homogeneous still
    * leaks its members' language. Exact COUNT(DISTINCT) per bounded
    * group (expand + two-level aggregate under the hood). */
  def ldiversityAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .groupBy($"source", intDiv($"n_chars", lit(500L)).as("len_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"lang").as("l_distinct"))
      .withColumn("status",
        when($"l_distinct" < 2, "homogeneous").otherwise("ok"))
  }
  private val ldiversityAuditOracle: String =
    """SELECT source, n_chars // 500 AS len_bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS l_distinct,
      |  CASE WHEN COUNT(DISTINCT lang) < 2 THEN 'homogeneous'
      |    ELSE 'ok' END AS status
      |FROM documents GROUP BY 1, 2""".stripMargin

  override def register(): Unit = {
    Queries.register(QueryDef("t_kanon_audit", kanonAudit, Some(kanonAuditOracle)))
    Queries.register(QueryDef("t_ldiversity_audit", ldiversityAudit,
      Some(ldiversityAuditOracle)))
    Queries.register(QueryDef("t_dataset_card", datasetCard, Some(datasetCardOracle)))
    Queries.register(QueryDef("t_rollup_card", rollupCard, Some(rollupCardOracle)))
    Queries.register(QueryDef("t_length_dist", lengthDist, Some(lengthDistOracle)))
    Queries.register(QueryDef("t_ngram_lm", ngramLm, Some(ngramLmOracle)))
    Queries.register(QueryDef("t_ccnet_buckets", ccnetBuckets, Some(ccnetBucketsOracle)))
    Queries.register(QueryDef("t_mix_temperature", mixTemperature, Some(mixTemperatureOracle)))
    Queries.register(QueryDef("t_unimax", unimax, Some(unimaxOracle)))
    Queries.register(QueryDef("t_dsir_select", dsirSelect, Some(dsirSelectOracle)))
    Queries.register(QueryDef("t_gopher_rules", gopherRules, Some(gopherOracle)))
    Queries.register(QueryDef("t_bpe_train", bpeTrain, Some(bpeTrainOracle)))
    Queries.register(QueryDef("t_bpe_apply", bpeApply, Some(bpeApplyOracle)))
    Queries.register(QueryDef("t_domain_filter", domainFilter, Some(domainFilterOracle)))
    Queries.register(QueryDef("t_profile", profile, None))
    Queries.register(QueryDef("t_classifier_score", classifierScore, Some(classifierOracle)))
    Queries.register(QueryDef("t_bpe_tokens", bpeTokens, Some(bpeOracle)))
    Queries.register(QueryDef("t_profile_exact", profileExact, Some(profileExactOracle)))
    Queries.register(QueryDef("t_cms_counts", cmsCounts, Some(cmsCountsOracle)))
    Queries.register(QueryDef("t_hll_counts", hllCounts, Some(hllCountsOracle)))
    Queries.register(QueryDef("t_threshold_sweep", thresholdSweep,
      Some(thresholdSweepOracle)))
    Queries.register(QueryDef("t_token_count", tokenCount, Some(tokenCountOracle)))
    Queries.register(QueryDef("t_lang_id", langId, Some(langIdOracle)))
    Queries.register(QueryDef("t_quality_score", qualityScore, Some(qualityOracle)))
    Queries.register(QueryDef("t_fingerprint", fingerprint, Some(fingerprintOracle)))
    Queries.register(QueryDef("t_rep_ratio", repRatio, Some(repRatioOracle)))
    Queries.register(QueryDef("t_pii_scrub", piiScrub, Some(piiScrubOracle)))
    Queries.register(QueryDef("t_pack_chunks", packChunks, Some(packChunksOracle)))
    Queries.register(QueryDef("t_bigram_novelty", bigramNovelty, Some(bigramNoveltyOracle)))
    Queries.register(QueryDef("t_stratified_sample", stratifiedSample,
      Some(stratifiedSampleOracle)))
    Queries.register(QueryDef("t_weighted_sample", weightedSample,
      Some(weightedSampleOracle)))
  }
}
