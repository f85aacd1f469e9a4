package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents`/`embeddings` — the core
  * training-data-pipeline surface (generalizes the reference's identity
  * resolution: name/URI reconciliation `pipeline/process/base/reconciler.py`
  * is exact-key dedup; MinHash-LSH is its fuzzy analog at corpus scale).
  *
  * Scale design: every signature (fingerprint, minhash vector, simhash) is
  * computed map-side per row with codegen'd higher-order functions — no
  * shuffle until the LSH band join, which shuffles only (band_idx, hash,
  * doc_id) tuples, never documents. Candidate verification joins back the
  * (small) shingle-id arrays by doc_id. At 100 TB the band join is the only
  * wide stage and is uniformly hash-partitioned. Skew defenses on that
  * stage (both implemented, both replayed exactly by the oracles):
  *   - hot-band CAP: a band bucket larger than `BandCap` docs is a
  *     boilerplate cluster (empty docs, license headers); its quadratic
  *     candidate set is noise, so the bucket is dropped — other bands
  *     still recover genuinely similar pairs (the standard production
  *     guard, cf. Spark's own MinHashLSH + Google's near-dup papers);
  *   - SALT: the surviving self-join is salted (left side hashed into
  *     `BandSalt` sub-keys, right side replicated) so one hot bucket
  *     spreads over `BandSalt` reducers instead of one straggler. Pure
  *     repartitioning — pair set provably unchanged.
  *
  * The set-similarity join the MinHash keys share (shingle index, hot-
  * bucket cap, asymmetric band probe, exact-Jaccard verify behind the
  * candidate barrier) is written once, in [[Lsh]]; d2, d4, d8, d11-d13,
  * d19, the corpus pipeline and refresh, and st8/st8c run on it.
  *
  * Hash arithmetic is mod 2^31-1 polynomial folding so the DuckDB oracle
  * reproduces results bit-for-bit (validated).
  */
object DedupQueries extends QueryGroup {
  import TextQueries.{HashP => P, tokensCol, tokensSql, wordHash, intDiv,
    docFingerprint, docFingerprintSql}

  /** Deterministic per-permutation constants for minhash/simhash —
    * shared with the codegen vector expressions (functions.VecMath). */
  val K = 16
  val SimK = 64
  def aj(j: Int): Long = functions.VecMath.aj(j)
  def bj(j: Int): Long = functions.VecMath.bj(j)

  /** Hot-band guard DEFAULT: a single (band_idx, band_hash) bucket
    * holding more docs than this is dropped from candidate generation
    * (quadratic boilerplate cluster, see header). Sized so one bucket
    * contributes at most ~BandCap^2/2 ≈ 0.5M candidate rows. The DuckDB
    * oracles interpolate THIS value, so the correctness gate always
    * runs the default.
    *
    * CONFIRMED at 1024 by the round-16 ladder (its committed result:
    * plans/stress/STRESS_bandcap_r16.json): planted genuine-near-dup clusters of
    * {20,100,400,1600,6400} members (expected band occupancies
    * {16,80,320,1280,5120}) swept over caps {64,256,1024,4096,
    * uncapped}. Measured per rung (candidate-pair mass / peak exec
    * mem / per-tier recall‰): 64 → 153k/1.2GB; 256 → 603k/4.2GB;
    * 1024 → 2.2M/6.1GB with FULL recall through 400-member clusters
    * (and 492/410‰ on the 1600/6400 tiers — straddling buckets
    * survive in some bands); 4096 → 7.2M/7.7GB; uncapped →
    * 27.2M/9.8GB. Zero false pairs at every rung. Mass grows ~3.5×
    * per rung — the clique-quadratic term the guard exists to bound —
    * while recall loss falls only on super-cap cliques, which are
    * exact-dedup's job upstream (t_corpus's stage ordering). The
    * default keeps everything a genuine near-dup cluster plausibly
    * sized at 100 TB and caps the boilerplate class; a 12× mass bound
    * below uncapped at this ladder's scale. */
  val BandCap = 1024L

  /** Session override for the hot-band guard: `spark.graft.bandCap`.
    * A POLICY knob, not a tuning knob — lowering it changes which
    * pairs the LSH contract emits (every bucket above the cap goes
    * dead), exactly like the streaming NeardupCapC. Why it exists: the
    * round-16 sf100 probe measured the one-point default's adversarial
    * edge — 1000-copy identical-text cliques sit just UNDER 1024, so
    * no bucket of theirs was dropped and the verify mass was
    * C(1000,2)×5000 ≈ 2.5e9 pairs, 30× wall at a 10× data step
    * (plans/stress/STRESS_sf100_r16.json); at cap 256 those buckets go dead and the
    * run is near-linear (plans/stress/STRESS_sf100_r16_cap256.json). The ladder
    * placing the default is committed as plans/stress/STRESS_bandcap_r16.json.
    * Deployments with exact-dedup-first composition (t_corpus's
    * ordering) keep the default; a pipeline that must run LSH over
    * un-collapsed corpora lowers it. */
  private[graft] def bandCap(spark: org.apache.spark.sql.SparkSession): Long = {
    val key = "spark.graft.bandCap"
    spark.conf.getOption(key).map { v =>
      val n = try v.toLong catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$key must be a positive long, got '$v'") }
      require(n > 0, s"$key must be a positive long, got '$v'")
      // the guard only examines buckets larger than SaltAt, so a cap
      // below it would silently never fire on sub-SaltAt buckets —
      // reject rather than half-apply
      require(n >= SaltAt,
        s"$key ($n) must be >= the salt threshold SaltAt ($SaltAt)")
      n
    }.getOrElse(BandCap)
  }

  /** Salt fan-out for the band self-join (header). */
  val BandSalt = 8

  /** Buckets up to this size join unsalted — salting replicates the right
    * side BandSalt×, which is pure overhead when no bucket is big enough
    * to straggle a reducer. Only the (rare) buckets in (SaltAt, BandCap]
    * pay the replication. */
  val SaltAt = 64L

  /** Salted band self-join on equal buckets with doc_id inequality
    * pairing: left side keyed by hash(doc_id) % BandSalt, right side
    * replicated to every salt — every (a<b) pair survives exactly once
    * per matching bucket, but a hot bucket's work is spread over
    * BandSalt reducers. */
  private[graft] def saltedSelfJoin(rows: DataFrame): DataFrame = {
    val a = rows.withColumn("salt", pmod(hash(col("doc_id")), lit(BandSalt)))
    val b = rows.withColumn("salt",
      explode(sequence(lit(0), lit(BandSalt - 1)).cast("array<int>")))
    a.as("a").join(b.as("b"), bandPairCond(Lsh.Keys :+ "salt"))
  }

  /** Null-safe equality on `keys` between aliases `a` and `b`, with the
    * `<`-ordered doc_id pairing of the band self-joins. */
  private def bandPairCond(keys: Seq[String]): Column =
    keys.map(k => col(s"a.$k") <=> col(s"b.$k")).reduce(_ && _) &&
      col("a.doc_id") < col("b.doc_id")

  /** Cumulative count of band buckets dropped by BandCap in this JVM —
    * StressSweep snapshots it per query, so guard engagement lands in
    * the STRESS artifact as a number, not just a log line. */
  private[graft] val guardDropCount =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** The three-regime guarded band self-join (header) over (doc_id,
    * band_idx, band_hash) rows: buckets > BandCap dropped, buckets in
    * (SaltAt, BandCap] salted, the rest plain. All regime decisions are
    * made on a localCheckpointed tiny count table feeding broadcasts.
    * Returns distinct `<`-ordered pairs as columns `doc_a`/`doc_b` plus
    * `{c}_a`/`{c}_b` for every `carry` column. */
  private[graft] def guardedBandPairs(bandRows: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val keys = Lsh.Keys
    val cap = bandCap(bandRows.sparkSession)
    val counts = Lsh.sizes(bandRows)
      .filter(col("n") > SaltAt) // only oversize buckets matter downstream
      // LAZY checkpoint (r18, guide §1.2): the classify scalar below is
      // the first action and materializes it, so the guard's driver
      // prologue is ONE job, not an eager-checkpoint job plus a scalar
      // job; the broadcasts under the regime joins still read the
      // checkpointed blocks without recomputing the count aggregate
      .localCheckpoint(eager = false) // tiny; feeds two broadcasts
    // ONE scalar job classifies the guard regimes (r17: this used to be
    // a hot-only count; folding both class counts into one aggregate
    // lets the common all-small corpus skip every guard join below)
    val cls = counts.agg(
      count(when(Lsh.isHot(cap), 1)).as("nHot"),
      count(when(!Lsh.isHot(cap), 1)).as("nBig")).head()
    val (nHot, nBig) = (cls.getLong(0), cls.getLong(1))
    if (nHot > 0) {
      guardDropCount.addAndGet(nHot)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"guardedBandPairs: dropping $nHot band buckets larger than $cap docs")
    }
    val outCols = Seq(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")) ++
      carry.flatMap(c => Seq(col(s"a.$c").as(s"${c}_a"), col(s"b.$c").as(s"${c}_b")))
    val cond = bandPairCond(keys)
    // regime fast paths (r17, guide §1.2): the counts are already on
    // the driver, so prune the guard joins the data cannot need —
    // provably identical output (an anti-join against an EMPTY hot/big
    // set is the identity; an empty bigRows makes saltedPairs empty).
    // The common healthy-corpus case (no bucket above SaltAt) becomes
    // ONE self-join with zero broadcast builds; the full three-regime
    // machinery engages exactly when oversize buckets exist.
    val hot = counts.filter(Lsh.isHot(cap)).select(keys.map(col): _*)
    val big = counts.filter(!Lsh.isHot(cap)).select(keys.map(col): _*)
    val capped = Lsh.dropHot(bandRows, Option.when(nHot > 0)(hot))
    if (nBig == 0) {
      capped.as("a").join(capped.as("b"), cond).select(outCols: _*).distinct()
    } else {
      val smallRows = capped.join(broadcast(big), keys, "left_anti")
      val bigRows = capped.join(broadcast(big), keys, "left_semi")
      val plainPairs = smallRows.as("a").join(smallRows.as("b"), cond)
        .select(outCols: _*)
      val saltedPairs = saltedSelfJoin(bigRows).select(outCols: _*)
      plainPairs.union(saltedPairs).distinct()
    }
  }

  // ------------------------------------------------------------ helpers

  /** Distinct word-3-gram shingle ids from a PRE-PROJECTED token-hash
    * column `h`: combine neighbor hashes arithmetically.
    *
    * `h` MUST be a materialized column reference, never an inline
    * expression: Spark re-evaluates non-attribute subtrees referenced
    * inside a higher-order-function lambda once PER ELEMENT (no CSE
    * across lambda boundaries), turning O(tokens) into O(tokens^2) per
    * row — measured 150 s vs 1 s on 5k docs at sf0.1. */
  private def shingleIdsFrom(h: Column): Column =
    when(size(h) >= 3,
      array_distinct(transform(sequence(lit(1), size(h) - 2), i =>
        ((element_at(h, i) * 131L + element_at(h, i + 1)) % P * 131L +
          element_at(h, i + 2)) % P)))
      .otherwise(array().cast("array<long>"))

  private def shingleIdsSql: String = {
    val wh = s"list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(unicode(w[k]) AS BIGINT) for k in range(1, len(w)+1)]), (a,b) -> (a*31+b) % $P)"
    s"""CASE WHEN len(t) >= 3 THEN list_distinct([
       |      ((h[i]*131 + h[i+1]) % $P * 131 + h[i+2]) % $P
       |      for i in range(1, len(t)-1) ])
       |    ELSE CAST([] AS BIGINT[]) END""".stripMargin
  }
  /** SQL prelude computing per-token hashes `h` from tokens `t`. */
  private def tokenHashesSql: String = {
    val wh = s"list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(unicode(w[k]) AS BIGINT) for k in range(1, len(w)+1)]), (a,b) -> (a*31+b) % $P)"
    s"list_transform(t, w -> $wh)"
  }

  // ------------------------------------------------------------ queries

  /** Exact dedup: hash-groupBy on an order-insensitive content signature
    * (rolling hash of the sorted token stream). The distributed exact-dup
    * primitive: one shuffle on a 8-byte key regardless of document size. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id",
        docFingerprint(array_sort(tokensCol($"text"))).as("content_key"))
      .groupBy($"content_key")
      .agg(min($"doc_id").as("canonical_doc"), count(lit(1)).as("n_docs"))
  }
  private val exactDedupOracle: String = {
    val t = tokensSql("text")
    s"""SELECT ${docFingerprintSql(s"list_sort($t)")} AS content_key,
       |  MIN(doc_id) AS canonical_doc, COUNT(*) AS n_docs
       |FROM documents GROUP BY 1""".stripMargin
  }

  /** The set-similarity kernel of the near-dup family, written once:
    * the build-once, probe-many index of *Incremental Based Framework
    * for Efficient Top-K Similarity Search* (EDBT 2020). Four parts:
    *   - index: `shingles` (the persisted shingle table), `nz`, `bands`;
    *   - hot-bucket cap: `sizes`, `isHot`, `hot`, `dropHot`, `capped`;
    *   - asymmetric probe: `probe`, new band rows against a reference;
    *   - verify: `verify` / `jaccard` behind the candidate `barrier`.
    * Each caller keeps its own cap domain: d12 caps the bench bands
    * only, d8 and t_incremental_refresh cap all bands, st8c caps the
    * corpus bands at NeardupCapC, and d2/d11 go through the three-regime
    * [[guardedBandPairs]]. */
  private[graft] object Lsh {
    /** The band-bucket key of every band row. */
    val Keys = Seq("band_idx", "band_hash")

    /** The persisted (doc_id, sid) shingle table of a (doc_id, text)
      * frame. Persist BEFORE filtering, and filter only above this cache
      * (through `nz`): a `size(sid)` predicate below it is pushed down
      * through the alias chain and re-runs the per-element shingle
      * lambdas documented on shingleIdsFrom — measured 94 s vs 4 s on
      * the sf1 stress corpus (st8b) and 21 s vs 5 s at sf0.1
      * (t_source_overlap). The cache also serves the band index and
      * both verify joins. */
    def shingles(docs: DataFrame): DataFrame = shingleTableOf(docs).persist()
    def shingles(spark: SparkSession, dir: String): DataFrame =
      shingles(Tables.load(spark, dir, "documents"))

    /** The non-empty rows of a shingle table: the ones the index holds. */
    def nz(sids: DataFrame): DataFrame = sids.filter(size(col("sid")) > 0)

    /** The (doc_id, band_idx, band_hash) LSH index rows of a non-empty
      * shingle table — the on-disk index-build stage at 100 TB. */
    def bands(base: DataFrame): DataFrame = {
      // all K permutation minima in ONE codegen pass (minhash_sig) —
      // K interpreted array_min(transform(...)) folds per row otherwise
      val m = col("m")
      val bandCols = (0 until K / 2).map(b =>
        struct(lit(b).as("band_idx"),
          ((element_at(m, 2 * b + 1) * 131L + element_at(m, 2 * b + 2)) % P)
            .as("band_hash")))
      base.select(col("doc_id"), functions.VecMath.minhashCol(col("sid"), K).as("m"))
        .select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
        .select(col("doc_id"), col("band.band_idx"), col("band.band_hash"))
    }

    /** Per-bucket occupancy `n` of band rows. */
    def sizes(bands: DataFrame): DataFrame =
      bands.groupBy(Keys.map(col): _*).agg(count(lit(1)).as("n"))

    /** A bucket of occupancy `n` is hot above `cap` — the oracles'
      * `HAVING COUNT(*) > cap`: a bucket of exactly `cap` rows stays. */
    def isHot(cap: Long): Column = col("n") > cap

    /** The (band_idx, band_hash) buckets of `bands` holding more than
      * `cap` rows. */
    def hot(bands: DataFrame, cap: Long): DataFrame =
      sizes(bands).filter(isHot(cap)).select(Keys.map(col): _*)

    /** `bands` without the rows of the (small, broadcast) hot set. */
    def dropHot(bands: DataFrame, hot: Option[DataFrame]): DataFrame =
      hot.fold(bands)(h => bands.join(broadcast(h), Keys, "left_anti"))

    /** `bands` with its own hot buckets dropped. */
    def capped(bands: DataFrame, cap: Long): DataFrame =
      dropHot(bands, Some(hot(bands, cap)))

    /** Asymmetric probe: the `probe` band rows (alias `n`) joined to the
      * reference index `ref` (alias `o`) on the bucket and `on`; returns
      * the distinct candidate pairs `a`, `b`. Shuffle follows the probe
      * side and the index, never a self-join of the corpus. */
    def probe(probe: DataFrame, ref: DataFrame, on: Column = lit(true))(
        a: Column, b: Column): DataFrame =
      probe.as("n")
        .join(ref.as("o"),
          Keys.map(k => col(s"n.$k") === col(s"o.$k")).reduce(_ && _) && on)
        .select(a, b).distinct()

    /** Materialization barrier in front of a candidate verify: candidate
      * pairs are tiny next to the corpus, and fusing signatures, band
      * join and verify into one whole-stage-codegen tree makes Catalyst
      * inline the minhash expression forest into every downstream
      * operator (measured 126 s vs 2 s at sf0.1). Real LSH pipelines
      * persist the candidate table at this point anyway. */
    def barrier(cand: DataFrame): DataFrame = cand.localCheckpoint()

    /** Exact verify of a two-column candidate frame (a, b) of doc ids:
      * each id joins its `sid` array (`a` from `sids`, `b` from `refSids`
      * when given), behind the [[barrier]]. Returns (a, b, inter, small,
      * jacc_milli): the intersection size, the smaller set's size and
      * the integer per-mille Jaccard. */
    def verify(cand: DataFrame, sids: DataFrame,
        refSids: Option[DataFrame] = None): DataFrame = {
      val Array(a, b) = cand.columns
      val (sa, sb) = (col("sid_a"), col("sid_b"))
      val inter = size(array_intersect(sa, sb)).cast("long")
      barrier(cand)
        .join(sids.select(col("doc_id").as(a), col("sid").as("sid_a")), a)
        .join(refSids.getOrElse(sids).select(col("doc_id").as(b), col("sid").as("sid_b")), b)
        .select(col(a), col(b), inter.as("inter"),
          least(size(sa), size(sb)).cast("long").as("small"),
          intDiv(inter * 1000L, size(array_union(sa, sb)).cast("long")).as("jacc_milli"))
    }

    /** The pairs of `cand` whose exact Jaccard is at least `min` per
      * mille, as (a, b, jacc_milli). */
    def jaccard(cand: DataFrame, sids: DataFrame, min: Long,
        refSids: Option[DataFrame] = None): DataFrame = {
      val Array(a, b) = cand.columns
      verify(cand, sids, refSids).select(a, b, "jacc_milli")
        .filter(col("jacc_milli") >= min)
    }
  }

  /** MinHash + LSH near-dup: per-doc 16-permutation minhash signature
    * (map-side), 8 bands x 2 rows -> band-bucket join for candidates,
    * exact Jaccard verification, keep pairs >= 0.8. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashVerified(Lsh.nz(Lsh.shingles(spark, dir)))

  /** Shingle table over an arbitrary (doc_id, text) frame. Build it
    * through [[Lsh.shingles]], which persists it. */
  private def shingleTableOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", transform(tokensCol($"text"), wordHash(_)).as("h"))
      .select($"doc_id", shingleIdsFrom($"h").as("sid"))
  }

  /** LSH band join + exact-Jaccard verification over a non-empty view of
    * a persisted shingle table: d2, the split-leakage audit and the
    * corpus pipeline. */
  private[graft] def minhashVerified(base: DataFrame): DataFrame = {
    // the LSH band index is materialized once (at 100 TB this is the
    // on-disk index-build stage) — the guard's count and joins read it
    val bandRows = Lsh.bands(base).persist()
    Lsh.jaccard(guardedBandPairs(bandRows), base, 800L)
  }
  /** The d2 oracle pipeline as a reusable CTE chain ending in `pairs`
    * (doc_a, doc_b, jacc_milli with jacc >= 800) — shared by the d2/d6/
    * d8/d11 oracles and the st8 streaming-admission oracle (which reads
    * the uncapped `bandrows0` + `base` prefix). */
  private[graft] def minhashPairsCtes: String =
    s"""${bandRowsCtes("bandrows0")},
       |hot AS (
       |  SELECT band_idx, band_hash FROM bandrows0
       |  GROUP BY 1, 2 HAVING COUNT(*) > $BandCap),
       |bandrows AS (
       |  SELECT * FROM bandrows0 r
       |  WHERE NOT EXISTS (SELECT 1 FROM hot h
       |    WHERE h.band_idx = r.band_idx AND h.band_hash = r.band_hash)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bandrows a JOIN bandrows b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |   AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(sa.sid, sb.sid)) AS BIGINT) * 1000
       |      // CAST(len(list_distinct(list_concat(sa.sid, sb.sid))) AS BIGINT) AS jacc_milli
       |  FROM cand
       |  JOIN base sa ON sa.doc_id = doc_a
       |  JOIN base sb ON sb.doc_id = doc_b
       |  WHERE CAST(len(list_intersect(sa.sid, sb.sid)) AS BIGINT) * 1000
       |      // CAST(len(list_distinct(list_concat(sa.sid, sb.sid))) AS BIGINT) >= 800)""".stripMargin

  /** The oracle index chain: shingles (`shing`), the non-empty `base`,
    * and the uncapped band rows as CTE `name`. */
  private def bandRowsCtes(name: String): String = {
    val mh = (0 until K).map(j =>
      s"list_min(list_transform(sid, s -> (${aj(j)}*s + ${bj(j)}) % $P)) AS m$j").mkString(",\n  ")
    val bands = (0 until K / 2).map(b =>
      s"((m${2 * b}*131 + m${2 * b + 1}) % $P) AS band$b").mkString(", ")
    val bandRows = (0 until K / 2).map(b =>
      s"SELECT doc_id, $b AS band_idx, band$b AS band_hash FROM bandsig").mkString("\nUNION ALL\n")
    s"""toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
       |th AS (SELECT doc_id, t, $tokenHashesSql AS h FROM toks),
       |shing AS (SELECT doc_id, $shingleIdsSql AS sid FROM th),
       |base AS (SELECT doc_id, sid FROM shing WHERE len(sid) > 0),
       |sigs AS (SELECT doc_id, $mh FROM base),
       |bandsig AS (SELECT doc_id, $bands FROM sigs),
       |$name AS ($bandRows)""".stripMargin
  }

  /** The oracles' per-mille Jaccard of the `sa`/`sb` shingle sets. */
  private[graft] def jaccSql: String =
    """CAST(len(list_intersect(sa.sid, sb.sid)) AS BIGINT) * 1000
      |    // CAST(len(list_distinct(list_concat(sa.sid, sb.sid))) AS BIGINT)""".stripMargin

  private val minhashOracle: String =
    s"""WITH $minhashPairsCtes
       |SELECT doc_a, doc_b, jacc_milli FROM pairs""".stripMargin

  /** SimHash: 64-bit tf-weighted fingerprint per doc (map-side), 4×16-bit
    * band blocking join, near-partner count at hamming <= 2. Compact
    * per-doc output (pairs stay internal — the corpus is dense in
    * near-dups).
    *
    * Scale shape: 16-bit bands give 65,536 bucket values per band (256
    * was quadratic at corpus scale), and the band join goes through the
    * same three-regime guardedBandPairs as d2 — hot buckets above
    * BandCap (boilerplate fingerprints: empty docs, templated text hash
    * identically) are dropped, mid-size buckets salted. The oracle
    * replays the banding and the cap exactly. */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.load(spark, dir, "documents")
      .select($"doc_id", transform(tokensCol($"text"), wordHash(_)).as("ids"))
      .filter(size($"ids") > 0)
    // all 64 vote bits in ONE codegen pass (HOFs are interpreted and
    // would run 64 per-element lambda folds per row)
    val fps = ids
      .select($"doc_id", functions.VecMath.simhashCol($"ids", SimK).as("fp"))
      .persist() // band fan-out + final left join read this
    val bandCols = (0 until 4).map(b =>
      struct(lit(b).as("band_idx"),
        shiftright($"fp", 16 * b).bitwiseAND(65535L).as("band_hash")))
    val bandRows = fps.select($"doc_id", $"fp", explode(array(bandCols: _*)).as("band"))
      .select($"doc_id", $"fp", $"band.band_idx", $"band.band_hash")
    val pairs = guardedBandPairs(bandRows, carry = Seq("fp"))
      .select($"doc_a", $"doc_b", bit_count($"fp_a".bitwiseXOR($"fp_b")).as("ham"))
      .filter($"ham" <= 2)
    // per-doc partner counts: each `<`-ordered pair counts for both ends
    val near = pairs.select($"doc_a".as("doc_id"))
      .union(pairs.select($"doc_b".as("doc_id")))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_near"))
    fps.join(near, Seq("doc_id"), "left")
      .select($"doc_id", $"fp", coalesce($"n_near", lit(0L)).as("n_near"))
  }
  private val simhashOracle: String = {
    val whash = s"list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(unicode(w[k]) AS BIGINT) for k in range(1, len(w)+1)]), (a,b) -> (a*31+b) % $P)"
    val votes = (0 until SimK).map(j =>
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(ids, x -> ((${aj(j)}*x+${bj(j)}) % $P) % 2 * 2 - 1)), (a,b)->a+b) AS v$j").mkString(",\n  ")
    // bit 63 is the BIGINT sign bit: spell MinValue without a bare
    // 9223372036854775808 literal (which DuckDB would parse as HUGEINT)
    def bitLit(j: Int): String =
      if (j == 63) "(-9223372036854775807 - 1)" else (1L << j).toString
    val fp = (0 until SimK).map(j => s"(CASE WHEN v$j > 0 THEN ${bitLit(j)} ELSE 0 END)").mkString(" + ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, fp, $b AS band_idx, (fp >> ${16 * b}) & 65535 AS band_hash FROM fps").mkString("\nUNION ALL\n")
    s"""WITH ids AS (
       |  SELECT doc_id, list_transform(${tokensSql("text")}, w -> $whash) AS ids
       |  FROM documents),
       |sv AS (SELECT doc_id, $votes FROM ids WHERE len(ids) > 0),
       |fps AS (SELECT doc_id, CAST($fp AS BIGINT) AS fp FROM sv),
       |bandrows0 AS ($bandRows),
       |hot AS (
       |  SELECT band_idx, band_hash FROM bandrows0
       |  GROUP BY 1, 2 HAVING COUNT(*) > $BandCap),
       |bandrows AS (
       |  SELECT * FROM bandrows0 r
       |  WHERE NOT EXISTS (SELECT 1 FROM hot h
       |    WHERE h.band_idx = r.band_idx AND h.band_hash = r.band_hash)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    bit_count(xor(a.fp, b.fp)) AS ham
       |  FROM bandrows a JOIN bandrows b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |   AND a.doc_id < b.doc_id),
       |ends AS (
       |  SELECT doc_a AS doc_id FROM pairs WHERE ham <= 2
       |  UNION ALL
       |  SELECT doc_b AS doc_id FROM pairs WHERE ham <= 2),
       |near AS (SELECT doc_id, COUNT(*) AS n_near FROM ends GROUP BY doc_id)
       |SELECT f.doc_id, f.fp, COALESCE(n.n_near, 0) AS n_near
       |FROM fps f LEFT JOIN near n ON f.doc_id = n.doc_id""".stripMargin
  }

  /** N-gram (word-bigram) Jaccard near-dup via EXACT prefix filtering
    * (AllPairs / PPJoin family, Bayardo et al. WWW'07): with shingle ids
    * globally ordered, two sets with J >= t MUST share an element within
    * their first |x| - ceil(t*|x|) + 1 ids — so the candidate join is an
    * inverted-index join on prefix tokens, not an all-pairs block join.
    * Zero false negatives: the result equals the unblocked quadratic
    * join (the oracle runs exactly that), but candidate volume scales
    * with token-frequency, not block-size^2 — this replaces the round-2
    * len/32 length-block whose hot block was quadratic at 100 TB. A
    * pathological token shared by k docs still costs k^2/2; such tokens
    * are by construction near-universal grams, and their pairs are
    * length-filtered before verification (the `lenOk` predicate). */
  private[graft] def ngramBase(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // two-step projection: h must be an attribute before the gram lambda
    // references it (see shingleIdsFrom scaling note)
    val bigramIds = when(size($"h") >= 2,
      array_sort(array_distinct(transform(sequence(lit(1), size($"h") - 1), i =>
        (element_at($"h", i) * 131L + element_at($"h", i + 1)) % P))))
      .otherwise(array().cast("array<long>"))
    Tables.load(spark, dir, "documents")
      .select($"doc_id", transform(tokensCol($"text"), wordHash(_)).as("h"))
      .select($"doc_id", bigramIds.as("sid"))
      .persist() // barrier before filter (see Lsh.shingles) + verify joins
      .filter(size($"sid") > 0)
      .withColumn("len", size($"sid").cast("long"))
  }

  /** Prefix length for the J >= 0.5 prefix filter: len - ceil(len/2)
    * + 1. ONE definition shared by the pair lister (ngramCandidates)
    * and the candidate-load twins (candidateLoadOf) — the twins exist
    * to measure the lister's cost, so a tuned threshold must move both
    * or the sweep asserts a shape the production query no longer has. */
  private def j05PrefixLen: org.apache.spark.sql.Column =
    (col("len") - intDiv(col("len") + 1L, lit(2L)) + 1L).cast("int")

  /** Candidate stage (pre-barrier), exposed for plan-shape tests. */
  private[graft] def ngramCandidates(base: DataFrame): DataFrame = {
    import base.sparkSession.implicits._
    val t = 500L // Jaccard threshold, milli
    val inv = base.select($"doc_id", $"len",
      explode(slice($"sid", lit(1), j05PrefixLen)).as("tok"))
    // J >= t implies t*max(|a|,|b|) <= |a∩b| <= min(|a|,|b|)
    val lenOk = least($"a.len", $"b.len") * 1000L >=
      greatest($"a.len", $"b.len") * t
    inv.as("a").join(inv.as("b"),
        $"a.tok" === $"b.tok" && $"a.doc_id" < $"b.doc_id" && lenOk)
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b")).distinct()
  }

  /** Per-doc CANDIDATE-LOAD diagnostic — the bounded-output twin shared
    * by d4b (bigram shingles) and d13b (winnow fingerprints). The full
    * pair listings (d4/d13) are contract-quadratic against a duplicate
    * clique: a shared prefix token held by k docs costs k² pairs. This
    * twin MEASURES that cost instead of paying it: per doc, the largest
    * prefix-posting bucket it sits in (max_bucket = its worst-case
    * partner count through one token) and the summed bucket sizes
    * (cand_bound = the upper bound of its d4 candidate pairs). One
    * shuffle on the token key + one per-doc aggregate — linear at any
    * clique size, so the sf1 sweep asserts the cost shape with these
    * while the listings stay contract-quadratic by design. */
  private def candidateLoadOf(base: DataFrame): DataFrame = {
    import base.sparkSession.implicits._
    val inv = base.select($"doc_id",
      explode(slice($"sid", lit(1), j05PrefixLen)).as("tok"))
    val counts = inv.groupBy($"tok").agg(count(lit(1)).as("n"))
    inv.join(counts, "tok")
      .groupBy($"doc_id")
      .agg(max($"n" - 1L).as("max_bucket"), sum($"n" - 1L).as("cand_bound"))
  }

  def ngramDegree(spark: SparkSession, dir: String): DataFrame =
    candidateLoadOf(ngramBase(spark, dir))
  def winnowDegree(spark: SparkSession, dir: String): DataFrame =
    candidateLoadOf(winnowBase(spark, dir))

  /** Candidate-load oracle over a given nz CTE chain: replays the
    * prefix slice, the posting counts, and the per-doc aggregation. */
  private def candidateLoadOracleFrom(nzCtes: String): String =
    s"""WITH $nzCtes,
       |inv AS (
       |  SELECT doc_id,
       |    unnest(sid[1 : len(sid) - (len(sid)+1)//2 + 1]) AS tok
       |  FROM nz),
       |counts AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM inv GROUP BY tok)
       |SELECT doc_id, MAX(n - 1) AS max_bucket,
       |  CAST(SUM(n - 1) AS BIGINT) AS cand_bound
       |FROM inv JOIN counts USING (tok) GROUP BY doc_id""".stripMargin

  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val base = ngramBase(spark, dir)
    Lsh.jaccard(ngramCandidates(base), base, 500L)
  }
  /** The bigram-shingle nz CTE chain shared by the d4 oracle and the
    * d4b degree twin's oracle. */
  private val ngramNzCtes: String =
    s"""toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
       |th AS (SELECT doc_id, t, $tokenHashesSql AS h FROM toks),
       |base AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) >= 2 THEN list_sort(list_distinct([ (h[i]*131 + h[i+1]) % $P for i in range(1, len(t)) ]))
       |         ELSE CAST([] AS BIGINT[]) END AS sid
       |  FROM th),
       |nz AS (SELECT * FROM base WHERE len(sid) > 0)""".stripMargin

  /** The oracle is the UNBLOCKED all-pairs join: prefix filtering is
    * exact, so the Spark plan must reproduce it bit-for-bit. */
  private val ngramJaccardOracle: String =
    s"""WITH $ngramNzCtes
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(len(list_intersect(a.sid, b.sid)) AS BIGINT) * 1000
       |    // CAST(len(list_distinct(list_concat(a.sid, b.sid))) AS BIGINT) AS jacc_milli
       |FROM nz a JOIN nz b ON a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.sid, b.sid)) AS BIGINT) * 1000
       |    // CAST(len(list_distinct(list_concat(a.sid, b.sid))) AS BIGINT) >= 500""".stripMargin

  /** D19: MEASURED recall of the d2 banding scheme — "measure, don't
    * guess" applied to the dedup pipeline itself. Ground truth is the
    * all-pairs exact shingle Jaccard >= 800 (computed with the same
    * exact prefix-filter blocking as d4 — a superset filter tuned for
    * J>=0.5, so zero recall loss at 800); prediction is d2's full
    * LSH-band + hot-bucket-cap + exact-verify pipeline. Because d2
    * verifies candidates exactly, false positives are IMPOSSIBLE and
    * the interesting number is recall: what the band scheme and the
    * BandCap drop. Run at sample scale (truth is quadratic by nature);
    * the measured recall transfers to the production thresholds.
    * Output: one row of integer-exact counts + milli rates. */
  def lshRecallEval(spark: SparkSession, dir: String): DataFrame =
    lshRecallEvalImpl(spark, dir, None)

  /** D19b: the SAMPLED twin — both truth and prediction restricted to
    * the deterministic doc sample `doc_id % 37 = 1` (~2.7%). The full
    * eval's truth pass is contract-quadratic in a duplicate clique;
    * the sample bounds it at (clique/37)² while measuring the same
    * recall (LSH banding is id-blind, so the sample is unbiased), which
    * lets the sf1 stress sweep assert d19's cost shape instead of
    * timing it out. */
  def lshRecallSample(spark: SparkSession, dir: String): DataFrame =
    lshRecallEvalImpl(spark, dir, Some(RecallSampleMod))

  private[graft] val RecallSampleMod = 37L

  private def lshRecallEvalImpl(spark: SparkSession, dir: String,
      sampleMod: Option[Long]): DataFrame = {
    import spark.implicits._
    // the doc_id sample predicate pushes to the scan; the size(sid)
    // re-inline below this cache is paid once over sample-scale rows
    // (an extra raw-array cache layer measured SLOWER than the
    // re-evaluation it avoided — 22 s vs 13 s at sf1)
    val base = sampleMod.foldLeft(shingleTableOf(Tables.load(spark, dir, "documents")))(
      (t, m) => t.filter($"doc_id" % m === 1L))
      .filter(size($"sid") > 0)
      .select($"doc_id", array_sort($"sid").as("sid"))
      .withColumn("len", size($"sid").cast("long"))
      .persist() // candidate fan-out + both verify joins
    val truth = Lsh.jaccard(ngramCandidates(base), base, 800L)
      .select($"doc_a", $"doc_b", lit(1L).as("t"))
    val pred = sampleMod.foldLeft(minhashLsh(spark, dir))(
        (p, m) => p.filter($"doc_a" % m === 1L && $"doc_b" % m === 1L))
      .select($"doc_a", $"doc_b", lit(1L).as("p"))
    pred.join(truth, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        count(when($"p".isNotNull && $"t".isNotNull, 1)).as("tp"),
        count(when($"p".isNotNull && $"t".isNull, 1)).as("fp"),
        count(when($"p".isNull && $"t".isNotNull, 1)).as("fn"))
      .select($"tp", $"fp", $"fn",
        intDiv($"tp" * 1000L, greatest($"tp" + $"fp", lit(1L)))
          .as("precision_milli"),
        intDiv($"tp" * 1000L, greatest($"tp" + $"fn", lit(1L)))
          .as("recall_milli"))
  }
  /** Truth = unblocked all-pairs >= 800 over the SAME shingle ids the
    * LSH pipeline hashes (the `base` CTE); prediction = the d2 pairs
    * CTE verbatim. */
  private val lshRecallEvalOracle: String = lshRecallOracleImpl(None)
  private val lshRecallSampleOracle: String =
    lshRecallOracleImpl(Some(RecallSampleMod))

  private def lshRecallOracleImpl(sampleMod: Option[Long]): String = {
    val predW = sampleMod.map(m =>
      s" WHERE doc_a % $m = 1 AND doc_b % $m = 1").getOrElse("")
    val truthW = sampleMod.map(m =>
      s"\n    AND a.doc_id % $m = 1 AND b.doc_id % $m = 1").getOrElse("")
    s"""WITH $minhashPairsCtes,
       |pred AS (SELECT doc_a, doc_b FROM pairs$predW),
       |truth AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM base a JOIN base b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.sid, b.sid)) AS BIGINT) * 1000
       |      // CAST(len(list_distinct(list_concat(a.sid, b.sid))) AS BIGINT) >= 800$truthW),
       |m AS (
       |  SELECT
       |    (SELECT COUNT(*) FROM pred WHERE EXISTS (SELECT 1 FROM truth t
       |       WHERE t.doc_a = pred.doc_a AND t.doc_b = pred.doc_b)) AS tp,
       |    (SELECT COUNT(*) FROM pred WHERE NOT EXISTS (SELECT 1 FROM truth t
       |       WHERE t.doc_a = pred.doc_a AND t.doc_b = pred.doc_b)) AS fp,
       |    (SELECT COUNT(*) FROM truth WHERE NOT EXISTS (SELECT 1 FROM pred p
       |       WHERE p.doc_a = truth.doc_a AND p.doc_b = truth.doc_b)) AS fn)
       |SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       |  CAST(fn AS BIGINT) AS fn,
       |  CAST(tp * 1000 // GREATEST(tp + fp, 1) AS BIGINT) AS precision_milli,
       |  CAST(tp * 1000 // GREATEST(tp + fn, 1) AS BIGINT) AS recall_milli
       |FROM m""".stripMargin
  }

  /** Number of hyperplanes / bands for the embedding near-dup blocking.
    * 16 planes in 4 bands of 4 bits: a (label, band, 4-bit value) bucket
    * holds ~1/16 of its label cell. At 100 TB both knobs grow with the
    * corpus (more bands for recall, more bits per band for bucket size);
    * they are compile-time constants only because the oracle must replay
    * them. Plane k is offset +32 from the v2_ann_lsh planes so the two
    * query families stay independent. */
  val EmbPlanes = 16
  val EmbBands = 4

  /** Embedding cosine near-dup: label (the coarse-quantizer / IVF cell)
    * × random-hyperplane band sub-bucketing — candidates must agree on
    * label AND on all bits of at least one 4-bit signature band; exact
    * integer-dot-product verification keeps pairs with cos >= 0.3.
    *
    * Round 2 blocked on label alone: with O(10) labels the in-block join
    * is an intra-cell cartesian product — the named 100 TB scale-killer.
    * The band sub-bucket bounds block size by corpus/(labels * 2^bits)
    * regardless of label cardinality; recall is the standard LSH OR-of-
    * ANDs curve (≥95% at cos 0.9, lower near the loose 0.3 floor), and
    * the oracle replays the same banding so the check stays bit-exact.
    * Dot products are exact integer arithmetic over milli-quantized
    * vectors; the single IEEE sqrt+divide is correctly rounded on both
    * engines. */
  /** Candidate stage (pre-barrier), exposed for plan-shape tests. */
  private[graft] def embCandidates(base: DataFrame): DataFrame = {
    import base.sparkSession.implicits._
    // bit k of the signature: sign of q . h_k, h_k[i] = ±1 pseudo-random
    // — one codegen pass over the vector for all planes (VecMath)
    val bits = functions.VecMath.sigCol($"q", EmbPlanes, offset = 32)
    val bitsPerBand = EmbPlanes / EmbBands
    val bandCols = (0 until EmbBands).map(b =>
      struct(lit(b).as("band_idx"),
        shiftright($"sig", bitsPerBand * b)
          .bitwiseAND((1L << bitsPerBand) - 1).as("band_val")))
    val bandRows = base.withColumn("sig", bits)
      .select($"vec_id", $"label", explode(array(bandCols: _*)).as("band"))
      .select($"vec_id", $"label", $"band.band_idx", $"band.band_val")
    bandRows.as("a").join(bandRows.as("b"),
        $"a.label" === $"b.label" && $"a.band_idx" === $"b.band_idx" &&
          $"a.band_val" === $"b.band_val" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b")).distinct()
  }

  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // null/empty/zero-norm/non-finite guard: same drop-at-ingest rule
    // as SimilarityQueries.quantized (n2 is the cosine divisor below)
    val base = Tables.load(spark, dir, "embeddings")
      .filter($"embedding".isNotNull && size($"embedding") > 0 &&
        SimilarityQueries.finiteVec($"embedding"))
      .select($"vec_id", $"label",
        transform($"embedding", x => SimilarityQueries.quantElem(x)).as("q"))
      .withColumn("n2", functions.VecMath.dotCol($"q", $"q"))
      .filter($"n2" > 0L)
      .persist() // signature fan-out + both verify joins read this
    Lsh.barrier(embCandidates(base))
      .join(base.select($"vec_id".as("vec_a"), $"q".as("qa"), $"n2".as("n2a")), "vec_a")
      .join(base.select($"vec_id".as("vec_b"), $"q".as("qb"), $"n2".as("n2b")), "vec_b")
      .select($"vec_a", $"vec_b",
        floor(lit(1000d) *
          functions.VecMath.dotCol($"qa", $"qb").cast("double") /
          sqrt($"n2a".cast("double") * $"n2b".cast("double"))).cast("long")
          .as("cos_milli"))
      .filter($"cos_milli" >= 300L)
  }
  private val embeddingNearDupOracle: String = {
    val bits = SimilarityQueries.hyperplaneSigSql(EmbPlanes, 32)
    val bitsPerBand = EmbPlanes / EmbBands
    val bandRows = (0 until EmbBands).map(b =>
      s"SELECT vec_id, label, $b AS band_idx, (sig >> ${bitsPerBand * b}) & ${(1L << bitsPerBand) - 1} AS band_val FROM sigs")
      .mkString("\nUNION ALL\n")
    s"""WITH base AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
       |  FROM embeddings
       |  WHERE embedding IS NOT NULL AND len(embedding) > 0
       |    AND ${SimilarityQueries.finiteVecSql("embedding")}),
       |n AS (SELECT vec_id, label, q, n2 FROM (SELECT vec_id, label, q,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), [q[i]*q[i] for i in range(1, len(q)+1)]), (a,b)->a+b) AS n2
       |  FROM base) WHERE n2 > 0),
       |sigs AS (SELECT vec_id, label, CAST($bits AS BIGINT) AS sig FROM n),
       |bandrows AS ($bandRows),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bandrows a JOIN bandrows b
       |    ON a.label = b.label AND a.band_idx = b.band_idx
       |   AND a.band_val = b.band_val AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, cos_milli FROM (
       |  SELECT vec_a, vec_b,
       |    ${cosPairSql}
       |  FROM cand
       |  JOIN n a ON a.vec_id = vec_a
       |  JOIN n b ON b.vec_id = vec_b)
       |WHERE cos_milli >= 300""".stripMargin
  }
  // def, not val: referenced by embeddingNearDupOracle which initializes
  // earlier in declaration order
  private def cosPairSql: String =
    s"""CAST(floor(1000.0 *
       |      list_reduce(list_prepend(CAST(0 AS BIGINT), [a.q[i]*b.q[i] for i in range(1, len(a.q)+1)]), (x,y)->x+y)
       |      / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE))) AS BIGINT) AS cos_milli""".stripMargin

  /** End-to-end corpus dedup: the operation a production 100 TB dedup
    * run actually performs — LSH near-dup PAIRS (d2) are only the edge
    * list; the corpus decision is per-DOCUMENT: union the pairs into
    * clusters (connected components over the pair graph, reusing the
    * identity-resolution CC operator J7) and elect one canonical
    * survivor per cluster (min doc_id, the same deterministic winner
    * rule as the reference's idmap clustering).
    *
    * Scale shape: the pair table is tiny relative to the corpus (it
    * only holds near-dups), so the CC loop runs on a sliver; the final
    * assignment is one left join of the cluster map onto the corpus —
    * cluster map size is bounded by the number of near-dup docs. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    clusterAssign(spark, dir)
      .select($"doc_id", $"cluster", ($"cluster" === $"doc_id").as("keep"))
  }

  /** Every document with its near-dup cluster id (cluster = CC minimum
    * over the d2 pair graph, singletons their own id) — shared by d6
    * (hard removal) and d15 (soft down-weighting). */
  private[graft] def clusterAssign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = minhashLsh(spark, dir)
      .select($"doc_a".as("src"), $"doc_b".as("dst"))
    val clusters = operators.Graph.connectedComponents(edges)
      .select($"node".as("doc_id"), $"component")
    Tables.load(spark, dir, "documents")
      .select($"doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"component", $"doc_id").as("cluster"))
  }

  /** Recursive-CTE cluster closure ending in `asg` (doc_id, cluster) —
    * the oracle twin of clusterAssign. */
  private def clusterAssignCtes: String =
    s"""$minhashPairsCtes,
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs),
       |sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
       |cnodes AS (SELECT DISTINCT src AS node FROM sym),
       |reach(node, r) AS (
       |  SELECT node, node FROM cnodes
       |  UNION
       |  SELECT reach.node, sym.dst FROM reach JOIN sym ON reach.r = sym.src),
       |comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
       |asg AS (
       |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster
       |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)""".stripMargin
  private val dedupClustersOracle: String =
    s"""WITH RECURSIVE $clusterAssignCtes
       |SELECT doc_id, cluster, (cluster = doc_id) AS keep FROM asg""".stripMargin

  /** D15: SOFT dedup — down-weight near-duplicates instead of dropping
    * them: every document trains with weight ~1000/cluster_size
    * (milli), the CANONICAL doc (cluster minimum) absorbing the
    * integer-division remainder so each cluster totals EXACTLY 1000 —
    * one copy's worth, with internal variation preserved (the
    * soft-dedup recipe; hard removal clips distribution tails, and a
    * plain floor would zero out clusters larger than 1000 docs
    * entirely). Same machinery as d6 plus one tiny per-cluster count
    * joined back (clusters are minute next to the corpus —
    * broadcastable). */
  def softDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val asg = clusterAssign(spark, dir)
    val sizes = asg.groupBy($"cluster").agg(count(lit(1)).as("csize"))
    val base = intDiv(lit(1000L), $"csize")
    asg.join(sizes, Seq("cluster"))
      .select($"doc_id", $"cluster", $"csize",
        when($"doc_id" === $"cluster",
          lit(1000L) - ($"csize" - 1L) * base)
          .otherwise(base).as("weight_milli"))
  }
  private val softDedupOracle: String =
    s"""WITH RECURSIVE $clusterAssignCtes,
       |sz AS (SELECT cluster, COUNT(*) AS csize FROM asg GROUP BY 1)
       |SELECT doc_id, a.cluster, CAST(csize AS BIGINT) AS csize,
       |  CASE WHEN doc_id = a.cluster
       |    THEN 1000 - (CAST(csize AS BIGINT) - 1) * (1000 // CAST(csize AS BIGINT))
       |    ELSE 1000 // CAST(csize AS BIGINT) END AS weight_milli
       |FROM asg a JOIN sz ON a.cluster = sz.cluster""".stripMargin

  /** D20: QUALITY-elected cluster canonicals — d6 keeps the min doc_id
    * per near-dup cluster (the idmap winner rule); a production corpus
    * keeps the BEST member: within each cluster elect the document with
    * the highest lexical-diversity score (distinct-token milli-ratio,
    * integer-exact like t_quality_score), ties to the lowest doc_id.
    * The LLM-dedup twin of the reference's merge base-record choice
    * (`run-merge.py:105-168` picks the fold base by source priority,
    * not arrival order). Same cluster machinery as d6/d15; the election
    * is one max-of-struct aggregate over the (tiny) clustered slice —
    * no window, and the per-cluster struct max combines map-side. */
  def qualityCanonical(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokensCol($"text")
    // greatest(n, 1): a zero-token doc scores 0, not a division error
    val q = Tables.load(spark, dir, "documents")
      .select($"doc_id",
        intDiv(size(array_distinct(toks)).cast("long") * 1000L,
          greatest(size(toks).cast("long"), lit(1L))).as("dm"))
    // cache barrier: the election aggregate AND the final join both
    // read this; without it the documents scan + the token-diversity
    // HOFs run twice (the v5/t_source_overlap lesson)
    val scored = clusterAssign(spark, dir).join(q, Seq("doc_id")).persist()
    // max over (dm, -doc_id) = highest score, then lowest id
    val reps = scored.groupBy($"cluster")
      .agg(max(struct($"dm", (-$"doc_id").as("nid"))).as("best"))
      .select($"cluster", (-$"best.nid").as("rep"))
    scored.join(reps, Seq("cluster"))
      .select($"doc_id", $"cluster", $"rep", $"dm",
        ($"doc_id" === $"rep").as("keep"))
  }
  private val qualityCanonicalOracle: String =
    s"""WITH RECURSIVE $clusterAssignCtes,
       |q AS (SELECT doc_id,
       |  CAST(len(list_distinct(${tokensSql("text")})) AS BIGINT) * 1000
       |    // GREATEST(CAST(len(${tokensSql("text")}) AS BIGINT), 1) AS dm
       |  FROM documents),
       |sc AS (SELECT a.doc_id, a.cluster, q.dm
       |  FROM asg a JOIN q ON a.doc_id = q.doc_id),
       |reps AS (SELECT cluster, doc_id AS rep FROM (
       |  SELECT cluster, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY cluster
       |      ORDER BY dm DESC, doc_id ASC) AS rn
       |  FROM sc) WHERE rn = 1)
       |SELECT sc.doc_id, sc.cluster, reps.rep, sc.dm,
       |  (sc.doc_id = reps.rep) AS keep
       |FROM sc JOIN reps ON sc.cluster = reps.cluster""".stripMargin

  /** Benchmark decontamination: flag every training document sharing a
    * word-3-gram shingle with a held-out "benchmark" set (here: docs
    * with doc_id % 37 = 0 stand in for the eval suite). The standard
    * contamination sweep before LLM training — n-gram overlap against
    * benchmarks (13-grams in the published recipes; 3-grams at this
    * fixture's doc length).
    *
    * Scale shape: benchmarks are tiny next to the corpus, so the
    * distinct benchmark shingle set is BROADCAST and the sweep is a
    * map-side semi-join over the corpus shingles — no wide shuffle;
    * the per-doc hit count folds map-side. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // shingles feed both branches below
    val sid = Lsh.shingles(spark, dir)
    val benchSids = sid.filter($"doc_id" % 37 === 0)
      .select(explode($"sid").as("s")).distinct()
    sid.filter($"doc_id" % 37 =!= 0)
      .select($"doc_id", explode($"sid").as("s"))
      .join(broadcast(benchSids), Seq("s"), "left_semi")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_hits"))
      .join(sid.filter($"doc_id" % 37 =!= 0).select($"doc_id"), Seq("doc_id"), "right")
      .select($"doc_id",
        coalesce($"n_hits", lit(0L)).as("n_hits"),
        (coalesce($"n_hits", lit(0L)) > 0L).as("contaminated"))
  }
  private val decontaminateOracle: String =
    s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
       |th AS (SELECT doc_id, t, $tokenHashesSql AS h FROM toks),
       |shing AS (SELECT doc_id, $shingleIdsSql AS sid FROM th),
       |bench AS (
       |  SELECT DISTINCT unnest(sid) AS s FROM shing WHERE doc_id % 37 = 0),
       |train AS (SELECT doc_id, sid FROM shing WHERE doc_id % 37 <> 0),
       |hits AS (
       |  SELECT t.doc_id, COUNT(*) AS n_hits
       |  FROM (SELECT doc_id, unnest(sid) AS s FROM train) t
       |  WHERE EXISTS (SELECT 1 FROM bench b WHERE b.s = t.s)
       |  GROUP BY t.doc_id)
       |SELECT tr.doc_id,
       |  COALESCE(h.n_hits, 0) AS n_hits,
       |  (COALESCE(h.n_hits, 0) > 0) AS contaminated
       |FROM train tr LEFT JOIN hits h ON h.doc_id = tr.doc_id""".stripMargin

  /** FUZZY benchmark decontamination — the near-duplicate complement of
    * d7's exact-shingle sweep (the published recipes run both: exact
    * n-gram overlap AND MinHash near-duplication against the eval
    * suites, since light paraphrase defeats exact 13-grams). A training
    * doc is contaminated when it NEAR-duplicates a benchmark doc:
    * band-collision candidates verified with exact Jaccard at the
    * looser 0.5 threshold (dedup uses 0.8).
    *
    * Scale shape — the asymmetry is the whole point: the benchmark band
    * index is tiny and BROADCAST (with its own hot-bucket cap, logged),
    * so the corpus side is a map-only probe; candidate verification
    * touches only colliding (train, bench) pairs. No corpus self-join
    * exists anywhere in the plan; daily cost is corpus-scan + |bench|.
    * One row per training doc (the audit shape, like d7). */
  def fuzzyDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sid = Lsh.shingles(spark, dir)
    val base = Lsh.nz(sid)
    val bands = Lsh.bands(base).persist()
    // the cap counts bench-side occupancy only
    val benchBands = Lsh.capped(bands.filter($"doc_id" % 37 === 0), bandCap(spark))
    val cand = Lsh.probe(bands.filter($"doc_id" % 37 =!= 0), broadcast(benchBands))(
      $"n.doc_id".as("doc_id"), $"o.doc_id".as("bench_id"))
    val scored = Lsh.jaccard(cand, base, 500L)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bench_hits"), max($"jacc_milli").as("max_jacc_milli"))
    sid.filter($"doc_id" % 37 =!= 0).select($"doc_id")
      .join(scored, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_bench_hits", lit(0L)).as("n_bench_hits"),
        coalesce($"max_jacc_milli", lit(0L)).as("max_jacc_milli"),
        (coalesce($"n_bench_hits", lit(0L)) > 0L).as("contaminated"))
  }
  private val fuzzyDecontaminateOracle: String =
    s"""WITH ${bandRowsCtes("bandrows")},
       |benchhot AS (
       |  SELECT band_idx, band_hash FROM bandrows WHERE doc_id % 37 = 0
       |  GROUP BY 1, 2 HAVING COUNT(*) > $BandCap),
       |bb AS (
       |  SELECT doc_id AS bench_id, band_idx, band_hash FROM bandrows r
       |  WHERE doc_id % 37 = 0 AND NOT EXISTS (
       |    SELECT 1 FROM benchhot h
       |    WHERE h.band_idx = r.band_idx AND h.band_hash = r.band_hash)),
       |cand AS (
       |  SELECT DISTINCT t.doc_id, bb.bench_id
       |  FROM bandrows t JOIN bb USING (band_idx, band_hash)
       |  WHERE t.doc_id % 37 <> 0),
       |scored AS (
       |  SELECT c.doc_id, $jaccSql AS jacc_milli
       |  FROM cand c
       |  JOIN base sa ON sa.doc_id = c.doc_id
       |  JOIN base sb ON sb.doc_id = c.bench_id
       |  WHERE $jaccSql >= 500),
       |agg AS (
       |  SELECT doc_id, COUNT(*) AS n_bench_hits,
       |    MAX(jacc_milli) AS max_jacc_milli
       |  FROM scored GROUP BY 1)
       |SELECT s.doc_id,
       |  COALESCE(a.n_bench_hits, 0) AS n_bench_hits,
       |  COALESCE(a.max_jacc_milli, 0) AS max_jacc_milli,
       |  (COALESCE(a.n_bench_hits, 0) > 0) AS contaminated
       |FROM shing s LEFT JOIN agg a ON a.doc_id = s.doc_id
       |WHERE s.doc_id % 37 <> 0""".stripMargin

  /** EMBEDDING-space benchmark decontamination — the semantic third leg
    * of the decontamination battery (exact shingles d7, lexical near-dup
    * d12): a paraphrase that defeats both n-grams and MinHash still
    * lands next to the benchmark in embedding space, so every training
    * vector reports its maximum cosine against the eval suite
    * (vec_id % 37 = 0, the d7/d12 holdout convention) and a
    * contaminated flag at the d5 near-dup threshold (cos ≥ 0.300).
    *
    * Scale shape: benchmarks are thousands of rows against a corpus of
    * billions, so the quantized benchmark vectors BROADCAST and the
    * scan is map-only — cost corpus·|bench|·dim, no shuffle until the
    * per-vector max (map-side partial). A benchmark too large to
    * broadcast would drop in via v4's IVF cells (probe the benchmark's
    * nearest cells only); the audit row shape is unchanged. Integer-
    * exact: d5's milli-quantized dot and floored cosine, so the oracle
    * replays bit-for-bit. Nearest benchmark ties break to the smallest
    * bench id via lexicographic struct max. */
  def embedDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // null/empty/zero-norm/non-finite guard: same drop-at-ingest rule
    // as SimilarityQueries.quantized (n2 is the cosine divisor below)
    val base = Tables.load(spark, dir, "embeddings")
      .filter($"embedding".isNotNull && size($"embedding") > 0 &&
        SimilarityQueries.finiteVec($"embedding"))
      .select($"vec_id",
        transform($"embedding", x => SimilarityQueries.quantElem(x)).as("q"))
      .withColumn("n2", functions.VecMath.dotCol($"q", $"q"))
      .filter($"n2" > 0L)
    val bench = base.filter($"vec_id" % 37 === 0)
      .select($"vec_id".as("bench_id"), $"q".as("qb"), $"n2".as("n2b"))
    base.filter($"vec_id" % 37 =!= 0)
      .crossJoin(broadcast(bench))
      .select($"vec_id",
        struct(
          floor(lit(1000d) *
            functions.VecMath.dotCol($"q", $"qb").cast("double") /
            sqrt($"n2".cast("double") * $"n2b".cast("double"))).cast("long")
            .as("cos_milli"),
          (-$"bench_id").as("neg_bench")).as("sc"))
      .groupBy($"vec_id")
      .agg(max($"sc").as("m"))
      .select($"vec_id",
        (-$"m.neg_bench").as("near_bench"),
        $"m.cos_milli".as("cos_milli"),
        ($"m.cos_milli" >= 300L).cast("long").as("contaminated"))
  }
  private val embedDecontaminateOracle: String =
    s"""WITH q0 AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
       |  FROM embeddings
       |  WHERE embedding IS NOT NULL AND len(embedding) > 0
       |    AND ${SimilarityQueries.finiteVecSql("embedding")}),
       |n AS (SELECT vec_id, q, n2 FROM (SELECT vec_id, q,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), [q[i]*q[i] for i in range(1, len(q)+1)]), (a,b)->a+b) AS n2
       |  FROM q0) WHERE n2 > 0),
       |pairs AS (
       |  SELECT a.vec_id, b.vec_id AS bench_id,
       |    $cosPairSql
       |  FROM n a, n b
       |  WHERE a.vec_id % 37 <> 0 AND b.vec_id % 37 = 0),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY cos_milli DESC, bench_id ASC) AS rn
       |  FROM pairs)
       |SELECT vec_id, bench_id AS near_bench, cos_milli,
       |  CAST(cos_milli >= 300 AS BIGINT) AS contaminated
       |FROM r WHERE rn = 1""".stripMargin

  /** Train/validation SPLIT LEAKAGE audit — the check every held-out
    * evaluation needs before its numbers mean anything: a deterministic
    * split (doc_id % 10 = 0 → validation) is only sound if no validation
    * document NEAR-DUPLICATES a training document, and a random or
    * id-hash split over an undeduplicated corpus violates that
    * constantly (the published dedup papers' core motivation). The
    * audit reuses d2's exact band machinery — signatures, guarded band
    * join, exact-Jaccard verify at 0.8 — keeps only pairs that CROSS
    * the split, and reports one row per validation doc: leaked flag,
    * the worst-offending training doc (max Jaccard, ties to the
    * smallest id), and its overlap. Fixing a leak = moving one side or
    * deduplicating first; the audit shape makes either actionable.
    * Scale: identical to d2 (the one wide stage is the band join);
    * the cross-split filter drops pairs before the per-doc max. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sid = Lsh.shingles(spark, dir)
    val cross = minhashVerified(Lsh.nz(sid))
      .filter(($"doc_a" % 10 === 0) =!= ($"doc_b" % 10 === 0))
      .select(
        when($"doc_a" % 10 === 0, $"doc_a").otherwise($"doc_b").as("doc_id"),
        struct($"jacc_milli",
          (-when($"doc_a" % 10 === 0, $"doc_b").otherwise($"doc_a"))
            .as("neg_src")).as("sc"))
    val best = cross.groupBy($"doc_id").agg(max($"sc").as("m"))
    sid.filter($"doc_id" % 10 === 0).select($"doc_id")
      .join(best, Seq("doc_id"), "left")
      .select($"doc_id",
        $"m".isNotNull.cast("long").as("leaked"),
        coalesce(-$"m.neg_src", lit(-1L)).as("leak_src"),
        coalesce($"m.jacc_milli", lit(0L)).as("jacc_milli"))
  }
  private val splitLeakageOracle: String =
    s"""WITH $minhashPairsCtes,
       |cross_p AS (
       |  SELECT CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS doc_id,
       |    CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS train_doc,
       |    jacc_milli
       |  FROM pairs WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)),
       |best AS (
       |  SELECT doc_id, train_doc, jacc_milli,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY jacc_milli DESC, train_doc ASC) AS rn
       |  FROM cross_p)
       |SELECT s.doc_id,
       |  CAST(b.doc_id IS NOT NULL AS BIGINT) AS leaked,
       |  COALESCE(b.train_doc, -1) AS leak_src,
       |  COALESCE(b.jacc_milli, 0) AS jacc_milli
       |FROM shing s
       |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON s.doc_id = b.doc_id
       |WHERE s.doc_id % 10 = 0""".stripMargin

  /** Cross-source overlap matrix — the dataset-card-level contamination
    * summary: for every pair of sources, the number of distinct word-3-gram
    * shingles they share, plus containment (shared / smaller set) and
    * Jaccard, milli-quantized. This is how a corpus audit finds that two
    * crawls mirror each other before any per-document dedup runs.
    * Scale: the (source, shingle) projection is distinct-reduced map-side
    * first (one shuffle on the shingle key); the pair step self-joins on
    * the shingle, whose per-key fan-out is bounded by #sources² — a
    * constant, not a corpus quantity — so no key can straggle. The final
    * matrix is #sources² rows: driver-safe at any corpus size. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    // cache barrier below the join (Lsh.shingles): without it the
    // join/generate rewrites re-inline the shingle HOF chain
    val srcShingle = Lsh.shingles(docs)
      .join(docs.select($"doc_id", $"source"), "doc_id")
      .select($"source", explode($"sid").as("s"))
      .distinct()
      .persist() // feeds the per-source sizes AND the pair join
    val perSrc = srcShingle.groupBy($"source").agg(count(lit(1)).as("n"))
    val shared = srcShingle.select($"s", $"source".as("src_a"))
      .join(srcShingle.select($"s", $"source".as("src_b")), "s")
      .filter($"src_a" < $"src_b")
      .groupBy($"src_a", $"src_b").agg(count(lit(1)).as("n_shared"))
    val ns = coalesce($"n_shared", lit(0L))
    perSrc.select($"source".as("src_a"), $"n".as("n_a"))
      .crossJoin(perSrc.select($"source".as("src_b"), $"n".as("n_b")))
      .filter($"src_a" < $"src_b") // tiny: #sources² rows
      .join(shared, Seq("src_a", "src_b"), "left")
      .select($"src_a", $"src_b", $"n_a", $"n_b", ns.as("n_shared"),
        intDiv(ns * 1000L, least($"n_a", $"n_b")).as("containment_milli"),
        intDiv(ns * 1000L, $"n_a" + $"n_b" - ns).as("jaccard_milli"))
  }
  private val sourceOverlapOracle: String =
    s"""WITH toks AS (SELECT doc_id, source, ${tokensSql("text")} AS t FROM documents),
       |th AS (SELECT doc_id, source, t, $tokenHashesSql AS h FROM toks),
       |shing AS (SELECT doc_id, source, $shingleIdsSql AS sid FROM th),
       |ss AS (SELECT DISTINCT source, unnest(sid) AS s FROM shing),
       |per AS (SELECT source, COUNT(*) AS n FROM ss GROUP BY 1),
       |shared AS (
       |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
       |  FROM ss a JOIN ss b ON a.s = b.s AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT pa.source AS src_a, pb.source AS src_b,
       |  pa.n AS n_a, pb.n AS n_b,
       |  COALESCE(n_shared, 0) AS n_shared,
       |  COALESCE(n_shared, 0) * 1000 // LEAST(pa.n, pb.n) AS containment_milli,
       |  COALESCE(n_shared, 0) * 1000
       |    // (pa.n + pb.n - COALESCE(n_shared, 0)) AS jaccard_milli
       |FROM per pa JOIN per pb ON pa.source < pb.source
       |LEFT JOIN shared ON src_a = pa.source AND src_b = pb.source""".stripMargin

  /** Incremental dedup ingest: a NEW shard arrives (docs with
    * doc_id % 10 = 9 stand in for the day's batch) and must be deduped
    * against the existing corpus WITHOUT re-running the full self-join —
    * only the new docs' band rows probe the persisted LSH index
    * (new × all asymmetric join; pairs normalized and verified with
    * exact Jaccard as in d2). At 100 TB this is the maintenance shape:
    * the index is on disk, the daily shuffle volume is proportional to
    * the SHARD, not the corpus. The hot-bucket cap applies to the index
    * exactly as in the batch path. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Lsh.nz(Lsh.shingles(spark, dir))
    val capped = Lsh.capped(Lsh.bands(base).persist(), bandCap(spark))
    val cand = Lsh.probe(capped.filter($"doc_id" % 10 === 9), capped,
        $"n.doc_id" =!= $"o.doc_id")(
      least($"n.doc_id", $"o.doc_id").as("doc_a"),
      greatest($"n.doc_id", $"o.doc_id").as("doc_b"))
    Lsh.jaccard(cand, base, 800L)
  }
  private val incrementalDedupOracle: String =
    s"""WITH $minhashPairsCtes,
       |ncand AS (
       |  SELECT DISTINCT LEAST(n.doc_id, o.doc_id) AS doc_a,
       |    GREATEST(n.doc_id, o.doc_id) AS doc_b
       |  FROM bandrows n JOIN bandrows o
       |    ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
       |   AND n.doc_id % 10 = 9 AND n.doc_id <> o.doc_id)
       |SELECT doc_a, doc_b, $jaccSql AS jacc_milli
       |FROM ncand
       |JOIN base sa ON sa.doc_id = doc_a
       |JOIN base sb ON sb.doc_id = doc_b
       |WHERE $jaccSql >= 800""".stripMargin

  /** The CAPSTONE: the whole training-data preparation chain as one
    * pipeline, in the order a production corpus build runs it —
    *   1. quality gate (t_quality_score thresholds),
    *   2. benchmark removal + decontamination (d7: drop eval docs AND
    *      training docs sharing a shingle with them),
    *   3. exact dedup (d1: min doc per content signature),
    *   4. near-dup clustering (d2 pairs restricted to survivors → CC →
    *      cluster-min canonical, d6's decision),
    *   5. stratified sampling (t_stratified_sample rates/weights),
    *   6. sequence packing (t_pack_chunks windows over the final kept
    *      set) —
    * emitting the packed training manifest. Every stage is the same
    * arithmetic as its standalone query, so the oracle is the composed
    * replay of those oracles (the near-dup closure by recursive CTE).
    *
    * Scale shape: stages 1–3 and 5 are map-only or one narrow keyed
    * shuffle each; stage 4 reuses the corpus-wide LSH index (pairs
    * filtered to survivors) and runs CC on the tiny pair graph; stage 6
    * is a per-source window. Nothing here widens beyond the standalone
    * stages — composition adds no new shuffle class. */
  /** The corpus pipeline's intermediate stage outputs, shared by the
    * flagship t_corpus_pipeline (final packed stream) and the
    * t_corpus_card funnel report (per-stage survivor counts). */
  private final case class CorpusStages(input: DataFrame, quality: DataFrame,
      clean: DataFrame, exact: DataFrame, canonical: DataFrame,
      sampled: DataFrame, packedF: () => DataFrame) {
    // thunked: the packing prefix sum runs eager partition-total jobs,
    // which the card query (stages 0-5 only) must not pay for
    def packed: DataFrame = packedF()
  }

  private def corpusStages(spark: SparkSession, dir: String): CorpusStages = {
    import spark.implicits._
    val stop = TextQueries.stopwords
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang", $"source", tokensCol($"text").as("t"))
      .persist() // quality + fingerprint + shingles read this
    val n = size($"t").cast("long")
    val nd = size(array_distinct($"t")).cast("long")
    val ns = size(filter($"t", x => x.isInCollection(stop))).cast("long")
    // 1. quality gate
    val quality = docs.filter(n >= 10L &&
      intDiv(nd * 1000L, n) >= 100L && intDiv(ns * 1000L, n) <= 500L)
    // 2. decontamination (benchmark docs excluded outright); ONE shingle
    // table serves the benchmark sweep AND the LSH pair stage below
    val sid = Lsh.shingles(spark, dir)
    val benchSids = sid.filter($"doc_id" % 37 === 0)
      .select(explode($"sid").as("s")).distinct()
    val contaminated = sid.filter($"doc_id" % 37 =!= 0)
      .select($"doc_id", explode($"sid").as("s"))
      .join(broadcast(benchSids), Seq("s"), "left_semi")
      .select($"doc_id").distinct()
    val clean = quality.filter($"doc_id" % 37 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
    // 3. exact dedup — argmin + semi-join, not a window: a boilerplate
    // content key can hold millions of duplicates at scale, and min()
    // combines map-side where the window would sort the whole group
    val keyed = clean.withColumn("ck", docFingerprint(array_sort($"t")))
    val winners = keyed.groupBy($"ck").agg(min($"doc_id").as("doc_id"))
    val exact = keyed
      .join(winners, Seq("ck", "doc_id"), "left_semi")
      .select($"doc_id", $"lang", $"source", size($"t").cast("long").as("n_tokens"))
      .persist() // endpoint filter (x2) + cluster join read this
    // 4. near-dup clustering over the surviving docs
    val ids = exact.select($"doc_id")
    val pairs = minhashVerified(Lsh.nz(sid))
      .select($"doc_a", $"doc_b")
      .join(ids.select($"doc_id".as("doc_a")), Seq("doc_a"), "left_semi")
      .join(ids.select($"doc_id".as("doc_b")), Seq("doc_b"), "left_semi")
    val clusters = operators.Graph.connectedComponents(
        pairs.select($"doc_a".as("src"), $"doc_b".as("dst")))
      .select($"node".as("doc_id"), $"component")
    val canonical = exact.join(clusters, Seq("doc_id"), "left")
      .filter(coalesce($"component", $"doc_id") === $"doc_id")
    // 5. stratified sample
    val sampled = canonical.filter(TextQueries.sampleDraw < TextQueries.sampleRate)
    // 6. pack the kept stream into training windows — NOT a per-source
    // window (a source is not structurally bounded; one huge source
    // would sort on a single reducer): range-partitioned global prefix
    // sum under (source, doc_id) minus the per-source start offset
    def packed = operators.PrefixSum
      .withGroupedRunningSum(sampled, "n_tokens", "run_tok", "source", $"doc_id")
      .withColumn("start_tok", $"run_tok" - $"n_tokens")
      .select($"doc_id", $"source", $"lang", $"n_tokens",
        intDiv($"start_tok", lit(TextQueries.ChunkTokens)).as("bin"),
        ($"start_tok" % TextQueries.ChunkTokens).as("offset"))
    CorpusStages(docs, quality, clean, exact, canonical, sampled, () => packed)
  }

  def corpusPipeline(spark: SparkSession, dir: String): DataFrame =
    corpusStages(spark, dir).packed

  /** The pipeline funnel report — the per-stage survivor counts a data
    * engineer reads before shipping a corpus drop: input → quality gate
    * → decontamination → exact dedup → near-dup canonical → sampled.
    * Same stage lineage as t_corpus_pipeline (shared code), six
    * count(*) aggregations. */
  def corpusCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = corpusStages(spark, dir)
    Seq(("input", s.input), ("quality", s.quality), ("clean", s.clean),
      ("exact", s.exact), ("canonical", s.canonical), ("sampled", s.sampled))
      .zipWithIndex.map { case ((nm, df), i) =>
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(i.toLong).as("stage_idx"), lit(nm).as("stage"), $"n_docs")
      }.reduce(_ union _)
  }

  /** The shared CTE body replaying the corpus stages (m → quality →
    * clean → exact → canonical → sampled → packed); the pipeline and
    * card oracles append different final selects. */
  private def corpusCtes: String = {
    val t = tokensSql("text")
    val stop = TextQueries.stopwords.map(w => s"'$w'").mkString("[", ",", "]")
    val rates = TextQueries.sampleRates
      .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }.mkString(" ")
    s"""$minhashPairsCtes,
       |m AS (
       |  SELECT doc_id, lang, source, t,
       |    CAST(len(t) AS BIGINT) AS n,
       |    CAST(len(list_distinct(t)) AS BIGINT) AS nd,
       |    CAST(len(list_filter(t, x -> list_contains($stop, x))) AS BIGINT) AS ns
       |  FROM (SELECT doc_id, lang, source, $t AS t FROM documents)),
       |quality AS (
       |  SELECT doc_id, lang, source, t, n FROM m
       |  WHERE n >= 10 AND nd * 1000 // n >= 100 AND ns * 1000 // n <= 500),
       |bench AS (
       |  SELECT DISTINCT unnest(sid) AS s FROM shing WHERE doc_id % 37 = 0),
       |contaminated AS (
       |  SELECT DISTINCT t2.doc_id
       |  FROM (SELECT doc_id, unnest(sid) AS s FROM shing WHERE doc_id % 37 <> 0) t2
       |  WHERE EXISTS (SELECT 1 FROM bench b WHERE b.s = t2.s)),
       |clean AS (
       |  SELECT * FROM quality q
       |  WHERE doc_id % 37 <> 0
       |    AND NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = q.doc_id)),
       |exact AS (
       |  SELECT doc_id, lang, source, n AS n_tokens FROM (
       |    SELECT doc_id, lang, source, n,
       |      ROW_NUMBER() OVER (
       |        PARTITION BY ${docFingerprintSql("list_sort(t)")}
       |        ORDER BY doc_id) AS rn
       |    FROM clean) WHERE rn = 1),
       |spairs AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  WHERE doc_a IN (SELECT doc_id FROM exact)
       |    AND doc_b IN (SELECT doc_id FROM exact)),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM spairs),
       |sym2 AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
       |cnodes AS (SELECT DISTINCT src AS node FROM sym2),
       |reach(node, r) AS (
       |  SELECT node, node FROM cnodes
       |  UNION
       |  SELECT reach.node, sym2.dst FROM reach JOIN sym2 ON reach.r = sym2.src),
       |comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
       |canonical AS (
       |  SELECT x.* FROM exact x LEFT JOIN comp c ON c.node = x.doc_id
       |  WHERE COALESCE(c.component, x.doc_id) = x.doc_id),
       |sampled AS (
       |  SELECT * FROM canonical
       |  WHERE (doc_id * 1103515245 + 12345) % $P % 1000
       |    < CASE $rates ELSE 25 END),
       |packed AS (
       |  SELECT doc_id, source, lang, n_tokens,
       |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) - n_tokens AS start_tok
       |  FROM sampled)""".stripMargin
  }

  private val corpusPipelineOracle: String =
    s"""WITH RECURSIVE $corpusCtes
       |SELECT doc_id, source, lang, n_tokens,
       |  CAST(start_tok // ${TextQueries.ChunkTokens} AS BIGINT) AS bin,
       |  CAST(start_tok % ${TextQueries.ChunkTokens} AS BIGINT) AS offset
       |FROM packed""".stripMargin

  private val corpusCardOracle: String =
    s"""WITH RECURSIVE $corpusCtes
       |SELECT CAST(0 AS BIGINT) AS stage_idx, 'input' AS stage,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs FROM m
       |UNION ALL SELECT CAST(1 AS BIGINT), 'quality',
       |  CAST(COUNT(*) AS BIGINT) FROM quality
       |UNION ALL SELECT CAST(2 AS BIGINT), 'clean',
       |  CAST(COUNT(*) AS BIGINT) FROM clean
       |UNION ALL SELECT CAST(3 AS BIGINT), 'exact',
       |  CAST(COUNT(*) AS BIGINT) FROM exact
       |UNION ALL SELECT CAST(4 AS BIGINT), 'canonical',
       |  CAST(COUNT(*) AS BIGINT) FROM canonical
       |UNION ALL SELECT CAST(5 AS BIGINT), 'sampled',
       |  CAST(COUNT(*) AS BIGINT) FROM sampled""".stripMargin

  /** Semantic dedup (SemDeDup, Abbas et al. 2023): cluster the corpus
    * embeddings with k-means (one distributed Lloyd's round,
    * `SimilarityQueries.kmeansState`), then inside each cluster drop
    * every vector that has a LOWER-id neighbor with cosine ≥ 0.300 —
    * one representative per near-dup group survives. Emits the kept
    * set (vec_id, cid).
    *
    * Scale shape: the pairwise pass is a self-join WITHIN a cell, so
    * its cost is Σ m_c² with m_c ≈ corpus/K — K grows with the corpus
    * (√N keeps cells constant-sized), which is exactly the SemDeDup
    * deployment shape; the hot-cell cap/salting precedent from d5
    * applies unchanged if a cell skews. */
  def semanticPrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, a2) = SimilarityQueries.kmeansState(spark, dir)
    val assigned = a2.select($"vec_id", $"cid", $"q", $"n2")
      .localCheckpoint() // both sides of the self-join + the anti-join read this
    val dropped = assigned.select($"cid", $"vec_id".as("vec_a"), $"q".as("qa"), $"n2".as("n2a"))
      .join(assigned.select($"cid", $"vec_id".as("vec_b"), $"q".as("qb"), $"n2".as("n2b")), "cid")
      .filter($"vec_a" < $"vec_b")
      .filter(SimilarityQueries.cosMilli($"qa", $"qb", $"n2a", $"n2b") >= 300L)
      .select($"vec_b").distinct()
    assigned.join(dropped, assigned("vec_id") === dropped("vec_b"), "left_anti")
      .select($"vec_id", $"cid")
  }
  private val semanticPruneOracle: String =
    s"""WITH ${SimilarityQueries.kmeansCtes},
       |pairs AS (
       |  SELECT b.vec_id AS vec_b
       |  FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE ${SimilarityQueries.cosMilliSql("a.q", "b.q", "a.n2", "b.n2")} >= 300),
       |dropped AS (SELECT DISTINCT vec_b FROM pairs)
       |SELECT vec_id, cid FROM a2
       |WHERE vec_id NOT IN (SELECT vec_b FROM dropped)""".stripMargin

  /** D10: corpus-wide exact SPAN dedup — the line/paragraph-level
    * exact-substring pass of production corpus pipelines (C4 dedupes
    * three-sentence spans, RefinedWeb/Dolma exact lines): every
    * 8-token span is hashed across the WHOLE corpus and only its
    * first occurrence (smallest (doc_id, pos)) survives; documents
    * are reassembled from surviving spans plus the sub-span tail.
    * Complements d1 (whole-document) and d2 (near-duplicate): this
    * removes boilerplate REGIONS from otherwise unique documents.
    *
    * Scale shape: span table = tokens/8 narrow rows; one groupBy(span)
    * with map-side partial MIN absorbing hot spans (a license header
    * occurring 10^8 times combines per map task before the shuffle —
    * the same skew argument as a7's refCtr), one join back on span,
    * one per-doc reassembly groupBy. No window over span partitions
    * precisely because hot spans would straggle a reducer. The okey
    * encoding assumes pos < 10^6 (documents under 8M tokens). */
  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val S = 8
    val base = Tables.load(spark, dir, "documents")
      .select($"doc_id".cast("long").as("doc_id"),
        tokensCol(lower($"text")).as("t"))
      .select($"doc_id", $"t", (size($"t") / S).cast("int").as("nc"))
      .persist() // read twice: span explode + final reassembly join
    val chunks = base.filter($"nc" > 0)
      .select($"doc_id", explode(transform(sequence(lit(0), $"nc" - 1),
        i => struct(i.cast("long").as("pos"),
          concat_ws(" ", slice($"t", i * S + 1, lit(S))).as("span")))).as("c"))
      .select($"doc_id", $"c.pos".as("pos"), $"c.span".as("span"),
        ($"doc_id" * 1000000L + $"c.pos").as("okey"))
    val firsts = chunks.groupBy($"span").agg(min($"okey").as("first_okey"))
    val kept = chunks.join(firsts, Seq("span"))
      .filter($"okey" === $"first_okey")
    val perDoc = kept.groupBy($"doc_id").agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ", transform(
        sort_array(collect_list(struct($"pos", $"span"))),
        s => s.getField("span"))).as("kept_spans"))
    base.join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        $"nc".cast("long").as("n_spans"),
        ($"nc" - coalesce($"n_kept", lit(0L))).cast("long").as("n_dropped"),
        (coalesce($"n_kept", lit(0L)) * S + (size($"t") - $"nc" * S))
          .cast("long").as("kept_tokens"),
        md5(concat_ws(" ", filter(array(
          coalesce($"kept_spans", lit("")),
          concat_ws(" ", slice($"t", $"nc" * S + 1, size($"t") - $"nc" * S)))
          , x => x =!= ""))).as("kept_md5"))
  }
  private val spanDedupOracle: String = {
    val t = tokensSql("lower(text)")
    s"""WITH toks AS (SELECT doc_id, $t AS t FROM documents),
       |base AS (SELECT doc_id, t, CAST(len(t) // 8 AS BIGINT) AS nc FROM toks),
       |raw AS (
       |  SELECT doc_id, unnest([{'pos': i,
       |      'span': array_to_string(t[CAST(i*8+1 AS INT):CAST(i*8+8 AS INT)], ' ')}
       |    for i in range(0, CAST(nc AS INT))]) AS u
       |  FROM base),
       |chunks AS (
       |  SELECT doc_id, struct_extract(u, 'pos') AS pos,
       |    struct_extract(u, 'span') AS span,
       |    doc_id*1000000 + struct_extract(u, 'pos') AS okey
       |  FROM raw),
       |firsts AS (SELECT span, MIN(okey) AS fk FROM chunks GROUP BY 1),
       |kept AS (
       |  SELECT c.* FROM chunks c
       |  JOIN firsts f ON c.span = f.span AND c.okey = f.fk),
       |perdoc AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |    string_agg(span, ' ' ORDER BY pos) AS kept_spans
       |  FROM kept GROUP BY 1)
       |SELECT b.doc_id,
       |  nc AS n_spans,
       |  nc - COALESCE(n_kept, 0) AS n_dropped,
       |  COALESCE(n_kept, 0)*8 + (len(t) - nc*8) AS kept_tokens,
  |  md5(COALESCE(array_to_string(list_filter([
       |    COALESCE(kept_spans, ''),
       |    COALESCE(array_to_string(t[CAST(nc*8+1 AS INT):len(t)], ' '), '')
       |  ], x -> x <> ''), ' '), '')) AS kept_md5
       |FROM base b LEFT JOIN perdoc p ON b.doc_id = p.doc_id""".stripMargin
  }

  /** Sliding-gram width for d18 (tokens). Production exact-substring
    * dedup uses 50 (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"); 8 exercises the machinery on the small
    * synthetic docs. */
  val SubK = 8

  /** d18: exact duplicated-SUBSTRING regions at ARBITRARY offsets — the
    * suffix-array pass of production pipelines, re-expressed relationally.
    * Lee et al. build a corpus suffix array and drop any ≥50-token run
    * occurring twice; the relational equivalent: every SLIDING K-token
    * gram (not d10's disjoint chunks) that occurs ≥2 times corpus-wide
    * (same doc counts — self-repetition is boilerplate too) marks the
    * token interval [pos, pos+K-1] as duplicated, and a doc's maximal
    * duplicated regions are the merged overlapping-or-adjacent intervals
    * (gaps-and-islands). Any duplicated run of length L ≥ K is covered
    * exactly by its L-K+1 duplicated grams, so merged islands ARE the
    * maximal duplicated substrings — same answer as the suffix array,
    * no global sort.
    *
    * Scale shape: sliding grams are ~tokens× rows, so the gram strings
    * themselves must not all shuffle. Two-phase exact filter:
    *   1. shuffle only (xxhash64(gram), 1) — map-side partial counts
    *      absorb hot boilerplate — and keep hashes with count ≥ 2;
    *   2. semi-join grams to the surviving hashes (hash shuffle, narrow
    *      key) and confirm by exact gram string groupBy over the
    *      (small) candidate subset only.
    * Phase 2 makes the result collision-proof: a hash collision only
    * admits a gram into the confirm stage, where the string groupBy
    * rejects it. The per-doc interval merge windows over doc_id —
    * bounded by one document's tokens, never corpus-wide. */
  def substringDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.load(spark, dir, "documents")
      .select($"doc_id", tokensCol(lower($"text")).as("t"))
      .persist() // grams + final total_tokens join
    val grams = toks.filter(size($"t") >= SubK)
      .select($"doc_id", posexplode(transform(
        sequence(lit(0), size($"t") - SubK),
        i => concat_ws(" ", slice($"t", i + 1, lit(SubK)))))
        .as(Seq("pos", "gram")))
      .withColumn("gh", xxhash64($"gram"))
      .persist() // count pass + probe pass share the explode
    val dupHashes = grams.groupBy($"gh").agg(count(lit(1)).as("c"))
      .filter($"c" >= 2).select($"gh")
    val cand = grams.join(dupHashes, Seq("gh"), "left_semi")
    val dupGrams = cand.groupBy($"gram").agg(count(lit(1)).as("c"))
      .filter($"c" >= 2).select($"gram")
    val hits = cand.join(dupGrams, Seq("gram"), "left_semi")
      .select($"doc_id", $"pos".cast("long").as("pos"),
        ($"pos" + (SubK - 1)).cast("long").as("e"))
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val prevEnd = max($"e").over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    val isl = hits
      .withColumn("brk",
        when($"pos" > coalesce(prevEnd, lit(-1L)) + 1L, 1L).otherwise(0L))
      .withColumn("isl", sum($"brk").over(w))
    val spans = isl.groupBy($"doc_id", $"isl")
      .agg(min($"pos").as("s"), max($"e").as("e"))
    spans.groupBy($"doc_id").agg(
        count(lit(1)).as("n_spans"),
        sum($"e" - $"s" + 1L).as("dup_tokens"))
      .join(toks.select($"doc_id",
        size($"t").cast("long").as("total_tokens")), Seq("doc_id"))
      .select($"doc_id", $"n_spans", $"dup_tokens", $"total_tokens")
  }
  private val substringDedupOracle: String = {
    val t = tokensSql("lower(text)")
    s"""WITH toks AS (SELECT doc_id, $t AS t FROM documents),
       |raw AS (
       |  SELECT doc_id, unnest([{'pos': i,
       |      'gram': array_to_string(t[CAST(i+1 AS INT):CAST(i+$SubK AS INT)], ' ')}
       |    for i in range(0, CAST(len(t) - ${SubK - 1} AS INT))]) AS u
       |  FROM toks WHERE len(t) >= $SubK),
       |grams AS (SELECT doc_id, struct_extract(u, 'pos') AS pos,
       |    struct_extract(u, 'gram') AS gram FROM raw),
       |dup AS (SELECT gram FROM grams GROUP BY 1 HAVING COUNT(*) >= 2),
       |hits AS (SELECT doc_id, pos, pos + ${SubK - 1} AS e
       |  FROM grams JOIN dup USING (gram)),
       |brk AS (SELECT doc_id, pos, e,
       |    CASE WHEN pos > COALESCE(MAX(e) OVER (PARTITION BY doc_id
       |      ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      -1) + 1 THEN 1 ELSE 0 END AS b
       |  FROM hits),
       |isl AS (SELECT doc_id, pos, e,
       |    SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM brk),
       |spans AS (SELECT doc_id, g, MIN(pos) AS s, MAX(e) AS e
       |  FROM isl GROUP BY 1, 2),
       |perdoc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       |    CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens FROM spans GROUP BY 1)
       |SELECT p.doc_id, n_spans, dup_tokens,
       |  CAST(len(t) AS BIGINT) AS total_tokens
       |FROM perdoc p JOIN toks USING (doc_id)""".stripMargin
  }

  override def register(): Unit = {
    // not bench-flagged: the 11-query bench set is held stable across
    // rounds for comparability; the pipeline's end-to-end time at sf0.1
    // is ~3.2s (measured, ≈ the sum of its stages' standalone costs)
    Queries.register(QueryDef("t_corpus_pipeline", corpusPipeline,
      Some(corpusPipelineOracle), bench = true))
    Queries.register(QueryDef("t_corpus_card", corpusCard,
      Some(corpusCardOracle)))
    Queries.register(QueryDef("d1_exact_dedup", exactDedup, Some(exactDedupOracle)))
    Queries.register(QueryDef("d2_minhash_lsh", minhashLsh, Some(minhashOracle), bench = true))
    Queries.register(QueryDef("d3_simhash", simhash, Some(simhashOracle)))
    Queries.register(QueryDef("d4_ngram_jaccard", ngramJaccard, Some(ngramJaccardOracle)))
    Queries.register(QueryDef("d4b_ngram_degree", ngramDegree,
      Some(candidateLoadOracleFrom(ngramNzCtes))))
    Queries.register(QueryDef("d5_embedding_neardup", embeddingNearDup, Some(embeddingNearDupOracle), bench = true))
    Queries.register(QueryDef("d6_dedup_clusters", dedupClusters, Some(dedupClustersOracle)))
    Queries.register(QueryDef("d7_decontaminate", decontaminate, Some(decontaminateOracle)))
    Queries.register(QueryDef("d12_fuzzy_decontaminate", fuzzyDecontaminate,
      Some(fuzzyDecontaminateOracle)))
    Queries.register(QueryDef("d17_embed_decontaminate", embedDecontaminate,
      Some(embedDecontaminateOracle)))
    Queries.register(QueryDef("t_split_leakage", splitLeakage,
      Some(splitLeakageOracle)))
    Queries.register(QueryDef("t_source_overlap", sourceOverlap,
      Some(sourceOverlapOracle)))
    Queries.register(QueryDef("d8_incremental_dedup", incrementalDedup, Some(incrementalDedupOracle)))
    Queries.register(QueryDef("d19_lsh_recall_eval", lshRecallEval,
      Some(lshRecallEvalOracle)))
    Queries.register(QueryDef("d19b_lsh_recall_sample", lshRecallSample,
      Some(lshRecallSampleOracle)))
    Queries.register(QueryDef("d9_semantic_prune", semanticPrune, Some(semanticPruneOracle)))
    Queries.register(QueryDef("d10_span_dedup", spanDedup, Some(spanDedupOracle)))
    Queries.register(QueryDef("d18_substring_dedup", substringDedup,
      Some(substringDedupOracle), bench = true))
    Queries.register(QueryDef("d11_containment", containment, Some(containmentOracle)))
    Queries.register(QueryDef("d13_winnow_dedup", winnowDedup, Some(winnowOracle)))
    Queries.register(QueryDef("d13b_winnow_degree", winnowDegree,
      Some(candidateLoadOracleFrom(winnowNzCtes))))
    Queries.register(QueryDef("d14_cdc_dedup", cdcDedup, Some(cdcDedupOracle)))
    Queries.register(QueryDef("d15_soft_dedup", softDedup, Some(softDedupOracle)))
    Queries.register(QueryDef("d16_bloom_prefilter", bloomPrefilter,
      Some(bloomPrefilterOracle)))
    Queries.register(QueryDef("d20_quality_canonical", qualityCanonical,
      Some(qualityCanonicalOracle)))
    Queries.register(QueryDef("t_incremental_refresh", incrementalRefresh,
      Some(incrementalRefreshOracle)))
  }

  /** The INCREMENTAL twin of the t_corpus_pipeline capstone: a daily
    * shard (doc_id % 10 = 7) runs the full admission chain against the
    * STANDING corpus — quality gate, benchmark decontamination, exact-
    * fingerprint anti-join, and the asymmetric LSH probe (shard bands
    * × corpus bands through the shared hot-cap, d8's shape) — emitting
    * one audit row per shard document with a bit per stage, so the
    * refresh is explainable document by document. Daily shuffle volume
    * is proportional to the SHARD, never the corpus: the corpus
    * contributes its (persisted) band index, fingerprint set and
    * benchmark shingles, all index-sized artifacts. */
  def incrementalRefresh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stop = TextQueries.stopwords
    val docs = Tables.load(spark, dir, "documents")
      .select($"doc_id", tokensCol($"text").as("t")).persist()
    val n = size($"t").cast("long")
    val nd = size(array_distinct($"t")).cast("long")
    val ns = size(filter($"t", x => x.isInCollection(stop))).cast("long")
    val flags = docs.select($"doc_id",
      (n >= 10L && intDiv(nd * 1000L, n) >= 100L &&
        intDiv(ns * 1000L, n) <= 500L).as("q_pass"),
      docFingerprint(array_sort($"t")).as("ck")).persist()
    val isShard = $"doc_id" % 10 === 7
    val shard = flags.filter(isShard)
    val sid = Lsh.shingles(spark, dir)
    val benchS = sid.filter($"doc_id" % 37 === 0 && $"doc_id" % 10 =!= 7)
      .select(explode($"sid").as("s")).distinct()
    val contaminated = sid.filter($"doc_id" % 10 === 7)
      .select($"doc_id", explode($"sid").as("s"))
      .join(broadcast(benchS), Seq("s"), "left_semi")
      .select($"doc_id").distinct().withColumn("c_hit", lit(true))
    val corpusCk = flags.filter(!isShard).select($"ck").distinct()
    val exactDup = shard.join(corpusCk, Seq("ck"), "left_semi")
      .select($"doc_id").withColumn("e_hit", lit(true))
    val base = Lsh.nz(sid)
    val capped = Lsh.capped(Lsh.bands(base).persist(), bandCap(spark))
    val cand = Lsh.probe(capped.filter($"doc_id" % 10 === 7),
        capped.filter($"doc_id" % 10 =!= 7))($"n.doc_id".as("sdoc"), $"o.doc_id".as("cdoc"))
    val nearDup = Lsh.jaccard(cand, base, 800L)
      .select($"sdoc".as("doc_id")).distinct().withColumn("n_hit", lit(true))
    shard.select($"doc_id", $"q_pass")
      .join(contaminated, Seq("doc_id"), "left")
      .join(exactDup, Seq("doc_id"), "left")
      .join(nearDup, Seq("doc_id"), "left")
      .select($"doc_id", $"q_pass",
        coalesce($"c_hit", lit(false)).as("contaminated"),
        coalesce($"e_hit", lit(false)).as("exact_dup"),
        coalesce($"n_hit", lit(false)).as("near_dup"))
      .withColumn("kept", $"q_pass" && !$"contaminated" &&
        !$"exact_dup" && !$"near_dup")
  }
  private val incrementalRefreshOracle: String = {
    val stop = TextQueries.stopwords.map(w => s"'$w'").mkString("[", ",", "]")
    s"""WITH $minhashPairsCtes,
       |m2 AS (
       |  SELECT doc_id, t,
       |    CAST(len(t) AS BIGINT) AS n,
       |    CAST(len(list_distinct(t)) AS BIGINT) AS nd,
       |    CAST(len(list_filter(t, x -> list_contains($stop, x))) AS BIGINT) AS ns
       |  FROM toks),
       |flags AS (
       |  SELECT doc_id,
       |    (n >= 10 AND nd * 1000 // n >= 100 AND ns * 1000 // n <= 500) AS q_pass,
       |    ${docFingerprintSql("list_sort(t)")} AS ck
       |  FROM m2),
       |bench2 AS (
       |  SELECT DISTINCT unnest(sid) AS s FROM shing
       |  WHERE doc_id % 37 = 0 AND doc_id % 10 <> 7),
       |cont2 AS (
       |  SELECT DISTINCT t2.doc_id
       |  FROM (SELECT doc_id, unnest(sid) AS s FROM shing
       |        WHERE doc_id % 10 = 7) t2
       |  WHERE EXISTS (SELECT 1 FROM bench2 b WHERE b.s = t2.s)),
       |cck AS (SELECT DISTINCT ck FROM flags WHERE doc_id % 10 <> 7),
       |ncand2 AS (
       |  SELECT DISTINCT n.doc_id AS sdoc, o.doc_id AS cdoc
       |  FROM bandrows n JOIN bandrows o
       |    ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
       |   AND n.doc_id % 10 = 7 AND o.doc_id % 10 <> 7),
       |nd2 AS (
       |  SELECT DISTINCT sdoc AS doc_id FROM ncand2
       |  JOIN base sa ON sa.doc_id = sdoc
       |  JOIN base sb ON sb.doc_id = cdoc
       |  WHERE $jaccSql >= 800)
       |SELECT f.doc_id, f.q_pass,
       |  f.doc_id IN (SELECT doc_id FROM cont2) AS contaminated,
       |  f.ck IN (SELECT ck FROM cck) AS exact_dup,
       |  f.doc_id IN (SELECT doc_id FROM nd2) AS near_dup,
       |  (f.q_pass AND f.doc_id NOT IN (SELECT doc_id FROM cont2)
       |    AND f.ck NOT IN (SELECT ck FROM cck)
       |    AND f.doc_id NOT IN (SELECT doc_id FROM nd2)) AS kept
       |FROM flags f WHERE f.doc_id % 10 = 7""".stripMargin
  }

  /** D11: ASYMMETRIC containment detection (Broder's containment
    * |A∩B| / min(|A|,|B|)) — catches a short document quoted inside a
    * long one, which symmetric Jaccard structurally cannot (the union
    * dilutes it): the quote/boilerplate-inclusion pass of corpus
    * pipelines. Same candidate machinery as d2 (shingle table → LSH
    * band index → three-regime guarded join), different verify; the
    * `containment_only` bit marks exactly the pairs Jaccard would
    * have missed. */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Lsh.nz(Lsh.shingles(spark, dir))
    Lsh.verify(guardedBandPairs(Lsh.bands(base).persist()), base)
      .select($"doc_a", $"doc_b",
        intDiv($"inter" * 1000L, $"small").as("cont_milli"), $"jacc_milli")
      .filter($"cont_milli" >= 500L)
      .withColumn("containment_only",
        $"cont_milli" >= 800L && $"jacc_milli" < 800L)
  }
  private val containmentOracle: String = {
    val inter = "CAST(len(list_intersect(sa.sid, sb.sid)) AS BIGINT)"
    val small = "LEAST(CAST(len(sa.sid) AS BIGINT), CAST(len(sb.sid) AS BIGINT))"
    val uni = "CAST(len(list_distinct(list_concat(sa.sid, sb.sid))) AS BIGINT)"
    s"""WITH $minhashPairsCtes,
       |cont AS (
       |  SELECT doc_a, doc_b,
       |    $inter * 1000 // $small AS cont_milli,
       |    $inter * 1000 // $uni AS jacc_milli
       |  FROM cand
       |  JOIN base sa ON sa.doc_id = doc_a
       |  JOIN base sb ON sb.doc_id = doc_b)
       |SELECT doc_a, doc_b, cont_milli, jacc_milli,
       |  (cont_milli >= 800 AND jacc_milli < 800) AS containment_only
       |FROM cont WHERE cont_milli >= 500""".stripMargin
  }

  /** Winnowing window size: the fingerprint selector keeps the rightmost
    * minimal 3-gram hash out of every `WinnowW` consecutive k-grams
    * (Schleimer/Wilkerson/Aiken 2003, the MOSS fingerprinter). Density
    * guarantee 2/(w+1); any shared token run of length >= w+k-1 = 6 is
    * guaranteed to share a fingerprint — unlike minhash, matches are
    * POSITIONAL, so winnowing catches local plagiarism/quoting that
    * whole-document sketches dilute away. */
  val WinnowW = 4

  /** D13: winnowing-fingerprint near-dup. Per-doc fingerprint selection
    * is one map-side pass (token hashes -> order-sensitive 3-gram stream
    * -> rightmost-min-per-window, all codegen'd HOFs over materialized
    * attribute columns per the shingleIdsFrom scaling note); pairing
    * reuses d4's EXACT prefix-filter inverted index over the (much
    * sparser: ~0.4x kgrams) fingerprint sets, so the oracle is the
    * unblocked all-pairs join — no recall caveat to replay. */
  private[graft] def winnowBase(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val W = WinnowW
    // order-sensitive 3-gram hash stream — duplicates KEPT (positions
    // matter to the window walk), unlike the set-semantics shingleIds
    val kgrams = when(size($"h") >= 3,
      transform(sequence(lit(1), size($"h") - 2), i =>
        ((element_at($"h", i) * 131L + element_at($"h", i + 1)) % P * 131L +
          element_at($"h", i + 2)) % P))
      .otherwise(array().cast("array<long>"))
    // window j covers kg[j .. j+wl-1]; wl < W only on the single clamped
    // window of a doc shorter than W k-grams (which still fingerprints)
    val wl = (j: Column) => least(lit(W), size($"kg") - j + 1)
    // rightmost occurrence of the window minimum — the canonical tie rule
    // (maximizes selection overlap between adjacent windows)
    val sel = (j: Column) =>
      j + array_max(filter(sequence(lit(0), wl(j) - 1), i =>
        element_at($"kg", j + i) === array_min(slice($"kg", j, wl(j)))))
    val fps = when(size($"kg") >= 1,
      array_sort(array_distinct(transform(
        sequence(lit(1), greatest(size($"kg") - W + 1, lit(1))),
        j => element_at($"kg", sel(j))))))
      .otherwise(array().cast("array<long>"))
    Tables.load(spark, dir, "documents")
      .select($"doc_id", transform(tokensCol($"text"), wordHash(_)).as("h"))
      .select($"doc_id", kgrams.as("kg")) // attribute barrier (shingleIdsFrom)
      .select($"doc_id", fps.as("sid"))
      .persist() // barrier before filter (see Lsh.shingles) + verify joins
      .filter(size($"sid") > 0)
      .withColumn("len", size($"sid").cast("long"))
  }

  def winnowDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = winnowBase(spark, dir)
    // exact prefix filter, J >= 0.5
    Lsh.jaccard(ngramCandidates(base), base, 500L)
  }
  /** All-pairs oracle (prefix filtering is exact, cf. ngramJaccardOracle);
    * the winnow selection replays bit-for-bit in DuckDB list
    * comprehensions (rightmost-min via list_max over matching offsets). */
  /** The winnow-fingerprint nz CTE chain shared by the d13 oracle and
    * the d13b degree twin's oracle. */
  private val winnowNzCtes: String = {
    val W = WinnowW
    val wl = s"least($W, len(kg)-j+1)"
    s"""toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
       |th AS (SELECT doc_id, t, $tokenHashesSql AS h FROM toks),
       |kgs AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) >= 3 THEN [ ((h[i]*131 + h[i+1]) % $P * 131 + h[i+2]) % $P for i in range(1, len(t)-1) ]
       |         ELSE CAST([] AS BIGINT[]) END AS kg
       |  FROM th),
       |base AS (
       |  SELECT doc_id,
       |    CASE WHEN len(kg) >= 1 THEN list_sort(list_distinct([
       |        kg[j + list_max([i for i in range(0, $wl) if kg[j+i] = list_min(kg[j:j+$wl-1])])]
       |        for j in range(1, greatest(len(kg)-$W+1, 1)+1) ]))
       |      ELSE CAST([] AS BIGINT[]) END AS sid
       |  FROM kgs),
       |nz AS (SELECT * FROM base WHERE len(sid) > 0)""".stripMargin
  }

  private val winnowOracle: String =
    s"""WITH $winnowNzCtes
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(len(list_intersect(a.sid, b.sid)) AS BIGINT) * 1000
       |    // CAST(len(list_distinct(list_concat(a.sid, b.sid))) AS BIGINT) AS jacc_milli
       |FROM nz a JOIN nz b ON a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.sid, b.sid)) AS BIGINT) * 1000
       |    // CAST(len(list_distinct(list_concat(a.sid, b.sid))) AS BIGINT) >= 500""".stripMargin

  /** Bloom pre-filter geometry: BloomM bits (as 32-bit words in BIGINTs
    * — bit 63 would overflow DuckDB's checked shift), BloomK hash
    * probes per key at aj/bj rows 48+ (clear of the minhash 0–15, LSH
    * 16–31 and hyperplane 32–47 ranges). */
  val BloomM = 65536L
  val BloomK = 3

  /** D16: Bloom-filter PRE-FILTER for incremental exact-dedup — the
    * runtime-filter trick applied to admission: the corpus' content
    * keys are folded into a BloomM-bit filter (one groupBy over ≤2048
    * (word, bits) rows), which is BROADCAST so each arriving doc tests
    * membership MAP-SIDE. `maybe_seen = false` is definitive (Bloom
    * filters have no false negatives — the spec'd invariant), so only
    * the maybe-seen sliver pays the exact probe join; at 100 TB the
    * filter is megabytes while the key index is terabytes, and the
    * expected join traffic drops by the filter's rejection rate.
    * Deterministic integer bit math throughout, so the oracle replays
    * the filter bit-for-bit. */
  def bloomPrefilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keys = Tables.load(spark, dir, "documents")
      .select($"doc_id",
        docFingerprint(array_sort(tokensCol($"text"))).as("key"))
      .persist() // corpus build + stream probe + exact check all read it
    val corpus = keys.filter($"doc_id" % 3 =!= 0)
    val stream = keys.filter($"doc_id" % 3 === 0)
    // key < P and aj < P, so aj*key < 2^62: no overflow
    val posCols = array((0 until BloomK).map(j =>
      pmod(pmod(lit(aj(48 + j)) * $"key" + lit(bj(48 + j)), lit(P)),
        lit(BloomM))): _*)
    val bits = corpus.select(explode(posCols).as("pos")).distinct()
      .select(intDiv($"pos", lit(32L)).as("word"),
        pmod($"pos", lit(32L)).cast("int").as("b"))
      .groupBy($"word")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), b))").as("bits"))
    val hits = stream.select($"doc_id", explode(posCols).as("pos"))
      .select($"doc_id", intDiv($"pos", lit(32L)).as("word"),
        pmod($"pos", lit(32L)).cast("int").as("b"))
      .join(broadcast(bits), Seq("word"), "left")
      .select($"doc_id",
        (coalesce($"bits", lit(0L))
          .bitwiseAND(expr("shiftleft(CAST(1 AS BIGINT), b)")) =!= 0L)
          .as("hit"))
      .groupBy($"doc_id").agg(expr("bool_and(hit)").as("maybe_seen"))
    val seen = corpus.select($"key").distinct()
      .withColumn("actually_seen", lit(true))
    stream.join(hits, Seq("doc_id"))
      .join(seen, Seq("key"), "left")
      .select($"doc_id", $"maybe_seen",
        coalesce($"actually_seen", lit(false)).as("actually_seen"))
  }
  private val bloomPrefilterOracle: String = {
    val t = tokensSql("text")
    val posList = (0 until BloomK).map(j =>
      s"((${aj(48 + j)}*key + ${bj(48 + j)}) % $P) % $BloomM").mkString(", ")
    s"""WITH keys AS (
       |  SELECT doc_id, ${docFingerprintSql(s"list_sort($t)")} AS key
       |  FROM documents),
       |corpus AS (SELECT * FROM keys WHERE doc_id % 3 <> 0),
       |stream AS (SELECT * FROM keys WHERE doc_id % 3 = 0),
       |cpos AS (SELECT DISTINCT unnest([$posList]) AS pos FROM corpus),
       |bitsT AS (
       |  SELECT pos // 32 AS word,
       |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
       |  FROM cpos GROUP BY 1),
       |spos AS (SELECT doc_id, unnest([$posList]) AS pos FROM stream),
       |hits AS (
       |  SELECT doc_id,
       |    (COALESCE(bits, 0) & (CAST(1 AS BIGINT) << CAST(pos % 32 AS INT))) <> 0 AS hit
       |  FROM spos LEFT JOIN bitsT ON pos // 32 = word),
       |mb AS (SELECT doc_id, bool_and(hit) AS maybe_seen FROM hits GROUP BY 1)
       |SELECT s.doc_id, m.maybe_seen,
       |  EXISTS(SELECT 1 FROM corpus c WHERE c.key = s.key) AS actually_seen
       |FROM stream s JOIN mb m ON s.doc_id = m.doc_id""".stripMargin
  }

  /** Content-defined-chunking boundary divisor: a token closes a chunk
    * when its hash ≡ 0 (mod CdcD), giving ~CdcD-token average chunks.
    * Content-defined boundaries (the rsync/LBFS/FastCDC idea) are what
    * make chunk dedup SHIFT-ROBUST: inserting one token re-aligns at
    * most the chunk it lands in, where d10's fixed 8-token grid
    * re-aligns every span after the edit point. */
  val CdcD = 16L

  /** Chunk spans for (doc_id, t): boundary positions -> [start,end]
    * pairs -> valid-chunk count. Exposed for the shift-robustness spec. */
  private[graft] def cdcBase(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // size guard (the posOf rule): sequence(1, 0) on an EMPTY doc is the
    // DESCENDING [1, 0] and the filter would probe element_at(h, 1) on a
    // zero-element array, killing the task — an empty doc simply has no
    // boundaries
    val bps = when(size($"t") > 0,
      filter(sequence(lit(1), size($"t")), i =>
        element_at($"h", i) % CdcD === 0))
      .otherwise(array().cast("array<int>"))
    docs
      .select($"doc_id", $"t", transform($"t", wordHash(_)).as("h"))
      .select($"doc_id", $"t", $"h", bps.as("bps")) // attribute barriers
      .select($"doc_id", $"t", $"h",
        transform(concat(array(lit(0)), $"bps"), x => x + 1).as("st"),
        concat($"bps", array(size($"t"))).as("en"))
      // the only invalid span is the trailing empty one (when the last
      // token is itself a boundary), so pre-filter indices 1..nc align
      // with post-filter positions on both engines
      .select($"doc_id", $"t", $"h", $"st", $"en",
        size(filter(zip_with($"st", $"en", (s, e) => s <= e), b => b)).as("nc"))
  }

  /** One row per chunk: (doc_id, pos, ntok, fp, txt, okey). */
  private[graft] def cdcChunks(base: DataFrame): DataFrame = {
    import base.sparkSession.implicits._
    val s = (j: Column) => element_at($"st", j)
    val e = (j: Column) => element_at($"en", j)
    base.filter($"nc" > 0)
      .select($"doc_id",
        explode(filter(transform(sequence(lit(1), size($"st")), j =>
          struct(j.cast("long").as("pos"),
            (e(j) - s(j) + 1).cast("long").as("ntok"),
            aggregate(slice($"h", s(j), e(j) - s(j) + 1), lit(0L),
              (a, b) => (a * 131L + b) % P).as("fp"),
            concat_ws(" ", slice($"t", s(j), e(j) - s(j) + 1)).as("txt"))),
          c => c.getField("ntok") >= 1L)).as("c"))
      .select($"doc_id", $"c.pos".as("pos"), $"c.ntok".as("ntok"),
        $"c.fp".as("fp"), $"c.txt".as("txt"),
        ($"doc_id" * 1000000L + $"c.pos").as("okey"))
  }

  /** D14: corpus-wide CDC chunk dedup — d10's exact-region pass with
    * content-defined boundaries instead of a fixed grid, so boilerplate
    * regions dedupe even when surrounding edits shift their token
    * offsets (the case the fixed grid structurally misses). Same scale
    * shape as d10: narrow chunk rows, ONE groupBy(fp) whose map-side
    * partial MIN absorbs hot boilerplate chunks, join back, per-doc
    * reassembly; okey assumes pos < 10^6. */
  def cdcDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = cdcBase(Tables.load(spark, dir, "documents")
        .select($"doc_id".cast("long").as("doc_id"),
          tokensCol(lower($"text")).as("t")))
      .persist() // read twice: chunk explode + final reassembly join
    val chunks = cdcChunks(base)
    val firsts = chunks.groupBy($"fp").agg(min($"okey").as("first_okey"))
    val kept = chunks.join(firsts, Seq("fp"))
      .filter($"okey" === $"first_okey")
    val perDoc = kept.groupBy($"doc_id").agg(
      count(lit(1)).as("n_kept"),
      sum($"ntok").as("kt"),
      concat_ws(" ", transform(
        sort_array(collect_list(struct($"pos", $"txt"))),
        c => c.getField("txt"))).as("kept_txt"))
    base.join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        $"nc".cast("long").as("n_chunks"),
        ($"nc" - coalesce($"n_kept", lit(0L))).cast("long").as("n_dropped"),
        coalesce($"kt", lit(0L)).as("kept_tokens"),
        md5(coalesce($"kept_txt", lit(""))).as("kept_md5"))
  }
  private val cdcDedupOracle: String = {
    val t = tokensSql("lower(text)")
    s"""WITH toks AS (SELECT doc_id, $t AS t FROM documents),
       |th AS (SELECT doc_id, t, $tokenHashesSql AS h FROM toks),
       |bp AS (
       |  SELECT doc_id, t, h,
       |    [i for i in range(1, len(t)+1) if h[i] % $CdcD = 0] AS bps
       |  FROM th),
       |se AS (
       |  SELECT doc_id, t, h,
       |    list_transform(list_prepend(CAST(0 AS BIGINT), bps), y -> y + 1) AS st,
       |    list_append(bps, CAST(len(t) AS BIGINT)) AS en
       |  FROM bp),
       |base AS (
       |  SELECT doc_id, t, h, st, en,
       |    len([j for j in range(1, len(st)+1) if st[j] <= en[j]]) AS nc
       |  FROM se),
       |raw AS (
       |  SELECT doc_id, unnest([{'pos': j,
       |      'ntok': en[j] - st[j] + 1,
       |      'fp': list_reduce(list_prepend(CAST(0 AS BIGINT),
       |          h[CAST(st[j] AS INT):CAST(en[j] AS INT)]),
       |        (a,b) -> (a*131+b) % $P),
       |      'txt': array_to_string(t[CAST(st[j] AS INT):CAST(en[j] AS INT)], ' ')}
       |    for j in range(1, len(st)+1) if st[j] <= en[j]]) AS u
       |  FROM base WHERE nc > 0),
       |chunks AS (
       |  SELECT doc_id, struct_extract(u, 'pos') AS pos,
       |    struct_extract(u, 'ntok') AS ntok,
       |    struct_extract(u, 'fp') AS fp,
       |    struct_extract(u, 'txt') AS txt,
       |    doc_id*1000000 + struct_extract(u, 'pos') AS okey
       |  FROM raw),
       |firsts AS (SELECT fp, MIN(okey) AS fk FROM chunks GROUP BY 1),
       |kept AS (
       |  SELECT c.* FROM chunks c
       |  JOIN firsts f ON c.fp = f.fp AND c.okey = f.fk),
       |perdoc AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |    CAST(SUM(ntok) AS BIGINT) AS kt,
       |    string_agg(txt, ' ' ORDER BY pos) AS kept_txt
       |  FROM kept GROUP BY 1)
       |SELECT b.doc_id,
       |  CAST(nc AS BIGINT) AS n_chunks,
       |  CAST(nc - COALESCE(n_kept, 0) AS BIGINT) AS n_dropped,
       |  COALESCE(kt, 0) AS kept_tokens,
       |  md5(COALESCE(kept_txt, '')) AS kept_md5
       |FROM base b LEFT JOIN perdoc p ON b.doc_id = p.doc_id""".stripMargin
  }
}
