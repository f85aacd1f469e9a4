package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`Array[Float]` column) — the similarity-search surface of a
  * training-data pipeline (reference analog: SimilarQuery more-like-this,
  * `pipeline/storage/marklogic/ml_lexer.py:22-148`, generalized to vectors).
  *
  * Scale design: the query set is broadcast (small side), so brute-force
  * top-k is a map-side cross product + per-query top-k — no slow cross
  * shuffle. The LSH variant buckets both sides by a deterministic
  * random-hyperplane signature; at 100 TB the bucket join shuffles only
  * (bucket, vec) pairs and each bucket is a tiny fraction of the corpus
  * (multi-probe would widen recall). Vectors are milli-quantized to
  * integers so dot products are exact and the single IEEE sqrt+divide is
  * bit-stable across engines.
  */
object SimilarityQueries extends QueryGroup {
  import TextQueries.{HashP => P}
  import DedupQueries.{aj, bj}

  private val NQueries = 10 // probe set: vec_id < 10
  private val LshBits = 8

  /** Milli-quantized integer vector + its squared norm.
    *
    * Degenerate-vector guard (the DegenerateEmbeddingsSpec contract):
    * a null/empty embedding (failed encoder output) or a zero vector
    * (norm 0 ⇒ cosine undefined, and the divisor of every cosine) never
    * enters the index — the production drop-at-ingest rule, mirrored in
    * the oracle SQL. Truncated-dimension vectors stay in the index, but
    * any score against a different dimension is NULL (the dot keeps
    * zip_with's null-on-mismatch semantics) and does not rank — the
    * typed top-k boundaries drop null scores. */
  /** Element-level ingest guard: a vector containing a non-finite or
    * absurd-magnitude element (|x| > 1e4; unit-normed embeddings never
    * approach it, and it keeps every squared milli-quant sum far from
    * long overflow at any realistic dimension) is a failed encoder
    * output — dropped at ingest like the zero-norm case, because NaN
    * survives every length/norm check and only explodes inside the
    * ANSI quantization cast. Mirrored exactly in [[finiteVecSql]]. */
  private[graft] def finiteVec(c: Column): Column =
    !exists(c, x =>
      isnan(x.cast("double")) || abs(x.cast("double")) > lit(1e4))
  private[graft] def finiteVecSql(col: String): String =
    s"len(list_filter($col, x -> isnan(CAST(x AS DOUBLE)) OR abs(CAST(x AS DOUBLE)) > 1e4)) = 0"
  /** Milli-quantize one element, non-finite-safe: the ingest filter
    * above DROPS non-finite vectors, but Catalyst is free to merge and
    * reorder the filter conjuncts with the quantizing projection, so
    * the cast itself must never see the NaN — a guarded element maps to
    * null (making n2 null, which the n2 > 0 filter then drops). On
    * finite inputs this is bit-identical to round(x*1000). */
  private[graft] def quantElem(x: Column): Column = {
    val d = x.cast("double")
    round(when(isnan(d) || abs(d) > lit(1e4), lit(null).cast("double"))
      .otherwise(d) * 1000d).cast("long")
  }

  private[graft] def quantized(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "embeddings")
      .filter($"embedding".isNotNull && size($"embedding") > 0 &&
        finiteVec($"embedding"))
      .select($"vec_id", $"label",
        transform($"embedding", x => quantElem(x)).as("q"))
      .withColumn("n2", functions.VecMath.dotCol($"q", $"q"))
      .filter($"n2" > 0L)
  }
  /** The oracle twin of `VecMath.sigCol(q, planes, offset)`: bit k of
    * the random-hyperplane signature is the sign of q . h_k, h_k[i] = ±1
    * from the (aj, bj) row k + offset. */
  private[graft] def hyperplaneSigSql(planes: Int, offset: Int): String =
    (0 until planes).map { k =>
      val s = s"list_reduce(list_prepend(CAST(0 AS BIGINT), [q[i] * (((${aj(k + offset)}*i+${bj(k + offset)}) % $P) % 2 * 2 - 1) for i in range(1, len(q)+1)]), (a,b)->a+b)"
      s"(CASE WHEN $s > 0 THEN ${1L << k} ELSE 0 END)"
    }.mkString(" + ")

  private[graft] val quantizedSql: String =
    s"""SELECT * FROM (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      [CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT) * CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT) for x in embedding]),
       |      (a,b)->a+b) AS n2
       |  FROM embeddings
       |  WHERE embedding IS NOT NULL AND len(embedding) > 0
       |    AND ${finiteVecSql("embedding")})
       |  WHERE n2 > 0""".stripMargin

  private[graft] def cosMilli(qa: Column, qb: Column, n2a: Column, n2b: Column): Column =
    floor(lit(1000d) *
      functions.VecMath.dotCol(qa, qb).cast("double") /
      sqrt(n2a.cast("double") * n2b.cast("double"))).cast("long")
  private[graft] def cosMilliSql(qa: String, qb: String, n2a: String, n2b: String): String =
    s"""CAST(floor(1000.0 *
       |      list_reduce(list_prepend(CAST(0 AS BIGINT), [$qa[i]*$qb[i] for i in range(1, len($qa)+1)]), (x,y)->x+y)
       |      / sqrt(CAST($n2a AS DOUBLE) * CAST($n2b AS DOUBLE))) AS BIGINT)""".stripMargin

  /** Bounded per-query top-k over a corpus-scale scored table
    * (query_id, vec_id, cos_milli) → (query_id, rank, vec_id,
    * cos_milli), ordered (cos desc, vec_id asc). Uses operators.TopK —
    * the window form shuffles and sorts EVERY scan row into per-query
    * partitions that are corpus-sized at 100 TB; the aggregator's O(k)
    * buffer discards below-floor rows BEFORE the exchange, so the
    * shuffle is k·|queries| rows. Same output as the row_number window
    * (oracles unchanged). */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.select($"query_id".cast("long"), $"vec_id".cast("long"),
        $"cos_milli".cast("long"))
      // a NULL score (dimension-mismatched pair: the dot keeps
      // zip_with's null-on-mismatch semantics) is incomparable and
      // simply does not rank — drop before the non-nullable encoder
      .filter($"cos_milli".isNotNull)
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, vec, cos) => operators.TopK.Entry(cos, vec) }
      .agg(operators.TopK.TopKAgg(k).toColumn.name("top"))
      .flatMap { case (qid, buf) =>
        buf.items.zipWithIndex.map { case (e, i) => (qid, i + 1L, e.id, e.v) }
      }
      .toDF("query_id", "rank", "vec_id", "cos_milli")
  }

  /** Ascending twin of topKPerQuery for distance-ranked scans
    * (query_id, vec_id, <distCol>) → (query_id, rank, vec_id,
    * <distCol>), ordered (dist asc, vec_id asc): the Entry value is
    * negated going in and restored coming out (min-dist = max of
    * negative; ties unaffected — id asc either way). */
  private def topKPerQueryAsc(scored: DataFrame, k: Int,
      distCol: String): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.select(col("query_id").cast("long"), col("vec_id").cast("long"),
        col(distCol).cast("long"))
      // same null-score drop as topKPerQuery: incomparable pairs
      // (dimension mismatch) do not rank
      .filter(col(distCol).isNotNull)
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, vec, d) => operators.TopK.Entry(-d, vec) }
      .agg(operators.TopK.TopKAgg(k).toColumn.name("top"))
      .flatMap { case (qid, buf) =>
        buf.items.zipWithIndex.map { case (e, i) => (qid, i + 1L, e.id, -e.v) }
      }
      .toDF("query_id", "rank", "vec_id", distCol)
  }

  /** Brute-force cosine top-k: broadcast probe set x full corpus scan,
    * per-probe top-10 by (cos desc, vec_id) — the exact baseline. */
  def knnBrute(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = quantized(spark, dir)
    val probes = base.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"q".as("pq"), $"n2".as("pn2"))
    val scored = base.join(broadcast(probes), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        cosMilli($"pq", $"q", $"pn2", $"n2").as("cos_milli"))
    topKPerQuery(scored, 10)
  }
  private val knnBruteOracle: String =
    s"""WITH base AS ($quantizedSql),
       |probes AS (SELECT vec_id AS query_id, q AS pq, n2 AS pn2 FROM base WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT query_id, vec_id,
       |    ${cosMilliSql("pq", "q", "pn2", "n2")} AS cos_milli
       |  FROM base JOIN probes ON vec_id <> query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cos_milli,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_milli DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, rank, vec_id, cos_milli FROM ranked WHERE rank <= 10""".stripMargin

  /** LSH-bucketed ANN: 8-bit random-hyperplane signature per vector
    * (map-side), probes search only their own bucket, top-5 by cosine.
    * The IVF-style scale path: bucket size ~ corpus/2^bits. */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = quantized(spark, dir)
    val bucketed = base.withColumn("bucket",
      functions.VecMath.sigCol($"q", LshBits, offset = 16))
    val probes = bucketed.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"bucket".as("pbucket"),
        $"q".as("pq"), $"n2".as("pn2"))
    val scored = bucketed.join(broadcast(probes),
        $"bucket" === $"pbucket" && $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        cosMilli($"pq", $"q", $"pn2", $"n2").as("cos_milli"))
    topKPerQuery(scored, 5)
  }
  private val annLshOracle: String = {
    s"""WITH base AS ($quantizedSql),
       |bucketed AS (SELECT vec_id, q, n2, CAST(${hyperplaneSigSql(LshBits, 16)} AS BIGINT) AS bucket FROM base),
       |probes AS (SELECT vec_id AS query_id, bucket AS pbucket, q AS pq, n2 AS pn2
       |  FROM bucketed WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT query_id, vec_id,
       |    ${cosMilliSql("pq", "q", "pn2", "n2")} AS cos_milli
       |  FROM bucketed JOIN probes ON bucket = pbucket AND vec_id <> query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cos_milli,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_milli DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, rank, vec_id, cos_milli FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** Multi-probe ANN: each query additionally probes the 8 buckets at
    * Hamming distance 1 from its own signature (flip one hyperplane) —
    * the standard recall-widening move (multi-probe LSH, Lv et al.
    * VLDB'07): near neighbors that landed just across one hyperplane
    * are recovered without rebuilding the index or adding tables. Probe
    * volume is 9× the single-probe join's probe side (still tiny);
    * corpus-side work is unchanged. */
  def annMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val base = quantized(spark, dir)
    val bucketed = base.withColumn("bucket",
      functions.VecMath.sigCol($"q", LshBits, offset = 16))
    val probeBuckets = array(lit(0L) +:
      (0 until LshBits).map(k => lit(1L << k)): _*)
    val probes = bucketed.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"q".as("pq"), $"n2".as("pn2"),
        explode(probeBuckets).as("flip"),
        $"bucket".as("pbucket"))
      .select($"query_id", $"pq", $"pn2",
        $"pbucket".bitwiseXOR($"flip").as("probe"))
    val scored = bucketed.join(broadcast(probes),
        $"bucket" === $"probe" && $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        cosMilli($"pq", $"q", $"pn2", $"n2").as("cos_milli"))
    topKPerQuery(scored, 5)
  }
  private val annMultiprobeOracle: String = {
    val bits = hyperplaneSigSql(LshBits, 16)
    val flips = (Seq(0L) ++ (0 until LshBits).map(k => 1L << k))
      .map(f => s"SELECT $f AS flip").mkString("\nUNION ALL\n")
    s"""WITH base AS ($quantizedSql),
       |bucketed AS (SELECT vec_id, q, n2, CAST($bits AS BIGINT) AS bucket FROM base),
       |flips AS ($flips),
       |probes AS (SELECT vec_id AS query_id, q AS pq, n2 AS pn2,
       |    xor(bucket, flip) AS probe
       |  FROM bucketed, flips WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT query_id, vec_id,
       |    ${cosMilliSql("pq", "q", "pn2", "n2")} AS cos_milli
       |  FROM bucketed JOIN probes ON bucket = probe AND vec_id <> query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cos_milli,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_milli DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, rank, vec_id, cos_milli FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** Codebook size, one for the whole vector-index family: the IVF lists
    * (v4/v16), the k-means K (v6/v7/v11/v14, d9), and the entries of
    * each PQ sub-codebook (v8/v10) and of both IVF-PQ codebooks (v9). */
  private val CodebookK = 16
  private val IvfProbe = 2  // lists probed per query

  /** Squared distance ||q - c||^2 = n2 - 2 q·c + cn2, exact in longs:
    * the one centroid distance of the codebook kernel and the PQ LUTs. */
  private def sqDist(q: Column, n2: Column, cv: Column, cn2: Column): Column =
    n2 - lit(2L) * functions.VecMath.dotCol(q, cv) + cn2

  /** The codebook kernel of the vector-index family: a
    * `CodebookK`-entry codebook over `train`'s (vec_id, q, n2) rows, one
    * per value of the subspace key `by` when there is one (the PQ
    * sub-codebooks, `by = Seq("m")`). Centroids are (by…, cid, cv, cn2)
    * rows. Seeding is deterministic (every `step`-th vector — the IVF
    * stand-in for a trained codebook, and the Lloyd start), and all
    * arithmetic is integer except the d2 comparison, which is exact; ties
    * go to the lower cid, so the DuckDB oracles replay every step.
    *
    * Scale shape: each round is (a) one broadcast of the K-row codebook
    * collapsed to a single array row per group — assignment is a
    * map-side argmin fold, no shuffle; (b) one posexplode +
    * partial-aggregated groupBy((by, cid, pos)) sum — the shuffle carries
    * only K×dim×partitions pre-combined rows, independent of corpus
    * size. That is the canonical distributed Lloyd's step; more rounds
    * repeat (a)+(b). */
  private[graft] final case class Codebook(train: DataFrame, step: Long,
      by: Seq[String] = Nil) {
    /** Every `step`-th vector (below `step * CodebookK`) is a centroid,
      * `cid = vec_id div step`. */
    def seed: DataFrame = train
      .filter(col("vec_id") % step === 0 && col("vec_id") < step * CodebookK)
      .select(by.map(col) ++ Seq(
        TextQueries.intDiv(col("vec_id"), lit(step)).as("cid"),
        col("q").as("cv"), col("n2").as("cn2")): _*)

    /** `df`'s columns plus its nearest centroid `(cid, d2)`. Argmin via
      * array_min, not array_sort(...)[1]: same struct ordering, but O(K)
      * with no sorted copy per row (r17; KmeansArgminSpec pins equality
      * on ties and null scores). */
    def assign(cents: DataFrame, df: DataFrame = train): DataFrame =
      Codebook.against(df, cents, by)
        .withColumn("best", array_min(Codebook.dists))
        .select(df.columns.toSeq.map(col) ++ Seq(
          col("best").getField("cid").as("cid"),
          col("best").getField("d2").as("d2")): _*)

    /** One Lloyd's round: seed → assign → integer-mean update → re-assign.
      * Returns (cents1, a2): the trained centroids and the final
      * assignment, `train`'s columns plus (cid, d2). The mean uses
      * truncating `div`, matching DuckDB `//` on signed sums. */
    def lloyd: (DataFrame, DataFrame) = {
      val keys = by.map(col)
      val cents1 = assign(seed)
        .select(keys ++ Seq(col("cid"), posexplode(col("q")).as(Seq("pos", "x"))): _*)
        .groupBy(keys ++ Seq(col("cid"), col("pos")): _*)
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .withColumn("mean", expr("s div n"))
        .groupBy(keys :+ col("cid"): _*)
        .agg(sort_array(collect_list(struct(col("pos"), col("mean")))).as("pm"))
        .select(keys ++ Seq(col("cid"),
          transform(col("pm"), _.getField("mean")).as("cv")): _*)
        .withColumn("cn2", functions.VecMath.dotCol(col("cv"), col("cv")))
      (cents1, assign(cents1))
    }
  }

  private[graft] object Codebook {
    /** The whole-vector codebook over a quantized base. The base feeds the
      * seed, both assignments and the update, so it is persisted here —
      * the only persist of a training base — and `step` is its count
      * over `CodebookK`. */
    def of(base0: DataFrame): Codebook = {
      val base = base0.persist()
      Codebook(base.select("vec_id", "q", "n2"), base.count() / CodebookK)
    }

    /** `df` beside its group's codebook, collapsed into one broadcast
      * sorted `cents: array<struct<cid, cv, cn2>>` row per group. */
    private def against(df: DataFrame, cents: DataFrame, by: Seq[String] = Nil): DataFrame = {
      val row = broadcast(cents.groupBy(by.map(col): _*)
        .agg(sort_array(collect_list(struct(col("cid"), col("cv"), col("cn2"))))
          .as("cents")))
      if (by.isEmpty) df.crossJoin(row) else df.join(row, by)
    }

    /** The row's (d2, cid) against every centroid in `cents`. */
    private val dists: Column = transform(col("cents"), c =>
      struct(sqDist(col("q"), col("n2"), c.getField("cv"), c.getField("cn2")).as("d2"),
        c.getField("cid").as("cid")))

    /** Probe ranking: the `k` nearest centroids of each probe-set row
      * (vec_id < NQueries) of `df`, nearest first, as (query_id, pq, pn2,
      * probe_rank, probe_list). */
    def probes(df: DataFrame, cents: DataFrame, k: Int): DataFrame =
      against(df.filter(col("vec_id") < NQueries), cents)
        .select(col("vec_id").as("query_id"), col("q").as("pq"),
          col("n2").as("pn2"),
          posexplode(slice(array_sort(dists), 1, k)).as(Seq("pos", "probe")))
        .select(col("query_id"), col("pq"), col("pn2"),
          (col("pos") + 1).as("probe_rank"), col("probe.cid").as("probe_list"))
  }

  /** IVF (inverted-file) ANN — the OTHER standard scale path next to
    * LSH: partition the corpus into `CodebookK` cells around coarse
    * centroids, store each vector in its nearest cell, and have each
    * query probe only its `IvfProbe` nearest cells. Centroids are the
    * [[Codebook]] seed (every (n/16)-th vector — the fixture's stand-in
    * for a k-means codebook, which is just a better centroid set feeding
    * the identical index/search machinery, v7). Assignment is exact
    * integer arithmetic: argmin ||v-c||^2 = n2_v - 2 v.c + n2_c,
    * tie-broken by cell id, so the DuckDB oracle replays it.
    *
    * Scale shape: the 16-entry codebook is collapsed into ONE broadcast
    * row and every vector computes its cell map-side with an array fold
    * (16 codegen dot products, no shuffle, no per-vector join); the
    * search join touches only the probed cells — corpus-side work per
    * query is bounded by nprobe/nlists of the corpus, the IVF
    * contract. */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cb = Codebook.of(quantized(spark, dir))
    val scored = cb.assign(cb.seed)
      .join(broadcast(Codebook.probes(cb.train, cb.seed, IvfProbe)),
        $"cid" === $"probe_list" && $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        cosMilli($"pq", $"q", $"pn2", $"n2").as("cos_milli"))
    topKPerQuery(scored, 5)
  }
  private val annIvfOracle: String = {
    val dot = s"list_reduce(list_prepend(CAST(0 AS BIGINT), [v.q[i]*c.cv[i] for i in range(1, len(v.q)+1)]), (x,y)->x+y)"
    s"""WITH base AS ($quantizedSql),
       |s AS (SELECT COUNT(*) // $CodebookK AS step FROM base),
       |cents AS (
       |  SELECT vec_id // step AS cid, q AS cv, n2 AS cn2
       |  FROM base, s WHERE vec_id % step = 0 AND vec_id < step * $CodebookK),
       |dists AS (
       |  SELECT v.vec_id, c.cid,
       |    v.n2 - 2 * $dot + c.cn2 AS d2,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |      ORDER BY v.n2 - 2 * $dot + c.cn2, c.cid) AS rn
       |  FROM base v, cents c),
       |assigned AS (
       |  SELECT b.vec_id, b.q, b.n2, d.cid AS list_id
       |  FROM base b JOIN dists d ON d.vec_id = b.vec_id AND d.rn = 1),
       |probes AS (
       |  SELECT b.vec_id AS query_id, b.q AS pq, b.n2 AS pn2, d.cid AS probe_list
       |  FROM base b JOIN dists d ON d.vec_id = b.vec_id AND d.rn <= $IvfProbe
       |  WHERE b.vec_id < $NQueries),
       |scored AS (
       |  SELECT query_id, a.vec_id,
       |    ${cosMilliSql("pq", "a.q", "pn2", "a.n2")} AS cos_milli
       |  FROM assigned a JOIN probes p
       |    ON a.list_id = p.probe_list AND a.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cos_milli,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_milli DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, rank, vec_id, cos_milli FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** The IVF operating-point sweep: recall@5 against exact brute-force
    * search at nprobe ∈ {1,2,4,8} — the t_threshold_sweep twin for the
    * vector index family (v4/v7/v9/v11/v14 share this machinery; this
    * query measures what each probe budget buys). Integer-exact: the
    * same quantized cosine, ties broken by vec_id, recall in milli via
    * floor division on positive operands.
    *
    * Scale shape: probe assignment ranks ONE broadcast 16-entry
    * codebook map-side ([[Codebook.probes]]); the swept candidate set is
    * generated once at the widest budget (rank ≤ 8) and each level
    * filters by probe rank, so the corpus-side join happens a single
    * time, not once per level. Exact ground truth is the v1 brute pass over the broadcast
    * query set — at 100 TB you run it on a sampled query set, exactly
    * what NQueries models. */
  def nprobeSweep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val MaxProbe = 8
    val levels = Seq(1, 2, 4, 8).toDF("nprobe")
    val cb = Codebook.of(quantized(spark, dir))
    val base = cb.train
    val scored = cb.assign(cb.seed)
      .join(broadcast(Codebook.probes(base, cb.seed, MaxProbe)),
        $"cid" === $"probe_list" && $"vec_id" =!= $"query_id")
      .select($"query_id", $"probe_rank", $"vec_id",
        cosMilli($"pq", $"q", $"pn2", $"n2").as("cos_milli"))
    val wiv = Window.partitionBy($"nprobe", $"query_id")
      .orderBy($"cos_milli".desc, $"vec_id".asc)
    val ivfTop = scored.join(broadcast(levels), $"probe_rank" <= $"nprobe")
      .withColumn("rk", row_number().over(wiv)).filter($"rk" <= 5)
      .select($"nprobe", $"query_id", $"vec_id")
    val querySet = base.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"q".as("pq"), $"n2".as("pn2"))
    val wex = Window.partitionBy($"query_id")
      .orderBy($"cos_milli".desc, $"vec_id".asc)
    val exactTop = base.join(broadcast(querySet), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        cosMilli($"pq", $"q", $"pn2", $"n2").as("cos_milli"))
      .withColumn("rk", row_number().over(wex)).filter($"rk" <= 5)
      .select($"query_id", $"vec_id")
    val hits = ivfTop.join(exactTop, Seq("query_id", "vec_id"))
      .groupBy($"nprobe").agg(count(lit(1)).as("n_hits"))
    levels.join(hits, Seq("nprobe"), "left")
      .select($"nprobe".cast("long").as("nprobe"),
        TextQueries.intDiv(coalesce($"n_hits", lit(0L)) * 1000L,
          lit(5L * NQueries)).as("recall_milli"))
  }
  private val nprobeSweepOracle: String = {
    val dot = s"list_reduce(list_prepend(CAST(0 AS BIGINT), [v.q[i]*c.cv[i] for i in range(1, len(v.q)+1)]), (x,y)->x+y)"
    s"""WITH base AS ($quantizedSql),
       |s AS (SELECT COUNT(*) // $CodebookK AS step FROM base),
       |cents AS (
       |  SELECT vec_id // step AS cid, q AS cv, n2 AS cn2
       |  FROM base, s WHERE vec_id % step = 0 AND vec_id < step * $CodebookK),
       |dists AS (
       |  SELECT v.vec_id, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |      ORDER BY v.n2 - 2 * $dot + c.cn2, c.cid) AS rn
       |  FROM base v, cents c),
       |assigned AS (
       |  SELECT b.vec_id, b.q, b.n2, d.cid AS list_id
       |  FROM base b JOIN dists d ON d.vec_id = b.vec_id AND d.rn = 1),
       |probes AS (
       |  SELECT b.vec_id AS query_id, b.q AS pq, b.n2 AS pn2,
       |    d.cid AS probe_list, d.rn AS probe_rank
       |  FROM base b JOIN dists d ON d.vec_id = b.vec_id AND d.rn <= 8
       |  WHERE b.vec_id < $NQueries),
       |levels AS (SELECT 1 AS nprobe UNION ALL SELECT 2
       |  UNION ALL SELECT 4 UNION ALL SELECT 8),
       |scored AS (
       |  SELECT l.nprobe, p.query_id, a.vec_id,
       |    ${cosMilliSql("p.pq", "a.q", "p.pn2", "a.n2")} AS cos_milli
       |  FROM assigned a
       |  JOIN probes p ON a.list_id = p.probe_list AND a.vec_id <> p.query_id
       |  JOIN levels l ON p.probe_rank <= l.nprobe),
       |ivf_top AS (
       |  SELECT nprobe, query_id, vec_id FROM (
       |    SELECT nprobe, query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
       |        ORDER BY cos_milli DESC, vec_id ASC) AS rk
       |    FROM scored) WHERE rk <= 5),
       |exact_scored AS (
       |  SELECT b.vec_id AS query_id, a.vec_id,
       |    ${cosMilliSql("b.q", "a.q", "b.n2", "a.n2")} AS cos_milli
       |  FROM base a, base b
       |  WHERE b.vec_id < $NQueries AND a.vec_id <> b.vec_id),
       |exact_top AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cos_milli DESC, vec_id ASC) AS rk
       |    FROM exact_scored) WHERE rk <= 5),
       |hits AS (
       |  SELECT i.nprobe, COUNT(*) AS n_hits
       |  FROM ivf_top i JOIN exact_top e
       |    ON i.query_id = e.query_id AND i.vec_id = e.vec_id
       |  GROUP BY i.nprobe)
       |SELECT CAST(l.nprobe AS BIGINT) AS nprobe,
       |  CAST(COALESCE(h.n_hits, 0) * 1000 // (5 * $NQueries) AS BIGINT)
       |    AS recall_milli
       |FROM levels l LEFT JOIN hits h ON l.nprobe = h.nprobe""".stripMargin
  }

  /** Int8 scalar quantization + brute-force search over the CODES — the
    * memory/IO scale path ANN stacks deploy first (4x smaller vectors
    * before any index): per-dimension [min,max] over the corpus maps
    * each milli-int coordinate to a 0..255 code; search runs on the
    * integer DEQUANTIZED vectors, so ranking is exact integer + one
    * IEEE sqrt/divide and the oracle replays it bit-for-bit.
    *
    * Scale shape: the per-dim stats are one narrow (pos, lo, hi)
    * aggregate collapsed into a single broadcast row; encode/decode are
    * map-side array folds. At 100 TB the codes table is what you store
    * and scan — this query materializes it and proves the round-trip
    * ranking agrees with the oracle's replay. */
  def quantizedKnn(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val base = quantized(spark, dir)
    val statsRow = base
      .select(posexplode($"q").as(Seq("pos", "x")))
      .groupBy($"pos").agg(min($"x").as("lo"), max($"x").as("hi"))
      .agg(sort_array(collect_list(struct($"pos", $"lo", $"hi"))).as("st"))
    def lo(i: Column) = element_at(col("st"), i).getField("lo")
    def hi(i: Column) = element_at(col("st"), i).getField("hi")
    def rng(i: Column) = greatest(hi(i) - lo(i), lit(1L))
    // code_i = ((x_i - lo_i) * 255) // rng_i ; xhat_i = lo_i + (code_i * rng_i) // 255
    val code = (q: Column) => transform(sequence(lit(1), size(q)), i =>
      floor((element_at(q, i) - lo(i)) * 255d / rng(i)).cast("long"))
    val deq = base.crossJoin(broadcast(statsRow))
      .withColumn("c", code($"q"))
      .withColumn("qh", transform(sequence(lit(1), size($"c")), i =>
        lo(i) + floor(element_at($"c", i) * rng(i).cast("double") / 255d).cast("long")))
      .select($"vec_id", $"qh",
        functions.VecMath.dotCol($"qh", $"qh").as("n2h"))
      // cache barrier (the t_source_overlap/d11 lesson): without a
      // materialization point the optimizer re-inlines the two
      // dequantization HOFs into the probe join's output, running them
      // once per (probe, vec) PAIR instead of once per vector — a
      // NQueries-fold recompute that cost 10x wall-clock at sf1
      .persist()
    val probes = deq.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"qh".as("pq"), $"n2h".as("pn2"))
    val scored = deq.join(broadcast(probes), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        cosMilli($"pq", $"qh", $"pn2", $"n2h").as("cos_milli"))
    topKPerQuery(scored, 10)
  }
  private val quantizedKnnOracle: String = {
    val codeI = "((q[i] - lo_a[i]) * 255) // GREATEST(hi_a[i] - lo_a[i], 1)"
    val xhatI = s"lo_a[i] + (($codeI) * (GREATEST(hi_a[i] - lo_a[i], 1))) // 255"
    s"""WITH base AS ($quantizedSql),
       |dims AS (
       |  SELECT t.pos AS pos, b.q[t.pos] AS x
       |  FROM base b, UNNEST(range(1, len(b.q) + 1)) AS t(pos)),
       |stats AS (SELECT pos, MIN(x) AS lo, MAX(x) AS hi FROM dims GROUP BY pos),
       |st AS (
       |  SELECT list(lo ORDER BY pos) AS lo_a, list(hi ORDER BY pos) AS hi_a
       |  FROM stats),
       |deq AS (
       |  SELECT vec_id,
       |    [$xhatI for i in range(1, len(q)+1)] AS qh
       |  FROM base, st),
       |deq2 AS (
       |  SELECT vec_id, qh,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      [qh[i]*qh[i] for i in range(1, len(qh)+1)]), (x,y)->x+y) AS n2h
       |  FROM deq),
       |probes AS (
       |  SELECT vec_id AS query_id, qh AS pq, n2h AS pn2
       |  FROM deq2 WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT query_id, vec_id,
       |    ${cosMilliSql("pq", "qh", "pn2", "n2h")} AS cos_milli
       |  FROM deq2 JOIN probes ON vec_id <> query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cos_milli,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_milli DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, rank, vec_id, cos_milli FROM ranked WHERE rank <= 10""".stripMargin
  }

  /** One Lloyd's round of the [[Codebook]] kernel over the
    * milli-quantized corpus. Returns (cents1, a2): the trained centroids
    * `(cid, cv, cn2)` and the final assignment `(vec_id, q, n2, cid, d2)`. */
  private[graft] def kmeansState(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    kmeansStateOf(quantized(spark, dir))

  /** Lloyd round over an arbitrary quantized base — v6/v7 train on the
    * full table; v11 trains on the corpus only and FREEZES the result. */
  private[graft] def kmeansStateOf(base0: DataFrame): (DataFrame, DataFrame) =
    Codebook.of(base0).lloyd

  /** Shared oracle CTE chain replaying kmeansState; ends in `cents1b`
    * (cid, cv, cn2) and `a2` (vec_id, q, n2, cid, d2). */
  private[graft] val kmeansCtes: String = kmeansCtesFrom(quantizedSql)

  /** The same chain over an arbitrary base SELECT (v11 trains on the
    * corpus subset). */
  private[graft] def kmeansCtesFrom(baseSql: String): String = {
    val dot0 = s"list_reduce(list_prepend(CAST(0 AS BIGINT), [v.q[i]*c.cv[i] for i in range(1, len(v.q)+1)]), (x,y)->x+y)"
    s"""base AS ($baseSql),
       |s AS (SELECT COUNT(*) // $CodebookK AS step FROM base),
       |cents0 AS (
       |  SELECT vec_id // step AS cid, q AS cv, n2 AS cn2
       |  FROM base, s WHERE vec_id % step = 0 AND vec_id < step * $CodebookK),
       |d1 AS (
       |  SELECT v.vec_id, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |      ORDER BY v.n2 - 2 * $dot0 + c.cn2, c.cid) AS rn
       |  FROM base v, cents0 c),
       |a1 AS (SELECT vec_id, cid FROM d1 WHERE rn = 1),
       |sums1 AS (
       |  SELECT a.cid, t.pos, CAST(SUM(b.q[t.pos]) AS BIGINT) AS sm, COUNT(*) AS n
       |  FROM a1 a JOIN base b USING (vec_id),
       |    UNNEST(range(1, len(b.q) + 1)) AS t(pos)
       |  GROUP BY a.cid, t.pos),
       |cents1 AS (SELECT cid, list(sm // n ORDER BY pos) AS cv FROM sums1 GROUP BY cid),
       |cents1b AS (
       |  SELECT cid, cv,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      [cv[i]*cv[i] for i in range(1, len(cv)+1)]), (x,y)->x+y) AS cn2
       |  FROM cents1),
       |d2s AS (
       |  SELECT v.vec_id, v.q, v.n2, c.cid,
       |    v.n2 - 2 * $dot0 + c.cn2 AS d2,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |      ORDER BY v.n2 - 2 * $dot0 + c.cn2, c.cid) AS rn
       |  FROM base v, cents1b c),
       |a2 AS (SELECT vec_id, q, n2, cid, d2 FROM d2s WHERE rn = 1)""".stripMargin
  }

  /** V11: incremental IVF ingest — the FAISS-add production pattern:
    * the coarse codebook is trained on the EXISTING corpus (vec_id
    * % 10 != 9) and then FROZEN; the arriving shard assigns to those
    * fixed cells in one map-only broadcast pass and appends to the
    * inverted lists. Retraining per ingest would re-shuffle the whole
    * index (and silently move existing vectors between cells —
    * breaking every stored list); freezing makes daily cost ∝ shard,
    * the ANN twin of d8/st8's admission shape. Output: per-cell
    * corpus size, shard growth, and added inertia — the drift signals
    * that tell an operator when a retrain IS due. */
  def ivfAppend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = quantized(spark, dir).persist()
    val cb = Codebook.of(all.filter($"vec_id" % 10 =!= 9))
    val (cents1, a2) = cb.lloyd
    val assigned = cb.assign(cents1, all.filter($"vec_id" % 10 === 9))
    val oldN = a2.groupBy($"cid").agg(count(lit(1)).as("n_corpus"))
    val addN = assigned.groupBy($"cid").agg(
      count(lit(1)).as("n_added"), sum($"d2").as("add_inertia"))
    // FULL outer: a trained centroid can lose every corpus member in
    // the Lloyd update yet still be some shard vector's nearest cell —
    // a left join would silently drop those arrivals
    oldN.join(addN, Seq("cid"), "full_outer")
      .select($"cid",
        coalesce($"n_corpus", lit(0L)).as("n_corpus"),
        coalesce($"n_added", lit(0L)).as("n_added"),
        coalesce($"add_inertia", lit(0L)).as("add_inertia"))
  }
  /** V15: truncated-prefix retrieval evaluation (the Matryoshka /
    * dimension-adaptive pattern): a COARSE pass ranks by distance over
    * only the first 16 of 64 dims (4x less compute and memory traffic
    * per candidate — at 100 TB the prefix index is what fits in RAM),
    * keeps the top-20, and a rerank pass re-scores those by full-dim
    * distance. Output = measured overlap@5 against the exact full-dim
    * top-5 plus a top-1 agreement flag, per probe — like d19, the
    * shortcut's quality is a VERIFIED number, not an assumption.
    * Integer-exact squared-L2 on the milli-quantized vectors; every
    * order carries the vec_id tiebreak. Windows partition by query. */
  def mrlTruncateEval(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val TruncD = 16; val K = 5; val Coarse = 20
    val base = quantized(spark, dir).persist()
    val probes = base.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"q".as("pq"), $"n2".as("pn2"))
    val trunc = (c: Column) => slice(c, 1, TruncD)
    // exclude the query's own vector (like every retrieval query here):
    // the distance-0 self pair would lead BOTH rankings, making
    // top1_match structurally true and inflating overlap@5 by one
    val pairs = base.join(broadcast(probes), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        ($"pn2" + $"n2" -
          lit(2L) * functions.VecMath.dotCol($"q", $"pq")).as("d2_full"),
        (functions.VecMath.dotCol(trunc($"pq"), trunc($"pq")) +
          functions.VecMath.dotCol(trunc($"q"), trunc($"q")) -
          lit(2L) * functions.VecMath.dotCol(trunc($"q"), trunc($"pq")))
          .as("d2_trunc"))
      .persist() // exact ranking + coarse/rerank both read this
    val exact = pairs.withColumn("rk", row_number().over(
        Window.partitionBy($"query_id").orderBy($"d2_full".asc, $"vec_id".asc)))
      .filter($"rk" <= K).select($"query_id", $"vec_id", $"rk")
    val approx = pairs.withColumn("crk", row_number().over(
        Window.partitionBy($"query_id").orderBy($"d2_trunc".asc, $"vec_id".asc)))
      .filter($"crk" <= Coarse)
      .withColumn("rk", row_number().over(
        Window.partitionBy($"query_id").orderBy($"d2_full".asc, $"vec_id".asc)))
      .filter($"rk" <= K).select($"query_id", $"vec_id", $"rk")
    val hits = approx.join(exact.select($"query_id", $"vec_id", lit(1L).as("hit")),
      Seq("query_id", "vec_id"), "left")
    val top1 = approx.filter($"rk" === 1)
      .join(exact.filter($"rk" === 1)
        .select($"query_id", $"vec_id".as("exact_top1")), "query_id")
      .select($"query_id", ($"vec_id" === $"exact_top1").as("top1_match"))
    hits.groupBy($"query_id")
      .agg(coalesce(sum($"hit"), lit(0L)).as("n_overlap"))
      .join(top1, "query_id")
      .select($"query_id", $"n_overlap",
        TextQueries.intDiv($"n_overlap" * 1000L, lit(K.toLong))
          .as("overlap_milli"), $"top1_match")
  }
  private val mrlTruncateEvalOracle: String = {
    def dot(a: String, b: String, n: String) =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), [$a[i]*$b[i] for i in range(1, $n)]), (x,y)->x+y)"
    s"""WITH base AS ($quantizedSql),
       |probes AS (SELECT vec_id AS query_id, q AS pq, n2 AS pn2
       |  FROM base WHERE vec_id < $NQueries),
       |pairs AS (
       |  SELECT p.query_id, b.vec_id,
       |    p.pn2 + b.n2 - 2 * ${dot("b.q", "p.pq", "len(b.q)+1")} AS d2_full,
       |    ${dot("p.pq", "p.pq", "17")} + ${dot("b.q", "b.q", "17")}
       |      - 2 * ${dot("b.q", "p.pq", "17")} AS d2_trunc
       |  FROM base b JOIN probes p ON b.vec_id <> p.query_id),
       |exact AS (
       |  SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY d2_full, vec_id) AS rk FROM pairs
       |  QUALIFY rk <= 5),
       |coarse AS (
       |  SELECT query_id, vec_id, d2_full, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY d2_trunc, vec_id) AS crk FROM pairs
       |  QUALIFY crk <= 20),
       |approx AS (
       |  SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY d2_full, vec_id) AS rk FROM coarse
       |  QUALIFY rk <= 5),
       |ov AS (
       |  SELECT a.query_id,
       |    CAST(COUNT(e.vec_id) AS BIGINT) AS n_overlap
       |  FROM approx a LEFT JOIN exact e
       |    ON a.query_id = e.query_id AND a.vec_id = e.vec_id
       |  GROUP BY 1),
       |t1 AS (
       |  SELECT a.query_id, a.vec_id = e.vec_id AS top1_match
       |  FROM approx a JOIN exact e
       |    ON a.query_id = e.query_id AND a.rk = 1 AND e.rk = 1)
       |SELECT o.query_id, n_overlap,
       |  CAST(n_overlap * 1000 // 5 AS BIGINT) AS overlap_milli, top1_match
       |FROM ov o JOIN t1 USING (query_id)""".stripMargin
  }

  /** V14: IVF index DELETE maintenance — the third index-lifecycle op
    * (build v6/v7, append v11, delete here). Deletes tombstone instead
    * of rebuilding: the probe path anti-joins the tombstone set, and
    * per-cell live fractions drive the offline compaction decision
    * (cells at >= 15% tombstones get rewritten). first_live_vec pins
    * that the anti-join actually filters each cell's posting list.
    * Scale: the tombstone table is deletion-sized (broadcast at any
    * realistic daily delete rate); untouched cells cost one counting
    * aggregate, never a rebuild. */
  def ivfDelete(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import TextQueries.intDiv
    val (_, a2) = kmeansState(spark, dir)
    // the training base kmeansState persisted serves this same plan
    val tomb = quantized(spark, dir).filter($"vec_id" % 7 === 3)
      .select($"vec_id")
    val live = a2.join(tomb, Seq("vec_id"), "left_anti")
    val total = a2.groupBy($"cid").agg(count(lit(1)).as("n_total"))
    val liveAgg = live.groupBy($"cid").agg(
      count(lit(1)).as("n_live"), min($"vec_id").as("first_live_vec"))
    total.join(liveAgg, Seq("cid"), "left")
      .select($"cid", $"n_total",
        ($"n_total" - coalesce($"n_live", lit(0L))).as("n_deleted"),
        intDiv(coalesce($"n_live", lit(0L)) * 1000L, $"n_total")
          .as("live_milli"),
        coalesce($"first_live_vec", lit(-1L)).as("first_live_vec"),
        (($"n_total" - coalesce($"n_live", lit(0L))) * 1000L >=
          $"n_total" * 150L).as("needs_compact"))
  }
  private val ivfDeleteOracle: String =
    s"""WITH $kmeansCtes,
       |tomb AS (SELECT vec_id FROM ($quantizedSql) WHERE vec_id % 7 = 3),
       |total AS (SELECT cid, COUNT(*) AS n_total FROM a2 GROUP BY 1),
       |liv AS (
       |  SELECT cid, COUNT(*) AS n_live, MIN(vec_id) AS first_live_vec
       |  FROM a2 WHERE vec_id NOT IN (SELECT vec_id FROM tomb) GROUP BY 1)
       |SELECT t.cid, CAST(n_total AS BIGINT) AS n_total,
       |  CAST(n_total - COALESCE(n_live, 0) AS BIGINT) AS n_deleted,
       |  CAST(COALESCE(n_live, 0) * 1000 // n_total AS BIGINT) AS live_milli,
       |  CAST(COALESCE(first_live_vec, -1) AS BIGINT) AS first_live_vec,
       |  (n_total - COALESCE(n_live, 0)) * 1000 >= n_total * 150
       |    AS needs_compact
       |FROM total t LEFT JOIN liv l ON t.cid = l.cid""".stripMargin

  private val ivfAppendOracle: String = {
    val dot0 = s"list_reduce(list_prepend(CAST(0 AS BIGINT), [v.q[i]*c.cv[i] for i in range(1, len(v.q)+1)]), (x,y)->x+y)"
    val corpusSql = s"SELECT * FROM ($quantizedSql) WHERE vec_id % 10 <> 9"
    s"""WITH ${kmeansCtesFrom(corpusSql)},
       |shardq AS (SELECT * FROM ($quantizedSql) t WHERE vec_id % 10 = 9),
       |sd AS (
       |  SELECT v.vec_id, c.cid, v.n2 - 2 * $dot0 + c.cn2 AS d2,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |      ORDER BY v.n2 - 2 * $dot0 + c.cn2, c.cid) AS rn
       |  FROM shardq v, cents1b c),
       |sa AS (SELECT vec_id, cid, d2 FROM sd WHERE rn = 1),
       |oldn AS (SELECT cid, COUNT(*) AS n_corpus FROM a2 GROUP BY 1),
       |addn AS (
       |  SELECT cid, COUNT(*) AS n_added,
       |    CAST(SUM(d2) AS BIGINT) AS add_inertia
       |  FROM sa GROUP BY 1)
       |SELECT COALESCE(o.cid, a.cid) AS cid,
       |  COALESCE(n_corpus, 0) AS n_corpus,
       |  COALESCE(n_added, 0) AS n_added,
       |  COALESCE(add_inertia, 0) AS add_inertia
       |FROM oldn o FULL OUTER JOIN addn a ON o.cid = a.cid""".stripMargin
  }

  /** K-means codebook training (distributed Lloyd's): per-cell size,
    * centroid-component checksum, and within-cell inertia after one
    * full update round — the trainer behind the IVF codebook (v4 uses
    * the seeded stand-in; this is the k-means that replaces it). */
  def kmeansCodebook(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (cents1, a2) = kmeansState(spark, dir)
    val stats = a2.groupBy($"cid")
      .agg(count(lit(1)).as("n"), sum($"d2").as("inertia"))
    val sums = cents1.select($"cid",
      aggregate($"cv", lit(0L), _ + _).as("c_sum"))
    stats.join(sums, "cid").select($"cid", $"n", $"c_sum", $"inertia")
  }
  private val kmeansOracle: String =
    s"""WITH $kmeansCtes,
       |stats AS (
       |  SELECT cid, COUNT(*) AS n, CAST(SUM(d2) AS BIGINT) AS inertia
       |  FROM a2 GROUP BY cid),
       |sums AS (
       |  SELECT cid,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), cv), (x,y)->x+y) AS c_sum
       |  FROM cents1b)
       |SELECT cid, n, c_sum, inertia FROM stats JOIN sums USING (cid)""".stripMargin

  /** IVF search over the TRAINED codebook — v4's index/search machinery
    * composed with v6's k-means trainer (the production pairing: train
    * the codebook, build the inverted file from the final assignment,
    * probe the 2 nearest trained cells per query). Same scale shape as
    * v4; only the centroid quality changes. */
  def annIvfTrained(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (cents1, a2) = kmeansState(spark, dir)
    val scored = a2.join(broadcast(Codebook.probes(a2, cents1, IvfProbe)),
        $"cid" === $"probe_list" && $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        cosMilli($"pq", $"q", $"pn2", $"n2").as("cos_milli"))
    topKPerQuery(scored, 5)
  }
  private val annIvfTrainedOracle: String =
    s"""WITH $kmeansCtes,
       |probes AS (
       |  SELECT vec_id AS query_id, q AS pq, n2 AS pn2, cid AS probe_list
       |  FROM d2s WHERE vec_id < $NQueries AND rn <= $IvfProbe),
       |scored AS (
       |  SELECT query_id, a.vec_id,
       |    ${cosMilliSql("pq", "a.q", "pn2", "a.n2")} AS cos_milli
       |  FROM a2 a JOIN probes p
       |    ON a.cid = p.probe_list AND a.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cos_milli,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_milli DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, rank, vec_id, cos_milli FROM ranked WHERE rank <= 5""".stripMargin

  /** Hybrid retrieval: lexical BM25 candidates re-ranked by vector
    * similarity against a probe embedding (vec_id 0) — the two-stage
    * retrieve-then-rerank shape of a RAG stack. The combined score is
    * integer (bm25_milli + 3 × cos_milli), so the composed oracle —
    * the full q10 CTE feeding the cosine replay — matches exactly.
    *
    * Scale shape: stage 1 is q10's scan+map+top-k (100 candidate ids),
    * stage 2 joins just those ids to their embeddings and scores
    * against ONE broadcast probe — rerank cost is O(candidates),
    * independent of corpus size. */
  def hybridSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bm = MapperQueries.bm25Rank(spark, dir)
    val emb = quantized(spark, dir)
    // scalar aggregate over the one-row unique-key probe: same values,
    // but the plan now PROVES the broadcast side is a single row (the
    // registry audit's rule), instead of relying on key uniqueness
    // the isNotNull filter restores the empty-input edge case the
    // scalar-agg shape changed: with no vec_id==0 row the aggregate
    // yields one all-null row, which would score every candidate with a
    // null cosine — dropping it makes a missing probe an empty result,
    // as the pre-aggregate projection behaved
    val probe = emb.filter($"vec_id" === 0)
      .agg(first($"q").as("pq"), first($"n2").as("pn2"))
      .where($"pq".isNotNull)
    bm.join(emb.select($"vec_id".as("doc_id"), $"q", $"n2"), "doc_id")
      .crossJoin(broadcast(probe))
      .select($"doc_id", $"score_milli",
        cosMilli($"pq", $"q", $"pn2", $"n2").as("cos_milli"))
      .withColumn("hybrid_milli", $"score_milli" + $"cos_milli" * 3L)
      .orderBy($"hybrid_milli".desc, $"doc_id")
      .limit(20)
  }
  private val hybridOracle: String =
    s"""WITH bm AS (${MapperQueries.bm25Oracle}),
       |base AS ($quantizedSql),
       |probe AS (SELECT q AS pq, n2 AS pn2 FROM base WHERE vec_id = 0),
       |j AS (
       |  SELECT bm.doc_id, bm.score_milli,
       |    ${cosMilliSql("pq", "q", "pn2", "n2")} AS cos_milli
       |  FROM bm JOIN base ON base.vec_id = bm.doc_id, probe)
       |SELECT doc_id, score_milli, cos_milli,
       |  score_milli + cos_milli * 3 AS hybrid_milli
       |FROM j ORDER BY hybrid_milli DESC, doc_id LIMIT 20""".stripMargin

  private val PqM = 4  // subspaces
  private val PqD = 16 // dims per subspace (4 x 16 = the 64-dim space)

  /** V8: product quantization (Jégou et al.) — the memory side of
    * IVF-PQ, THE production ANN representation at 10^9+ vectors: each
    * vector compresses to PqM sub-codes (here 4 codes over 16-entry
    * sub-codebooks = 4 bytes/vector vs 256 for the raw floats), and a
    * query scans codes with an asymmetric-distance LUT — approx_d2 =
    * Σ_m lut[m][code_m], NO vector arithmetic per corpus row.
    *
    * Training is the [[Codebook]] kernel grouped by subspace (seeded
    * centroids, one integer-mean update round); codes and LUTs are
    * flat-indexed through a global (m, cid) rank so empty cells cannot
    * misalign the positional lookup. Scale shape: codes build is the
    * v6 round per subspace (vocab-bound shuffles of narrow rows); the
    * scan is codes × broadcast per-query LUT rows — map-only + top-k,
    * the ADC scan exactly as deployed. Integer arithmetic throughout;
    * the oracle replays training, coding and the LUT scan. */
  def pqSearch(spark: SparkSession, dir: String): DataFrame =
    topKPerQueryAsc(pqScored(spark, dir), 5, "approx_d2")

  /** The PQ split: each `v` vector as PqM rows (keep…, m, q, n2), `q`
    * its m-th PqD-dim slice and `n2` the slice's squared norm — the
    * training base of the per-subspace [[Codebook]]. */
  private[graft] def subspaces(df: DataFrame, v: String, keep: String*): DataFrame =
    df.select(keep.map(col) :+ explode(transform(sequence(lit(0), lit(PqM - 1)),
        m => struct(m.cast("int").as("m"),
          slice(col(v), m * PqD + 1, lit(PqD)).as("q")))).as("s"): _*)
      .select(keep.map(col) ++ Seq(col("s.m").as("m"), col("s.q").as("q")): _*)
      .withColumn("n2", functions.VecMath.dotCol(col("q"), col("q")))

  /** PQ coding and ADC lookup tables for trained sub-codebooks `cents1`
    * (m, cid, cv, cn2) and their assignment `a2`: `codes` holds one code
    * array per `codeKeys` group, `lut` one distance array per `lutKeys`
    * group of the query subspaces `qsubs` (lutKeys…, m, q, n2). Both are
    * flat-indexed through one global (m, cid) rank, so empty cells
    * cannot misalign the positional lookup (tiny dim table, ≤
    * PqM*CodebookK rows). */
  private def adcTables(cents1: DataFrame, a2: DataFrame, codeKeys: Seq[String],
      qsubs: DataFrame, lutKeys: Seq[String]): (DataFrame, DataFrame) = {
    val idx = operators.GlobalRank.withRank(
      cents1.select(col("m"), col("cid")), "idx", col("m").asc, col("cid").asc)
    val codes = a2.join(broadcast(idx), Seq("m", "cid"))
      .groupBy(codeKeys.map(col): _*)
      .agg(sort_array(collect_list(struct(col("m"), col("idx")))).as("cs"))
      .select(codeKeys.map(col) :+
        transform(col("cs"), _.getField("idx")).as("codes"): _*)
    val lut = qsubs.join(broadcast(cents1), Seq("m"))
      .select(lutKeys.map(col) ++ Seq(col("m"), col("cid"),
        sqDist(col("q"), col("n2"), col("cv"), col("cn2")).as("pd2")): _*)
      .join(broadcast(idx), Seq("m", "cid"))
      .groupBy(lutKeys.map(col): _*)
      .agg(sort_array(collect_list(struct(col("idx"), col("pd2")))).as("l"))
      .select(lutKeys.map(col) :+
        transform(col("l"), _.getField("pd2")).as("lut"): _*)
    (codes, lut)
  }

  /** The ADC scan of one (codes, lut) pair: approx_d2 = Σ_m lut[code_m]. */
  private val adcD2: Column = aggregate(col("codes"), lit(0L),
    (acc, ix) => acc + element_at(col("lut"), ix.cast("int"))).as("approx_d2")

  /** The PQ train + code + ADC scan up to (query_id, vec_id, approx_d2)
    * — shared by v8 (rank on approx) and v10 (exact re-rank). */
  private[graft] def pqScored(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vecs = Codebook.of(quantized(spark, dir))
    val (cents1, a2) = Codebook(subspaces(vecs.train, "q", "vec_id").persist(),
      vecs.step, Seq("m")).lloyd
    val (codes, lut) = adcTables(cents1, a2, Seq("vec_id"),
      a2.filter($"vec_id" < NQueries).select($"vec_id".as("query_id"), $"m", $"q", $"n2"),
      Seq("query_id"))
    codes.crossJoin(broadcast(lut))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", adcD2)
  }
  /** Oracle CTE chain replaying PQ train + code + ADC scan, ending in
    * `scored` (query_id, vec_id, approx_d2) — shared by v8 and v10. */
  private def pqScoredCtes: String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), [$a[i]*$b[i] for i in range(1, $PqD+1)]), (x,y)->x+y)"
    s"""base AS ($quantizedSql),
       |s AS (SELECT COUNT(*) // $CodebookK AS step FROM base),
       |subs AS (
       |  SELECT vec_id, CAST(t.m AS INT) AS m,
       |    q[CAST(t.m*$PqD+1 AS INT):CAST(t.m*$PqD+$PqD AS INT)] AS qm
       |  FROM base, range(0, $PqM) AS t(m)),
       |subs2 AS (
       |  SELECT vec_id, m, qm, ${dot("qm", "qm")} AS qn2 FROM subs),
       |cents0 AS (
       |  SELECT m, vec_id // step AS cid, qm AS cv, qn2 AS cn2
       |  FROM subs2, s WHERE vec_id % step = 0 AND vec_id < step * $CodebookK),
       |d1 AS (
       |  SELECT v.vec_id, v.m, v.qm, v.qn2, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.m
       |      ORDER BY v.qn2 - 2 * ${dot("v.qm", "c.cv")} + c.cn2, c.cid) AS rn
       |  FROM subs2 v JOIN cents0 c ON v.m = c.m),
       |a1 AS (SELECT vec_id, m, qm, cid FROM d1 WHERE rn = 1),
       |sums AS (
       |  SELECT m, cid, t.pos, CAST(SUM(qm[CAST(t.pos AS INT)]) AS BIGINT) AS sm,
       |    COUNT(*) AS n
       |  FROM a1, range(1, $PqD + 1) AS t(pos)
       |  GROUP BY m, cid, t.pos),
       |cents1 AS (SELECT m, cid, list(sm // n ORDER BY pos) AS cv FROM sums
       |  GROUP BY m, cid),
       |cents1b AS (
       |  SELECT m, cid, cv, ${dot("cv", "cv")} AS cn2 FROM cents1),
       |d2 AS (
       |  SELECT v.vec_id, v.m, v.qm, v.qn2, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.m
       |      ORDER BY v.qn2 - 2 * ${dot("v.qm", "c.cv")} + c.cn2, c.cid) AS rn
       |  FROM subs2 v JOIN cents1b c ON v.m = c.m),
       |codes AS (SELECT vec_id, m, cid FROM d2 WHERE rn = 1),
       |lut AS (
       |  SELECT p.vec_id AS query_id, p.m, c.cid,
       |    p.qn2 - 2 * ${dot("p.qm", "c.cv")} + c.cn2 AS pd2
       |  FROM subs2 p JOIN cents1b c ON p.m = c.m
       |  WHERE p.vec_id < $NQueries),
       |scored AS (
       |  SELECT l.query_id, k.vec_id, CAST(SUM(l.pd2) AS BIGINT) AS approx_d2
       |  FROM codes k JOIN lut l ON l.m = k.m AND l.cid = k.cid
       |  WHERE k.vec_id <> l.query_id
       |  GROUP BY 1, 2)""".stripMargin
  }
  private val pqSearchOracle: String =
    s"""WITH $pqScoredCtes,
       |ranked AS (
       |  SELECT query_id, vec_id, approx_d2,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY approx_d2, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, approx_d2
       |FROM ranked WHERE rank <= 5""".stripMargin

  /** Candidates proposed per query by the ADC scan before re-ranking. */
  private val RerankR = 20

  /** V10: TWO-STAGE retrieval — the production ANN serving pattern. The
    * compressed-domain ADC scan (v8's machinery) only PROPOSES RerankR
    * candidates per query; the exact integer cosine over the original
    * vectors decides the final top-5. Quantization error then affects
    * recall only (a true neighbor outside the top-RerankR proposals),
    * never the reported metric or order — which is why every serving
    * stack (FAISS refine, ScaNN reorder, DiskANN) re-ranks.
    *
    * Scale shape: stage 1 is v8's map-only broadcast-LUT scan; stage 2
    * touches RerankR x NQueries rows — the full-precision vectors are
    * fetched for a VANISHING fraction of the corpus (the point of the
    * pattern: compressed codes in memory, exact vectors on cheap
    * storage, random-read only the re-rank set). */
  def pqRerank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // coarse pass over the corpus-scale ADC scan: bounded aggregator,
    // not a window (the per-query partition is the corpus)
    val cand = topKPerQueryAsc(pqScored(spark, dir), RerankR, "approx_d2")
      .select($"query_id", $"vec_id")
    // same logical plan pqScored just persisted: the CacheManager's
    // plan-matching substitutes its InMemoryRelation, no re-scan
    val base = quantized(spark, dir)
    val probes = base.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"q".as("pq"), $"n2".as("pn2"))
    val exact = cand
      .join(base.select($"vec_id", $"q", $"n2"), "vec_id")
      .join(broadcast(probes), "query_id")
      .select($"query_id", $"vec_id",
        cosMilli($"pq", $"q", $"pn2", $"n2").as("cos_milli"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cos_milli".desc, $"vec_id".asc)
    exact.withColumn("rank", row_number().over(w)).filter($"rank" <= 5)
      .select($"query_id", $"rank".cast("long").as("rank"), $"vec_id",
        $"cos_milli")
  }
  private val pqRerankOracle: String =
    s"""WITH $pqScoredCtes,
       |aranked AS (
       |  SELECT query_id, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY approx_d2, vec_id) AS arank
       |  FROM scored),
       |cand AS (SELECT query_id, vec_id FROM aranked WHERE arank <= $RerankR),
       |exact AS (
       |  SELECT c.query_id, c.vec_id,
       |    ${cosMilliSql("p.q", "v.q", "p.n2", "v.n2")} AS cos_milli
       |  FROM cand c
       |  JOIN base v ON v.vec_id = c.vec_id
       |  JOIN base p ON p.vec_id = c.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cos_milli,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos_milli DESC, vec_id ASC) AS rank
       |  FROM exact)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos_milli
       |FROM ranked WHERE rank <= 5""".stripMargin

  /** V9: IVF-PQ with RESIDUAL encoding — the full FAISS IVFPQ: vectors
    * assign to a trained coarse cell (v6's Lloyd), the residual
    * (vector − cell centroid, exact integer) is product-quantized with
    * v8's sub-codebook machinery, and a query probes its 2 nearest
    * coarse cells, building a PER-CELL ADC LUT from its residual
    * against that cell before scanning only those cells' codes.
    * Residual encoding is why IVFPQ beats flat PQ: residuals are
    * smaller and re-centered, so the same 4 codes carry more signal.
    *
    * Scale shape: coarse train = v6 (corpus-independent rounds after
    * the vocab collapse); PQ train = v8 per subspace; the scan reads
    * only probed cells (corpus/K per probe) map-only against a
    * broadcast (query, cell) LUT table. Integer-exact throughout;
    * the oracle replays coarse train → residuals → PQ train → coding
    * → per-cell LUT → scan. */
  def ivfPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val coarse = Codebook.of(quantized(spark, dir))
    val (cents1, a2raw) = coarse.lloyd
    val a2 = a2raw.persist()
    val cells = cents1.persist()
    val resid = a2.join(cells.select($"cid", $"cv"), "cid")
      .select($"vec_id", $"cid".as("cell"),
        zip_with($"q", $"cv", (a, b) => a - b).as("r"))
    // residual PQ: v8's per-subspace round, seeded with the coarse
    // round's step (the residuals are the same rows)
    val (pc1raw, pa2) = Codebook(subspaces(resid, "r", "vec_id", "cell").persist(),
      coarse.step, Seq("m")).lloyd
    val pc1 = pc1raw.persist()
    // probes: 2 nearest coarse cells by exact d2, then per-cell residual LUTs
    val probeResid = Codebook.probes(a2, cells, IvfProbe)
      .join(cells.select($"cid".as("probe_list"), $"cv"), "probe_list")
      .select($"query_id", $"probe_list",
        zip_with($"pq", $"cv", (a, b) => a - b).as("rq"))
    val (codes, lut) = adcTables(pc1, pa2, Seq("vec_id", "cell"),
      subspaces(probeResid, "rq", "query_id", "probe_list"),
      Seq("query_id", "probe_list"))
    val scored = codes.join(broadcast(lut), $"cell" === $"probe_list"
        && $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", adcD2)
    topKPerQueryAsc(scored, 5, "approx_d2")
  }
  private val ivfPqOracle: String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), [$a[i]*$b[i] for i in range(1, $PqD+1)]), (x,y)->x+y)"
    s"""WITH $kmeansCtes,
       |resid AS (
       |  SELECT a.vec_id, a.cid,
       |    [a.q[i] - c.cv[i] for i in range(1, len(a.q)+1)] AS r
       |  FROM a2 a JOIN cents1b c USING (cid)),
       |psubs AS (
       |  SELECT vec_id, cid, CAST(t.m AS INT) AS m,
       |    r[CAST(t.m*$PqD+1 AS INT):CAST(t.m*$PqD+$PqD AS INT)] AS qm
       |  FROM resid, range(0, $PqM) AS t(m)),
       |psubs2 AS (SELECT vec_id, cid, m, qm, ${dot("qm", "qm")} AS qn2 FROM psubs),
       |pc0 AS (
       |  SELECT m, vec_id // step AS pcid, qm AS cv, qn2 AS cn2
       |  FROM psubs2, s WHERE vec_id % step = 0 AND vec_id < step * $CodebookK),
       |pd1 AS (
       |  SELECT v.vec_id, v.cid, v.m, v.qm, v.qn2, c.pcid,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.m
       |      ORDER BY v.qn2 - 2 * ${dot("v.qm", "c.cv")} + c.cn2, c.pcid) AS rn
       |  FROM psubs2 v JOIN pc0 c ON v.m = c.m),
       |pa1 AS (SELECT vec_id, m, qm, pcid FROM pd1 WHERE rn = 1),
       |psums AS (
       |  SELECT m, pcid, t.pos, CAST(SUM(qm[CAST(t.pos AS INT)]) AS BIGINT) AS sm,
       |    COUNT(*) AS n
       |  FROM pa1, range(1, $PqD + 1) AS t(pos)
       |  GROUP BY m, pcid, t.pos),
       |pc1 AS (SELECT m, pcid, list(sm // n ORDER BY pos) AS cv FROM psums
       |  GROUP BY m, pcid),
       |pc1b AS (SELECT m, pcid, cv, ${dot("cv", "cv")} AS cn2 FROM pc1),
       |pd2 AS (
       |  SELECT v.vec_id, v.cid, v.m, c.pcid,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.m
       |      ORDER BY v.qn2 - 2 * ${dot("v.qm", "c.cv")} + c.cn2, c.pcid) AS rn
       |  FROM psubs2 v JOIN pc1b c ON v.m = c.m),
       |pcodes AS (SELECT vec_id, cid, m, pcid FROM pd2 WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS probe_cid
       |  FROM d2s WHERE vec_id < $NQueries AND rn <= $IvfProbe),
       |probe_resid AS (
       |  SELECT p.query_id, p.probe_cid,
       |    [b.q[i] - c.cv[i] for i in range(1, len(b.q)+1)] AS rq
       |  FROM probes p JOIN base b ON b.vec_id = p.query_id
       |  JOIN cents1b c ON c.cid = p.probe_cid),
       |prsubs AS (
       |  SELECT query_id, probe_cid, CAST(t.m AS INT) AS m,
       |    rq[CAST(t.m*$PqD+1 AS INT):CAST(t.m*$PqD+$PqD AS INT)] AS rqm
       |  FROM probe_resid, range(0, $PqM) AS t(m)),
       |prsubs2 AS (
       |  SELECT query_id, probe_cid, m, rqm, ${dot("rqm", "rqm")} AS rqn2
       |  FROM prsubs),
       |lut AS (
       |  SELECT p.query_id, p.probe_cid, p.m, c.pcid,
       |    p.rqn2 - 2 * ${dot("p.rqm", "c.cv")} + c.cn2 AS pd2
       |  FROM prsubs2 p JOIN pc1b c ON p.m = c.m),
       |scored AS (
       |  SELECT l.query_id, k.vec_id, CAST(SUM(l.pd2) AS BIGINT) AS approx_d2
       |  FROM pcodes k
       |  JOIN lut l ON l.probe_cid = k.cid AND l.m = k.m AND l.pcid = k.pcid
       |  WHERE k.vec_id <> l.query_id
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, vec_id, approx_d2,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY approx_d2, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, approx_d2
       |FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** Triplet mining for contrastive embedding training (FaceNet,
    * Schroff et al. 2015): for each probe, elect its best POSITIVE
    * (highest-cosine same-label vector) and its top-5 HARD NEGATIVES
    * (highest-cosine different-label vectors), reporting the margin
    * positive−negative and the semi-hard flag (negative farther than
    * the positive but within the α=0.1 margin — the band the paper
    * samples from). This is the data-prep step that turns a labeled
    * embedding corpus into training triplets.
    * Scale: identical shape to v1 — the probe set broadcasts, the
    * corpus is scanned map-side once, and the only shuffle is the
    * per-probe top-k window over candidate rows (corpus × probes /
    * executor-parallel). The positive max is a map-side partial MAX
    * per probe, one scalar row each. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val base = quantized(spark, dir)
    val probes = base.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"label".as("plabel"),
        $"q".as("pq"), $"n2".as("pn2"))
    val scored = base.join(broadcast(probes), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", $"label", $"plabel",
        cosMilli($"pq", $"q", $"pn2", $"n2").as("cos_milli"))
      .persist() // one scan feeds the positive max and the negative top-k
    val pos = scored.filter($"label" === $"plabel")
      .groupBy($"query_id").agg(max($"cos_milli").as("pos_milli"))
    // negative top-5 via the bounded aggregator (corpus-scale scan);
    // the label rides back in on a tiny k·|queries| join against the
    // persisted scored table
    topKPerQuery(scored.filter($"label" =!= $"plabel")
        .select($"query_id", $"vec_id", $"cos_milli"), 5)
      .join(scored.select($"query_id", $"vec_id", $"label"),
        Seq("query_id", "vec_id"))
      .join(pos, Seq("query_id"), "left")
      .select($"query_id", $"rank", $"vec_id", $"label", $"cos_milli",
        coalesce($"pos_milli", lit(-1000L)).as("pos_milli"),
        (coalesce($"pos_milli", lit(-1000L)) - $"cos_milli").as("margin_milli"),
        ($"cos_milli" < coalesce($"pos_milli", lit(-1000L)) &&
          $"cos_milli" + 100L >= coalesce($"pos_milli", lit(-1000L)))
          .cast("long").as("semi_hard"))
  }
  private val hardNegativesOracle: String =
    s"""WITH base AS ($quantizedSql),
       |probes AS (SELECT vec_id AS query_id, label AS plabel, q AS pq, n2 AS pn2
       |  FROM base WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT query_id, vec_id, label, plabel,
       |    ${cosMilliSql("pq", "q", "pn2", "n2")} AS cos_milli
       |  FROM base JOIN probes ON vec_id <> query_id),
       |pos AS (SELECT query_id, MAX(cos_milli) AS pos_milli
       |  FROM scored WHERE label = plabel GROUP BY 1),
       |neg AS (
       |  SELECT query_id, vec_id, label, cos_milli,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos_milli DESC, vec_id ASC) AS rank
       |  FROM scored WHERE label <> plabel)
       |SELECT n.query_id, n.rank, n.vec_id, n.label, n.cos_milli,
       |  COALESCE(pos_milli, -1000) AS pos_milli,
       |  COALESCE(pos_milli, -1000) - n.cos_milli AS margin_milli,
       |  CAST(n.cos_milli < COALESCE(pos_milli, -1000)
       |    AND n.cos_milli + 100 >= COALESCE(pos_milli, -1000) AS BIGINT)
       |    AS semi_hard
       |FROM neg n LEFT JOIN pos ON pos.query_id = n.query_id
       |WHERE n.rank <= 5""".stripMargin

  /** Sum of each key's top-k `cos_milli` values over a scored pair
    * table (key, other, cos_milli) — the k-NN "level" of the margin
    * criterion. Bounded TopK aggregator, so per-key state is O(k) and
    * only <= k rows per key per partition reach the exchange; null
    * scores (dimension-mismatched pairs) do not rank, as in
    * topKPerQuery. */
  private def topKSum(df: DataFrame, key: String, other: String,
      out: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(key).cast("long"), col(other).cast("long"),
        col("cos_milli").cast("long"))
      .filter(col("cos_milli").isNotNull)
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, o, c) => operators.TopK.Entry(c, o) }
      .agg(operators.TopK.TopKAgg(k).toColumn.name("top"))
      .map { case (id, buf) => (id, buf.items.map(_.v).sum) }
      .toDF(key, out)
  }

  /** V13: margin-based parallel-pair (bitext) mining — for every
    * English document, the best foreign-language partner by MARGIN
    * score: cosine relative to the mean of both endpoints' k-NN
    * cosines (the ratio-margin criterion of Artetxe & Schwenk 2019,
    * "Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings"). A raw-cosine threshold over-selects hubs (vectors
    * close to everything); dividing by the local k-NN level cancels
    * hubness, which is the whole point of the margin.
    *
    * Integer-exact: cos_milli longs, margin_milli =
    * floor(1000 * 2K * cos / (sumTopK_x + sumTopK_y)) — sums are exact
    * longs < 2^53, the one IEEE divide+floor is bit-stable across
    * engines (same contract as cosMilli).
    *
    * Scale: the exact all-pairs form here is the oracle-checkable
    * baseline (same role as v1 vs v2/v3). At 100 TB the candidate
    * pairs come from an LSH bucket join (v2/v3) and this margin
    * rerank is a per-candidate map + two k-NN aggregations on the
    * candidate table — no cross product anywhere. */
  def bitextMargin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val K = 4
    val langOf = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang")
    val base = quantized(spark, dir)
      .join(langOf, $"vec_id" === $"doc_id").drop("doc_id")
    val en = base.filter($"lang" === "en")
      .select($"vec_id".as("en_id"), $"q".as("eq"), $"n2".as("en2"))
      .persist() // three map-only cross passes re-read it
    val xx = base.filter($"lang" =!= "en")
      .select($"vec_id".as("xx_id"), $"q".as("xq"), $"n2".as("xn2"))
      .persist() // broadcast side of every pass
    // the cross is REGENERATED per pass (def, not val+persist): a
    // quadratic intermediate must never be a cache resident at 100 TB,
    // and each regeneration is a map-only broadcast join — no shuffle
    def scored = en.join(broadcast(xx))
      .select($"en_id", $"xx_id",
        cosMilli($"eq", $"xq", $"en2", $"xn2").as("cos_milli"))
    // sum of each side's top-K neighbor cosines via the bounded TopK
    // aggregator. The previous window form shuffled and SORTED the
    // entire cross product into per-id partitions — a |xx|-sized
    // partition per en vector, the unbounded-window shape the plan
    // audit bans elsewhere; the aggregator ships <= K rows per id per
    // partition. (A single fused pass emitting both directions through
    // one typed aggregation was measured SLOWER — 293 s vs 180 s at the
    // sf1 stress scale — because doubling the rows through the typed
    // encoder costs more than a second codegen'd cross; the cosine
    // evaluations are the irreducible cost of the exact brute margin
    // contract, and the ANN family (v2/v4) is the sub-brute path.)
    // Null scores (dimension-mismatched pairs) do not rank, as in
    // topKPerQuery.
    val sx = topKSum(scored, "en_id", "xx_id", "sx", K)
    val sy = topKSum(scored, "xx_id", "en_id", "sy", K)
    // margin pass: sx rides the en (streamed) side via a linear join,
    // sy rides the broadcast xx side; best partner per en via
    // max-of-struct (margin desc, xx asc) — map-side combining, so only
    // |en| rows shuffle instead of the whole cross product
    val enS = en.join(sx, "en_id")
    val xxS = xx.join(broadcast(sy), "xx_id")
    enS.join(broadcast(xxS))
      .select($"en_id", $"xx_id", $"sx", $"sy",
        cosMilli($"eq", $"xq", $"en2", $"xn2").as("cos_milli"))
      .filter($"cos_milli".isNotNull && $"sx" + $"sy" > 0)
      .select($"en_id",
        struct(
          floor(lit(1000d * 2 * K) * $"cos_milli".cast("double") /
            ($"sx" + $"sy").cast("double")).cast("long").as("margin_milli"),
          (-$"xx_id").as("neg_xx"),
          $"cos_milli").as("sc"))
      .groupBy($"en_id")
      .agg(max($"sc").as("m"))
      .select($"en_id", (-$"m.neg_xx").as("xx_id"),
        $"m.cos_milli".as("cos_milli"), $"m.margin_milli".as("margin_milli"))
  }
  private val bitextMarginOracle: String =
    s"""WITH base AS ($quantizedSql),
       |en AS (SELECT b.vec_id AS en_id, q AS eq, n2 AS en2
       |  FROM base b JOIN documents d ON b.vec_id = d.doc_id WHERE d.lang = 'en'),
       |xx AS (SELECT b.vec_id AS xx_id, q AS xq, n2 AS xn2
       |  FROM base b JOIN documents d ON b.vec_id = d.doc_id WHERE d.lang <> 'en'),
       |scored AS (SELECT en_id, xx_id,
       |    ${cosMilliSql("eq", "xq", "en2", "xn2")} AS cos_milli
       |  FROM en, xx),
       |sx AS (SELECT en_id, CAST(SUM(cos_milli) AS BIGINT) AS sx FROM (
       |    SELECT en_id, cos_milli, ROW_NUMBER() OVER
       |      (PARTITION BY en_id ORDER BY cos_milli DESC, xx_id) AS r
       |    FROM scored) WHERE r <= 4 GROUP BY en_id),
       |sy AS (SELECT xx_id, CAST(SUM(cos_milli) AS BIGINT) AS sy FROM (
       |    SELECT xx_id, cos_milli, ROW_NUMBER() OVER
       |      (PARTITION BY xx_id ORDER BY cos_milli DESC, en_id) AS r
       |    FROM scored) WHERE r <= 4 GROUP BY xx_id),
       |m AS (SELECT s.en_id, s.xx_id, cos_milli,
       |    CAST(floor(8000.0 * cos_milli / (sx + sy)) AS BIGINT) AS margin_milli
       |  FROM scored s JOIN sx USING (en_id) JOIN sy USING (xx_id)
       |  WHERE sx + sy > 0)
       |SELECT en_id, xx_id, cos_milli, margin_milli FROM (
       |  SELECT m.*, ROW_NUMBER() OVER
       |    (PARTITION BY en_id ORDER BY margin_milli DESC, xx_id) AS rb FROM m)
       |WHERE rb = 1""".stripMargin

  /** V13b: bitext margin over ANN candidates — the sub-brute production
    * path v13's contract names, as a measured, oracle-gated query.
    * Candidate pairs come from the v2 LSH bucket join (same 8-bit
    * random-hyperplane signature); the k-NN level sums and the margin
    * rerank run over the candidate table only, exactly the
    * neighbor-list form of the margin criterion (Artetxe & Schwenk 2019
    * score over each side's retrieved k-NN, not the full cross). Nothing
    * here is quadratic: the bucket join shuffles (bucket, vec) rows and
    * each bucket holds ~|corpus|/2^bits vectors, so at 100 TB cost is
    * sum of per-bucket products, not |en|x|xx|. Approximation contract
    * (documented deviation from the exact v13): a pair is visible only
    * if the two vectors share a bucket, and each side's k-NN level is
    * its candidate-list level — both inherent to ANN-based mining. The
    * candidate table is persisted (three passes read it); unlike v13's
    * cross it is bucket-bounded, so it MAY be a cache resident. */
  def bitextAnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val K = 4
    val langOf = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang")
    val base = quantized(spark, dir)
      .join(langOf, $"vec_id" === $"doc_id").drop("doc_id")
      .withColumn("bucket",
        functions.VecMath.sigCol($"q", LshBits, offset = 16))
    val en = base.filter($"lang" === "en")
      .select($"bucket", $"vec_id".as("en_id"), $"q".as("eq"), $"n2".as("en2"))
    val xx = base.filter($"lang" =!= "en")
      .select($"bucket", $"vec_id".as("xx_id"), $"q".as("xq"), $"n2".as("xn2"))
    val scored = en.join(xx, "bucket")
      .select($"en_id", $"xx_id",
        cosMilli($"eq", $"xq", $"en2", $"xn2").as("cos_milli"))
      .filter($"cos_milli".isNotNull)
      .persist()
    val sx = topKSum(scored, "en_id", "xx_id", "sx", K)
    val sy = topKSum(scored, "xx_id", "en_id", "sy", K)
    scored.join(sx, "en_id").join(sy, "xx_id")
      .filter($"sx" + $"sy" > 0)
      .select($"en_id",
        struct(
          floor(lit(1000d * 2 * K) * $"cos_milli".cast("double") /
            ($"sx" + $"sy").cast("double")).cast("long").as("margin_milli"),
          (-$"xx_id").as("neg_xx"),
          $"cos_milli").as("sc"))
      .groupBy($"en_id")
      .agg(max($"sc").as("m"))
      .select($"en_id", (-$"m.neg_xx").as("xx_id"),
        $"m.cos_milli".as("cos_milli"), $"m.margin_milli".as("margin_milli"))
  }
  private val bitextAnnOracle: String = {
    s"""WITH base AS ($quantizedSql),
       |bucketed AS (SELECT vec_id, q, n2, CAST(${hyperplaneSigSql(LshBits, 16)} AS BIGINT) AS bucket FROM base),
       |en AS (SELECT bucket, b.vec_id AS en_id, q AS eq, n2 AS en2
       |  FROM bucketed b JOIN documents d ON b.vec_id = d.doc_id WHERE d.lang = 'en'),
       |xx AS (SELECT bucket, b.vec_id AS xx_id, q AS xq, n2 AS xn2
       |  FROM bucketed b JOIN documents d ON b.vec_id = d.doc_id WHERE d.lang <> 'en'),
       |scored AS (SELECT * FROM (SELECT en_id, xx_id,
       |    ${cosMilliSql("eq", "xq", "en2", "xn2")} AS cos_milli
       |  FROM en JOIN xx USING (bucket)) WHERE cos_milli IS NOT NULL),
       |sx AS (SELECT en_id, CAST(SUM(cos_milli) AS BIGINT) AS sx FROM (
       |    SELECT en_id, cos_milli, ROW_NUMBER() OVER
       |      (PARTITION BY en_id ORDER BY cos_milli DESC, xx_id) AS r
       |    FROM scored) WHERE r <= 4 GROUP BY en_id),
       |sy AS (SELECT xx_id, CAST(SUM(cos_milli) AS BIGINT) AS sy FROM (
       |    SELECT xx_id, cos_milli, ROW_NUMBER() OVER
       |      (PARTITION BY xx_id ORDER BY cos_milli DESC, en_id) AS r
       |    FROM scored) WHERE r <= 4 GROUP BY xx_id),
       |m AS (SELECT s.en_id, s.xx_id, cos_milli,
       |    CAST(floor(8000.0 * cos_milli / (sx + sy)) AS BIGINT) AS margin_milli
       |  FROM scored s JOIN sx USING (en_id) JOIN sy USING (xx_id)
       |  WHERE sx + sy > 0)
       |SELECT en_id, xx_id, cos_milli, margin_milli FROM (
       |  SELECT m.*, ROW_NUMBER() OVER
       |    (PARTITION BY en_id ORDER BY margin_milli DESC, xx_id) AS rb FROM m)
       |WHERE rb = 1""".stripMargin
  }

  /** V17: recall eval for the bitext ANN path — the d19 move applied to
    * v13b: on the deterministic en_id % 37 = 1 sample (unbiased: the
    * hyperplane signature is id-blind), compute each sampled English
    * vector's EXACT best-cosine partner by brute scan, and report how
    * many of those truth partners share an LSH bucket with their en —
    * i.e. are visible to v13b's candidate generator at all. One output
    * row: n_sampled, n_recovered, recall_milli — plus the multiprobe
    * column pair (truth partner within Hamming distance 1 of the en
    * bucket, i.e. visible to v3's flip-one-hyperplane probing), so the
    * eval prices the recall-widening knob before anyone turns it. Cost
    * is brute/37 (the sampled side is broadcast), so the eval completes
    * at any corpus size where the sample fits a broadcast — and the
    * sweep can assert the ANN path's QUALITY, not just its speed. */
  def bitextRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val langOf = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"lang")
    val base = quantized(spark, dir)
      .join(langOf, $"vec_id" === $"doc_id").drop("doc_id")
      .withColumn("bucket",
        functions.VecMath.sigCol($"q", LshBits, offset = 16))
    val en = base.filter($"lang" === "en" && $"vec_id" % 37 === 1)
      .select($"vec_id".as("en_id"), $"bucket".as("eb"),
        $"q".as("eq"), $"n2".as("en2"))
    val xx = base.filter($"lang" =!= "en")
      .select($"vec_id".as("xx_id"), $"bucket".as("xb"),
        $"q".as("xq"), $"n2".as("xn2"))
    // truth: exact argmax-cosine partner per sampled en (cos desc,
    // xx asc — the same total order as every top-k in this file),
    // carrying both endpoints' buckets through the max-of-struct
    xx.join(broadcast(en))
      .select($"en_id", $"eb",
        struct(
          cosMilli($"eq", $"xq", $"en2", $"xn2").as("cos_milli"),
          (-$"xx_id").as("neg_xx"),
          $"xb").as("sc"))
      .filter($"sc.cos_milli".isNotNull)
      .groupBy($"en_id", $"eb")
      .agg(max($"sc").as("m"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(when($"m.xb" === $"eb", 1L).otherwise(0L)).as("n_recovered"),
        sum(when(bit_count($"m.xb".bitwiseXOR($"eb")) <= 1, 1L)
          .otherwise(0L)).as("n_recovered_mp"))
      .select($"n_sampled", $"n_recovered",
        floor(lit(1000d) * $"n_recovered".cast("double") /
          greatest($"n_sampled", lit(1L)).cast("double"))
          .cast("long").as("recall_milli"),
        $"n_recovered_mp",
        floor(lit(1000d) * $"n_recovered_mp".cast("double") /
          greatest($"n_sampled", lit(1L)).cast("double"))
          .cast("long").as("recall_mp_milli"))
  }
  private val bitextRecallOracle: String = {
    s"""WITH base AS ($quantizedSql),
       |bucketed AS (SELECT vec_id, q, n2, CAST(${hyperplaneSigSql(LshBits, 16)} AS BIGINT) AS bucket FROM base),
       |en AS (SELECT b.vec_id AS en_id, bucket AS eb, q AS eq, n2 AS en2
       |  FROM bucketed b JOIN documents d ON b.vec_id = d.doc_id
       |  WHERE d.lang = 'en' AND b.vec_id % 37 = 1),
       |xx AS (SELECT b.vec_id AS xx_id, bucket AS xb, q AS xq, n2 AS xn2
       |  FROM bucketed b JOIN documents d ON b.vec_id = d.doc_id WHERE d.lang <> 'en'),
       |scored AS (SELECT * FROM (SELECT en_id, eb, xx_id, xb,
       |    ${cosMilliSql("eq", "xq", "en2", "xn2")} AS cos_milli
       |  FROM en, xx) WHERE cos_milli IS NOT NULL),
       |truth AS (SELECT en_id, eb, xb FROM (
       |  SELECT en_id, eb, xb, ROW_NUMBER() OVER
       |    (PARTITION BY en_id ORDER BY cos_milli DESC, xx_id) AS r
       |  FROM scored) WHERE r = 1)
       |SELECT COUNT(*) AS n_sampled,
       |  CAST(SUM(CASE WHEN xb = eb THEN 1 ELSE 0 END) AS BIGINT) AS n_recovered,
       |  CAST(floor(1000.0 * SUM(CASE WHEN xb = eb THEN 1 ELSE 0 END)
       |    / greatest(COUNT(*), 1)) AS BIGINT) AS recall_milli,
       |  CAST(SUM(CASE WHEN bit_count(xor(xb, eb)) <= 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_recovered_mp,
       |  CAST(floor(1000.0 * SUM(CASE WHEN bit_count(xor(xb, eb)) <= 1 THEN 1 ELSE 0 END)
       |    / greatest(COUNT(*), 1)) AS BIGINT) AS recall_mp_milli
       |FROM truth""".stripMargin
  }

  override def register(): Unit = {
    Queries.register(QueryDef("v13_bitext_margin", bitextMargin,
      Some(bitextMarginOracle)))
    Queries.register(QueryDef("v13b_bitext_ann", bitextAnn,
      Some(bitextAnnOracle)))
    Queries.register(QueryDef("v17_bitext_recall", bitextRecall,
      Some(bitextRecallOracle)))
    Queries.register(QueryDef("v12_hard_negatives", hardNegatives,
      Some(hardNegativesOracle)))
    Queries.register(QueryDef("v9_ivf_pq", ivfPq, Some(ivfPqOracle), bench = true))
    Queries.register(QueryDef("v8_pq_search", pqSearch, Some(pqSearchOracle)))
    Queries.register(QueryDef("v10_pq_rerank", pqRerank, Some(pqRerankOracle)))
    Queries.register(QueryDef("v15_mrl_truncate_eval", mrlTruncateEval,
      Some(mrlTruncateEvalOracle)))
    Queries.register(QueryDef("v14_ivf_delete", ivfDelete,
      Some(ivfDeleteOracle)))
    Queries.register(QueryDef("v11_ivf_append", ivfAppend, Some(ivfAppendOracle)))
    Queries.register(QueryDef("v1_knn_brute", knnBrute, Some(knnBruteOracle), bench = true))
    Queries.register(QueryDef("v2_ann_lsh", annLsh, Some(annLshOracle)))
    Queries.register(QueryDef("v3_ann_multiprobe", annMultiprobe, Some(annMultiprobeOracle)))
    Queries.register(QueryDef("v4_ann_ivf", annIvf, Some(annIvfOracle)))
    Queries.register(QueryDef("v16_nprobe_sweep", nprobeSweep,
      Some(nprobeSweepOracle)))
    Queries.register(QueryDef("v5_quantized_knn", quantizedKnn, Some(quantizedKnnOracle)))
    Queries.register(QueryDef("v6_kmeans", kmeansCodebook, Some(kmeansOracle)))
    Queries.register(QueryDef("v7_ann_ivf_trained", annIvfTrained, Some(annIvfTrainedOracle)))
    Queries.register(QueryDef("q11_hybrid", hybridSearch, Some(hybridOracle)))
  }
}
