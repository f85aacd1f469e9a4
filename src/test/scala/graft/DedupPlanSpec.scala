package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Scale-shape guards for the dedup family: the round-4 rewrites replaced
  * quadratic block joins with bounded candidate generation; these tests pin
  * the plan/semantics properties that make the 100 TB story hold. */
class DedupPlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("saltedSelfJoin produces exactly the unsalted pair set") {
    import spark.implicits._
    val rows = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (5L, 20L),
      (6L, 30L)).toDF("doc_id", "band_hash").withColumn("band_idx", lit(0))
    val salted = DedupQueries.saltedSelfJoin(rows)
      .select($"a.doc_id".as("x"), $"b.doc_id".as("y"))
      .as[(Long, Long)].collect().sorted
    val plain = rows.as("a").join(rows.as("b"),
        $"a.band_idx" === $"b.band_idx" && $"a.band_hash" === $"b.band_hash" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("x"), $"b.doc_id".as("y"))
      .as[(Long, Long)].collect().sorted
    assert(salted.toSeq == plain.toSeq)
    assert(salted.length == 3 + 1) // {1,2,3} pairs + {4,5}
  }

  test("d4 candidate generation is an inverted-index join on prefix tokens") {
    val p = DedupQueries.ngramCandidates(
        DedupQueries.ngramBase(spark, TestSpark.sf))
      .queryExecution.executedPlan.toString
    assert(p.contains("tok"), s"no prefix-token join key in plan:\n$p")
    assert(!p.toLowerCase.contains("cartesian"), "cartesian product in d4 plan")
  }

  test("d4 prefix filter finds exactly the unblocked all-pairs result") {
    // the oracle is the quadratic join; at sf0.001 replicate it in Spark
    // and require set equality (prefix filtering must be lossless)
    import spark.implicits._
    val got = Queries.queries("d4_ngram_jaccard")(spark, TestSpark.sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val base = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", transform(TextQueries.tokensCol($"text"),
        TextQueries.wordHash(_)).as("h"))
      .select($"doc_id",
        when(size($"h") >= 2, array_distinct(transform(
          sequence(lit(1), size($"h") - 1), i =>
            (element_at($"h", i) * 131L + element_at($"h", i + 1)) % TextQueries.HashP)))
          .otherwise(array().cast("array<long>")).as("sid"))
      .filter(size($"sid") > 0)
    val want = base.as("a").join(base.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        (size(array_intersect(col("a.sid"), col("b.sid"))).cast("long") * 1000L /
          size(array_union(col("a.sid"), col("b.sid"))).cast("long")).as("j"))
      .filter(col("j") >= 500L)
      .select(col("a.doc_id"), col("b.doc_id")).as[(Long, Long)].collect().toSet
    assert(got == want)
  }

  test("d18 two-phase hash prefilter finds exactly the one-phase dup grams") {
    // phase 1 shuffles only 64-bit hashes; the exact string confirm must
    // make the candidate restriction lossless vs a direct groupBy(gram)
    import spark.implicits._
    val K = DedupQueries.SubK
    val grams = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", TextQueries.tokensCol(lower($"text")).as("t"))
      .filter(size($"t") >= K)
      .select($"doc_id", explode(transform(
        sequence(lit(0), size($"t") - K),
        i => concat_ws(" ", slice($"t", i + 1, lit(K))))).as("gram"))
    val direct = grams.groupBy($"gram").agg(count(lit(1)).as("c"))
      .filter($"c" >= 2).select($"gram").as[String].collect().toSet
    val hashed = grams.withColumn("gh", xxhash64($"gram"))
    val dupH = hashed.groupBy($"gh").agg(count(lit(1)).as("c"))
      .filter($"c" >= 2).select($"gh")
    val twoPhase = hashed.join(dupH, Seq("gh"), "left_semi")
      .groupBy($"gram").agg(count(lit(1)).as("c"))
      .filter($"c" >= 2).select($"gram").as[String].collect().toSet
    assert(twoPhase == direct)
    assert(direct.nonEmpty, "sf0.001 corpus should contain duplicated grams")
  }

  test("d18 island merge marks maximal duplicated regions") {
    // a doc whose duplicated grams tile [0, n] must report ONE span
    // covering them; doc pairs sharing a full document report full cover
    import spark.implicits._
    val out = Queries.queries("d18_substring_dedup")(spark, TestSpark.sf)
      .select($"doc_id", $"n_spans", $"dup_tokens", $"total_tokens")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, n, dup, tot) =>
      assert(n >= 1L && dup >= DedupQueries.SubK && dup <= tot,
        s"doc $id: n=$n dup=$dup tot=$tot out of range")
    }
    // exact whole-SEQUENCE duplicates must be fully covered (dup == tot)
    val seqs = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id",
        concat_ws(" ", TextQueries.tokensCol(lower($"text"))).as("s"))
      .filter(size(split($"s", " ")) >= DedupQueries.SubK)
    val dupSeq = seqs.groupBy($"s").agg(count(lit(1)).as("c"))
      .filter($"c" >= 2).select($"s")
    val fullDup = seqs.join(dupSeq, Seq("s"), "left_semi")
      .select($"doc_id").as[Long].collect().toSet
    if (fullDup.nonEmpty) {
      val covered = out.filter(r => fullDup.contains(r._1))
      assert(covered.nonEmpty)
      covered.foreach { case (id, _, dup, tot) =>
        assert(dup == tot, s"whole-dup doc $id only covered $dup/$tot") }
    }
  }

  test("d5 candidates are bounded by (label, band) sub-buckets, not label alone") {
    import spark.implicits._
    val base = Tables.load(spark, TestSpark.sf, "embeddings")
      .select($"vec_id", $"label",
        transform($"embedding", x => round(x.cast("double") * 1000d).cast("long")).as("q"))
    val p = DedupQueries.embCandidates(base)
      .queryExecution.executedPlan.toString
    assert(p.contains("band_val"), s"no band sub-bucket join key in plan:\n$p")
  }

  test("guardedBandPairs drops >BandCap buckets, salted mid-size stays complete") {
    import spark.implicits._
    val hotN = (DedupQueries.BandCap + 2).toInt
    val midN = (DedupQueries.SaltAt + 2).toInt
    val rows = ((0 until hotN).map(i => (10000L + i, 0L, 1L)) ++ // dropped
      (0 until midN).map(i => (1000L + i, 0L, 2L)) ++ // salted regime
      Seq((1L, 0L, 3L), (2L, 0L, 3L), (3L, 0L, 3L))) // plain regime
      .toDF("doc_id", "band_idx", "band_hash")
    val pairs = DedupQueries.guardedBandPairs(rows)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    assert(!pairs.exists(_._1 >= 10000L), "hot bucket contributed pairs")
    assert(pairs.count(p => p._1 >= 1000L && p._1 < 10000L) == midN * (midN - 1) / 2)
    assert(pairs.count(_._1 < 1000L) == 3)
  }

  test("d2 band join drops hot buckets above BandCap before pairing") {
    // the oracles' HAVING COUNT(*) > BandCap at its boundary: a bucket of
    // exactly BandCap docs survives, one of BandCap + 1 is dropped, on
    // both cap paths — d2's guardedBandPairs and the kernel's own
    // (d8, d12, refresh, st8c)
    import spark.implicits._
    val cap = DedupQueries.BandCap
    val rows = ((1L to cap).map(i => (i, 0L, 1L)) ++
        (1L to cap + 1).map(i => (10000L + i, 0L, 7L)))
      .toDF("doc_id", "band_idx", "band_hash")
    val kept = DedupQueries.Lsh.capped(rows, cap)
      .select($"band_hash").as[Long].collect()
    assert(kept.length == cap && kept.forall(_ == 1L))
    val pairs = DedupQueries.guardedBandPairs(rows)
    assert(pairs.filter($"doc_b" > 10000L).count() == 0L, "hot bucket contributed pairs")
    assert(pairs.count() == cap * (cap - 1) / 2)
  }

  test("d13 winnow selection matches a plain-Scala reimplementation") {
    import spark.implicits._
    val P = TextQueries.HashP
    val W = DedupQueries.WinnowW
    def wordHash(w: String): Long =
      w.foldLeft(0L)((a, c) => (a * TextQueries.WordB + c.toLong) % P)
    def winnow(text: String): Seq[Long] = {
      val h = text.split("\\s+").filter(_.nonEmpty).map(wordHash)
      val kg = if (h.length >= 3)
        (0 until h.length - 2).map(i =>
          ((h(i) * 131L + h(i + 1)) % P * 131L + h(i + 2)) % P)
        else Seq.empty[Long]
      if (kg.isEmpty) Seq.empty
      else (0 until math.max(kg.length - W + 1, 1)).map { j =>
        val win = kg.slice(j, j + W)
        // rightmost minimum: last index attaining the window min
        kg(j + win.lastIndexOf(win.min))
      }.distinct.sorted
    }
    val want = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, text) => id -> winnow(text) }
      .filter(_._2.nonEmpty).toMap
    val got = DedupQueries.winnowBase(spark, TestSpark.sf)
      .select($"doc_id", $"sid").as[(Long, Seq[Long])].collect().toMap
    assert(got == want)
    // density sanity: winnowing keeps roughly 2/(w+1) of the k-grams
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val totalKg = docs.map { case (_, t) =>
      math.max(t.split("\\s+").count(_.nonEmpty) - 2, 0) }.sum.toDouble
    val totalFp = want.values.map(_.size).sum.toDouble
    assert(totalFp / totalKg > 0.2 && totalFp / totalKg < 0.6,
      s"density ${totalFp / totalKg} outside the 2/(w+1) ballpark")
  }

  test("d13 candidates ride the same prefix-filter inverted index as d4") {
    val p = DedupQueries.ngramCandidates(
        DedupQueries.winnowBase(spark, TestSpark.sf))
      .queryExecution.executedPlan.toString
    assert(p.contains("tok"), s"no prefix-token join key in plan:\n$p")
    assert(!p.toLowerCase.contains("cartesian"), "cartesian product in d13 plan")
  }

  test("d14 CDC chunking is shift-robust where a fixed grid is not") {
    import spark.implicits._
    // the same 400 tokens, with ONE token inserted at the front: content-
    // defined boundaries must leave every chunk after the edit intact,
    // while the fixed 8-token grid re-aligns (and loses) all of them
    val words = (1 to 400).map(i => s"w${i * 7919 % 1000}")
    val docs = Seq((1L, words.mkString(" ")),
        (2L, ("zzz" +: words).mkString(" ")))
      .toDF("doc_id", "text")
      .select($"doc_id", TextQueries.tokensCol(lower($"text")).as("t"))
    val chunks = DedupQueries.cdcChunks(DedupQueries.cdcBase(docs))
      .select($"doc_id", $"fp").as[(Long, Long)].collect()
    val a = chunks.filter(_._1 == 1L).map(_._2).toSet
    val b = chunks.filter(_._1 == 2L).map(_._2).toSet
    val cdcShared = (a intersect b).size.toDouble / a.size
    def grid(ts: Seq[String]): Set[String] =
      ts.grouped(8).filter(_.size == 8).map(_.mkString(" ")).toSet
    val ga = grid(words)
    val gridShared = (ga intersect grid("zzz" +: words)).size.toDouble / ga.size
    assert(cdcShared > 0.8, s"CDC kept only $cdcShared of chunks after a 1-token edit")
    assert(gridShared < 0.2, s"fixed grid unexpectedly shift-robust: $gridShared")
  }

  test("d14 chunks partition the token stream exactly") {
    import spark.implicits._
    // chunk lengths per doc must sum to the token count, and every fp
    // must equal the rolling fold of its chunk's word hashes
    val base = DedupQueries.cdcBase(
      Tables.load(spark, TestSpark.sf, "documents")
        .select($"doc_id".cast("long").as("doc_id"),
          TextQueries.tokensCol(lower($"text")).as("t"))).persist()
    val perDoc = DedupQueries.cdcChunks(base)
      .groupBy($"doc_id").agg(sum($"ntok").as("covered"))
    val bad = base.select($"doc_id", size($"t").cast("long").as("n"))
      .join(perDoc, Seq("doc_id"), "left")
      .filter(coalesce($"covered", lit(0L)) =!= $"n")
    assert(bad.count() == 0, "CDC chunks do not partition some document")
  }

  test("d14 first-occurrence MIN combines map-side; no window over chunks") {
    val p = DedupQueries.cdcDedup(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_min") || p.contains("partial_finalmerge") ||
      "HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
    assert(!p.contains("Window"), "CDC dedup must not use a window")
  }

  test("d15 soft weights: every cluster contributes exactly one copy") {
    import spark.implicits._
    val out = Queries.queries("d15_soft_dedup")(spark, TestSpark.sf)
      .select($"cluster", $"csize", $"weight_milli")
      .as[(Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (c, rs) =>
      assert(rs.map(_._2).distinct.length == 1, s"cluster $c size disagrees")
      assert(rs.length.toLong == rs.head._2, s"cluster $c size != membership")
      // the canonical doc absorbs the remainder: totals are EXACT, so
      // even a >1000-doc boilerplate cluster keeps one copy's worth
      assert(rs.map(_._3).sum == 1000L, s"cluster $c total != 1000")
      assert(rs.forall(_._3 >= 0))
    }
    // d6 consistency: the hard-removal survivors are exactly the
    // cluster minima of the same assignment
    val keep = Queries.queries("d6_dedup_clusters")(spark, TestSpark.sf)
      .filter($"keep").select($"doc_id").as[Long].collect().toSet
    val minima = out.groupBy(_._1).keySet
    assert(keep == minima)
  }

  test("d20 quality canonical: rep maximizes diversity with lowest-id ties, no window") {
    import spark.implicits._
    val out = Queries.queries("d20_quality_canonical")(spark, TestSpark.sf)
      .select($"doc_id", $"cluster", $"rep", $"dm", $"keep")
      .as[(Long, Long, Long, Long, Boolean)].collect()
    assert(out.nonEmpty)
    out.groupBy(_._2).foreach { case (c, rs) =>
      val reps = rs.map(_._3).distinct
      assert(reps.length == 1, s"cluster $c disagrees on rep")
      val bestDm = rs.map(_._4).max
      val expect = rs.filter(_._4 == bestDm).map(_._1).min
      assert(reps.head == expect,
        s"cluster $c elected ${reps.head}, expected $expect (dm=$bestDm)")
      assert(rs.count(_._5) == 1, s"cluster $c keep count != 1")
      assert(rs.find(_._5).get._1 == expect)
    }
    // same cluster assignment as d6 (shared machinery stays shared)
    val d6 = Queries.queries("d6_dedup_clusters")(spark, TestSpark.sf)
      .select($"doc_id", $"cluster").as[(Long, Long)].collect().toMap
    assert(out.map(r => r._1 -> r._2).toMap == d6)
    // the election is an aggregate, not a per-cluster window
    val p = DedupQueries.qualityCanonical(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"election must not use a window:\n$p")
  }

  test("d16 bloom pre-filter: no false negatives, and it actually filters") {
    import spark.implicits._
    val out = Queries.queries("d16_bloom_prefilter")(spark, TestSpark.sf)
      .select($"doc_id", $"maybe_seen", $"actually_seen")
      .as[(Long, Boolean, Boolean)].collect()
    assert(out.nonEmpty)
    // the Bloom guarantee: a seen key can never test negative
    assert(out.forall(r => !r._3 || r._2),
      "false negative: actually_seen doc tested maybe_seen=false")
    // usefulness: at this fill factor most unseen docs are rejected
    // map-side and skip the probe join entirely
    val unseen = out.filter(!_._3)
    assert(unseen.count(!_._2) > unseen.length / 2,
      s"filter rejected only ${unseen.count(!_._2)}/${unseen.length} unseen docs")
    // the filter itself must reach probes as a broadcast
    val p = DedupQueries.bloomPrefilter(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"bloom bits not broadcast:\n$p")
  }

  test("d17 embed decontamination: benchmark broadcasts, audit covers every train vec") {
    import spark.implicits._
    val out = Queries.queries("d17_embed_decontaminate")(spark, TestSpark.sf)
    val rows = out.select($"vec_id", $"near_bench", $"cos_milli")
      .as[(Long, Long, Long)].collect()
    // one audit row per NON-benchmark vector, none for the benchmark
    val total = Tables.load(spark, TestSpark.sf, "embeddings").count()
    val nBench = Tables.load(spark, TestSpark.sf, "embeddings")
      .filter($"vec_id" % 37 === 0).count()
    assert(rows.length == total - nBench,
      s"expected ${total - nBench} audit rows, got ${rows.length}")
    assert(rows.forall(_._1 % 37 != 0), "benchmark vec leaked into the audit")
    // the reported nearest IS a benchmark vector and cosine is a cosine
    assert(rows.forall(_._2 % 37 == 0), "near_bench not a benchmark vec")
    assert(rows.forall(r => r._3 >= -1000L && r._3 <= 1000L))
    // the benchmark side must broadcast: map-only scan, no shuffle join
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"benchmark not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus-shaped join in the decontamination scan:\n$p")
  }

  test("d10 span dedup: kept spans = distinct spans; min agg is partial") {
    import spark.implicits._
    val out = DedupQueries.spanDedup(spark, TestSpark.sf)
    // exactly one occurrence of each distinct 8-token span survives
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", TextQueries.tokensCol(lower($"text")).as("t"))
      .select($"doc_id", explode(transform(
        sequence(lit(0), (size($"t") / 8).cast("int") - 1),
        i => concat_ws(" ", slice($"t", i * 8 + 1, lit(8))))).as("span"))
    val distinctSpans = docs.select($"span").distinct().count()
    val keptTotal = out.agg(sum($"n_spans" - $"n_dropped")).head().getLong(0)
    assert(keptTotal == distinctSpans,
      s"kept $keptTotal != distinct $distinctSpans")
    // the corpus-wide first-occurrence MIN must combine map-side (hot-span
    // skew defense: no window over span partitions)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("partial_min") || p.contains("partial_finalmerge") ||
      "HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
    assert(!p.contains("Window"), "span dedup must not use a window")
  }

  test("bandCap knob: default pins the oracle constant; override changes " +
      "the guard; bad values rejected naming the key") {
    import spark.implicits._
    // the oracles interpolate BandCap at registration — the conf-less
    // default MUST equal it or the correctness gate silently diverges
    assert(DedupQueries.bandCap(spark) == DedupQueries.BandCap)
    assert(DedupQueries.BandCap == 1024L)
    // a 70-doc bucket (above SaltAt=64, so the guard sees it): cap 65
    // drops it (no pairs), the 1024 default keeps it (salted regime)
    val rows = (1L to 70L).toDF("doc_id")
      .withColumn("band_idx", lit(0)).withColumn("band_hash", lit(42L))
    def pairs(): Long = DedupQueries.guardedBandPairs(rows).count()
    assert(pairs() == 70L * 69 / 2) // C(70,2) at the default
    spark.conf.set("spark.graft.bandCap", "65")
    try {
      assert(DedupQueries.bandCap(spark) == 65L)
      assert(pairs() == 0L) // bucket dead at cap 65
      spark.conf.set("spark.graft.bandCap", "lots")
      val e = intercept[IllegalArgumentException](DedupQueries.bandCap(spark))
      assert(e.getMessage.contains("spark.graft.bandCap"))
      spark.conf.set("spark.graft.bandCap", "0")
      val z = intercept[IllegalArgumentException](DedupQueries.bandCap(spark))
      assert(z.getMessage.contains("spark.graft.bandCap"))
    } finally spark.conf.unset("spark.graft.bandCap")
    assert(DedupQueries.bandCap(spark) == 1024L)
  }
}
