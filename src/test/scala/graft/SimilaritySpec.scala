package graft

import org.scalatest.funsuite.AnyFunSuite

/** ANN recall property: multi-probe can only widen the candidate set. */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("multi-probe top-1 is never worse than single-probe top-1") {
    import spark.implicits._
    def top1(name: String): Map[Long, Long] =
      Queries.queries(name)(spark, TestSpark.sf)
        .filter($"rank" === 1)
        .select($"query_id".cast("long"), $"cos_milli".cast("long"))
        .as[(Long, Long)].collect().toMap
    val single = top1("v2_ann_lsh")
    val multi = top1("v3_ann_multiprobe")
    // every query the single-probe answered is answered at least as well
    single.foreach { case (q, cos) =>
      assert(multi.contains(q) && multi(q) >= cos,
        s"query $q: multi=${multi.get(q)} < single=$cos")
    }
    assert(multi.size >= single.size) // and possibly more queries answered
  }

  test("nprobe sweep recall is monotone non-decreasing in probe budget") {
    import spark.implicits._
    val rows = Queries.queries("v16_nprobe_sweep")(spark, TestSpark.sf)
      .select($"nprobe", $"recall_milli").as[(Long, Long)]
      .collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L))
    // widening the probe set can only add candidates → recall never drops
    rows.sliding(2).foreach { case Array((np1, r1), (np2, r2)) =>
      assert(r2 >= r1, s"recall dropped $r1 -> $r2 between nprobe $np1 -> $np2")
    }
    rows.foreach { case (_, r) => assert(r >= 0L && r <= 1000L) }
  }

  test("k-means update round does not increase total inertia") {
    import spark.implicits._
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.functions._
    // inertia vs the UPDATED centroids must be <= inertia vs the seed
    // centroids (the v4 IVF assignment replayed on d2) — the Lloyd's
    // monotonicity invariant, here on integer-mean centroids. Checked on
    // both inputs the codebook kernel trains: whole vectors (v6, one
    // codebook) and the PQ subspaces (v8, one codebook per m, each
    // checked on its own). The seed and its argmin are replayed here.
    val quant = SimilarityQueries.quantized(spark, TestSpark.sf).persist()
    val step = quant.count() / 16
    def inertia(df: DataFrame, group: Column): Map[Long, Long] =
      df.groupBy(group.cast("long").as("g")).agg(sum($"d2"))
        .as[(Long, Long)].collect().toMap
    // each training row beside its nearest seed centroid (group, cid, q, d2)
    def seedAssign(train: DataFrame, by: Seq[String], group: Column): DataFrame = {
      val seedRow = train
        .filter($"vec_id" % step === 0 && $"vec_id" < step * 16)
        .select(by.map(col) ++ Seq(TextQueries.intDiv($"vec_id", lit(step)).as("cid"),
          $"q".as("cv"), $"n2".as("cn2")): _*)
        .groupBy(by.map(col): _*)
        .agg(sort_array(collect_list(struct($"cid", $"cv", $"cn2"))).as("cents"))
      val withSeed =
        if (by.isEmpty) train.crossJoin(broadcast(seedRow))
        else train.join(broadcast(seedRow), by)
      withSeed.select(group.cast("long").as("group"), $"q", element_at(array_sort(transform($"cents", c =>
        struct(($"n2" - lit(2L) * functions.VecMath.dotCol($"q", c.getField("cv"))
          + c.getField("cn2")).as("d2"), c.getField("cid").as("cid")))), 1).as("best"))
        .select($"group", $"best.cid".cast("long").as("cid"), $"q", $"best.d2".as("d2"))
    }
    // the first round's update: per (group, cid), the truncating integer
    // mean (`s div n`) of its members, position by position
    def firstMeans(assigned: DataFrame): Map[(Long, Long), Seq[Long]] =
      assigned.select($"group", $"cid", $"q").as[(Long, Long, Seq[Long])].collect()
        .groupBy { case (g, cid, _) => (g, cid) }
        .map { case (k, rows) =>
          k -> rows.toSeq.map(_._3).transpose.map(xs => xs.sum / xs.size.toLong) }
    def trained(cents1: DataFrame, group: Column): Map[(Long, Long), Seq[Long]] =
      cents1.select(group.cast("long"), $"cid".cast("long"), $"cv")
        .as[(Long, Long, Seq[Long])].collect()
        .map { case (g, cid, cv) => (g, cid) -> cv }.toMap
    val (cents1, a2) = SimilarityQueries.kmeansState(spark, TestSpark.sf)
    val subs = SimilarityQueries.subspaces(quant, "q", "vec_id")
    val (pqCents1, pqA2) = SimilarityQueries.Codebook(subs, step, Seq("m")).lloyd
    val wholeSeed = seedAssign(quant, Nil, lit(0L))
    val subsSeed = seedAssign(subs, Seq("m"), $"m")
    val inputs = Seq(
      ("whole vectors", inertia(a2, lit(0L)), inertia(wholeSeed, $"group"),
        trained(cents1, lit(0L)), firstMeans(wholeSeed)),
      ("PQ subspace m", inertia(pqA2, $"m"), inertia(subsSeed, $"group"),
        trained(pqCents1, $"m"), firstMeans(subsSeed)))
    inputs.foreach { case (what, after, before, cents, means) =>
      assert(after.keySet == before.keySet && after.nonEmpty, what)
      after.foreach { case (g, a) =>
        assert(a <= before(g), s"$what $g: inertia rose: ${before(g)} -> $a")
        assert(a > 0L, s"$what $g")
      }
      // every trained centroid is the integer mean of its first-round
      // members: inertia alone cannot see a sign error in the update,
      // since near-origin means leave ||x + mu|| close to ||x - mu||
      assert(cents.keySet == means.keySet && cents.nonEmpty, what)
      cents.foreach { case (k, cv) =>
        assert(cv == means(k), s"$what $k: centroid is not its members' mean")
      }
    }
    assert(inputs(1)._2.size == 4) // one codebook per subspace
  }

  test("semantic prune keeps one representative per near-dup pair") {
    import spark.implicits._
    val kept = Queries.queries("d9_semantic_prune")(spark, TestSpark.sf)
      .select($"vec_id".cast("long")).as[Long].collect().toSet
    val (_, a2) = SimilarityQueries.kmeansState(spark, TestSpark.sf)
    val total = a2.count()
    assert(kept.nonEmpty && kept.size < total, // something pruned, not everything
      s"kept ${kept.size} of $total")
    // no kept pair within a cell is still cosine-near: recompute pairs over
    // the kept set only and assert none reaches the 300-milli threshold
    // among pairs where the LOWER id is kept (the drop rule's witnesses).
    val keptDf = a2.filter($"vec_id".isin(kept.toSeq: _*))
    val l = keptDf.select($"cid", $"vec_id".as("va"), $"q".as("qa"), $"n2".as("n2a"))
    val r = keptDf.select($"cid", $"vec_id".as("vb"), $"q".as("qb"), $"n2".as("n2b"))
    val survivors = l.join(r, "cid").filter($"va" < $"vb")
      .filter(SimilarityQueries.cosMilli($"qa", $"qb", $"n2a", $"n2b") >= 300L)
      .count()
    assert(survivors === 0L, s"$survivors near-dup pairs survived pruning")
  }

  test("bitext margin demotes hubs: selection differs from raw-cosine best") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val mined = Queries.queries("v13_bitext_margin")(spark, TestSpark.sf)
      .select($"en_id", $"xx_id").as[(Long, Long)].collect().toMap
    // one mined partner per English doc
    assert(mined.nonEmpty)
    // recompute the RAW cosine argmax per en_id (no margin normalization)
    val langOf = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", $"lang")
    val base = SimilarityQueries.quantized(spark, TestSpark.sf)
      .join(langOf, $"vec_id" === $"doc_id").drop("doc_id")
    val en = base.filter($"lang" === "en")
      .select($"vec_id".as("en_id"), $"q".as("eq"), $"n2".as("en2"))
    val xx = base.filter($"lang" =!= "en")
      .select($"vec_id".as("xx_id"), $"q".as("xq"), $"n2".as("xn2"))
    val w = Window.partitionBy($"en_id").orderBy($"cos_milli".desc, $"xx_id".asc)
    val rawBest = en.join(broadcast(xx))
      .select($"en_id", $"xx_id",
        SimilarityQueries.cosMilli($"eq", $"xq", $"en2", $"xn2").as("cos_milli"))
      .withColumn("rb", row_number().over(w)).filter($"rb" === 1)
      .select($"en_id", $"xx_id").as[(Long, Long)].collect().toMap
    // mined ⊆ raw (the sx+sy>0 guard may drop degenerate sources)
    assert(mined.keySet.subsetOf(rawBest.keySet))
    val divergent = mined.count { case (e, x) => rawBest(e) != x }
    // margin normalization must actually change some selections —
    // otherwise it degenerated to a plain cosine argmax (39/193 differ
    // on the deterministic sf0.001 corpus)
    assert(divergent > 0, "margin selection identical to raw-cosine argmax")
  }
}
