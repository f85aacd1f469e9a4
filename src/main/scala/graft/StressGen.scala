package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress corpus generator (round-10, SURVEY §8): derives a ~10×
  * corpus from an existing sf dir WITH INJECTED SKEW, so the 100 TB
  * design arguments can be measured instead of argued:
  *
  *   - every fact table replicated `reps`× with per-replica key shifts
  *     (FK-consistent: both sides of every key family shift by the same
  *     rep × B); dims (region/nation) copied as-is; replica 0 keeps the
  *     original keys so fixed probe ids (vec_id 0, the bench query
  *     fixtures) still exist;
  *   - one boilerplate document duplicated 100,000× — an exact/near-dup
  *     mega-cluster: the exact-dedup argmin election gets a hot key and
  *     every minhash band bucket it lands in exceeds BandCap (1024), so
  *     guardedBandPairs' logged drop regime MUST fire;
  *   - one part name carried by 10% of ALL parts — the K4 name-twin
  *     index hot key (the la_build name pass, r1, w1 feel it).
  *
  * Usage: runMain graft.StressGen [srcDir] [outDir] [reps]
  * then SPARK_GRAFT_SF_DIR=<outDir> runMain graft.Bench.
  * No oracle claims at this scale — correctness is pinned at sf0.01 by
  * the driver gate; this corpus exists to measure scaling and skew-guard
  * engagement.
  */
object StressGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_stress/sf1")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    // optional table subset (comma-separated) — a decade probe of
    // documents-only keys (d2/d18/st8c at sf100) need not pay for a
    // 600M-row lineitem it never reads
    val onlyTables = args.lift(3)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = Sessions.create("graft-stressgen", Sessions.cpus)
    import spark.implicits._

    val B = 10000000L // key-shift base, far above any sf0.1 key
    val r = spark.range(reps.toLong).select($"id".cast("long").as("rep"))
    def rep10(df: DataFrame, keys: String*): DataFrame = {
      val x = df.crossJoin(broadcast(r)) // bounded: `reps` rows
      keys.foldLeft(x)((d, k) => d.withColumn(k, col(k) + $"rep" * B))
        .drop("rep")
    }
    def save(df: => DataFrame, t: String): Unit =
      if (onlyTables.forall(_.contains(t)))
        df.write.mode("overwrite").parquet(s"$out/$t.parquet")

    for (t <- Seq("region", "nation")) save(Tables.load(spark, src, t), t)
    save(rep10(Tables.load(spark, src, "customer"), "c_custkey"), "customer")
    save(rep10(Tables.load(spark, src, "orders"), "o_orderkey", "o_custkey"),
      "orders")
    save(rep10(Tables.load(spark, src, "lineitem"),
      "l_orderkey", "l_partkey", "l_suppkey"), "lineitem")
    save(rep10(Tables.load(spark, src, "supplier"), "s_suppkey"), "supplier")
    save(rep10(Tables.load(spark, src, "events"), "event_id", "user_id"),
      "events")
    save(rep10(Tables.load(spark, src, "embeddings"), "vec_id"), "embeddings")

    // hot name on 10% of parts (B % 10 == 0, so the fraction holds in
    // every replica)
    save(rep10(Tables.load(spark, src, "part"), "p_partkey")
      .withColumn("p_name",
        when(pmod($"p_partkey", lit(10)) === 7, lit("common boilerplate part"))
          .otherwise($"p_name")), "part")

    val boilerText = ("merge scan boilerplate navigation footer copyright " +
      "all rights reserved subscribe newsletter privacy policy terms of " +
      "service cookie notice contact about careers press sitemap language " +
      "region currency help center returns shipping tracking account " +
      "login register cart checkout wishlist")
    val boiler = spark.range(100000L)
      .select(($"id" + 900000000L).as("doc_id"),
        lit(boilerText).as("text"), lit("en").as("lang"),
        lit("boilerplate").as("source"),
        lit(boilerText.length.toLong).as("n_chars"))
    save(rep10(Tables.load(spark, src, "documents"), "doc_id")
      .unionByName(boiler), "documents")

    println(s"stress corpus written to $out (reps=$reps)")
    spark.stop()
  }
}
