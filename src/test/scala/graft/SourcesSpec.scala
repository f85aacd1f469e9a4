package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Jsonl, Multimodal}

class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("jsonl roundtrip with skip-existing anti-join") {
    import spark.implicits._
    val dir = Fixtures.tempDir("jsonl").getPath
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    Jsonl.save(docs, s"$dir/out", shards = 2)
    val back = Jsonl.load(spark, s"$dir/out", "doc_id")
    assert(back.count() === docs.count())
    // skip-existing: loading against itself yields nothing new
    val skipped = Jsonl.load(spark, s"$dir/out", "doc_id", existing = Some(back))
    assert(skipped.count() === 0)
  }

  test("csv roundtrip with explicit schema (S5 per-source format shape)") {
    import spark.implicits._
    val dir = Fixtures.tempDir("csv").getPath
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", $"lang", $"source", $"n_chars")
    docs.write.mode("overwrite").option("header", "true").csv(s"$dir/out")
    val back = spark.read.schema(docs.schema)
      .option("header", "true").csv(s"$dir/out")
    assert(back.count() === docs.count())
    assert(back.except(docs).count() === 0)
  }

  test("schema evolution: mergeSchema unifies drifted ingest batches") {
    import spark.implicits._
    // batch 1: the original envelope; batch 2 adds a column (the
    // 100 TB reality — sources drift; readers must not break)
    val dir = Fixtures.tempDir("graft_evolve")
    Seq((1L, "a")).toDF("id", "v")
      .write.mode("append").parquet(s"$dir/t")
    Seq((2L, "b", 9L)).toDF("id", "v", "extra")
      .write.mode("append").parquet(s"$dir/t")
    val unified = spark.read.option("mergeSchema", "true").parquet(s"$dir/t")
    assert(unified.columns.sorted.toSeq === Seq("extra", "id", "v"))
    val rows = unified.select($"id", $"v", $"extra")
      .as[(Long, String, Option[Long])].collect().sortBy(_._1)
    assert(rows.toSeq === Seq((1L, "a", None), (2L, "b", Some(9L))))
  }

  test("partitioned export prunes partitions on the read path") {
    import spark.implicits._
    val dir = Fixtures.tempDir("graft_part")
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", $"lang", $"source")
    docs.write.partitionBy("lang").mode("overwrite")
      .parquet(s"$dir/docs")
    // hive-style lang=xx directories on disk
    val langDirs = new java.io.File(s"$dir/docs").listFiles()
      .filter(_.getName.startsWith("lang=")).map(_.getName).sorted
    assert(langDirs.nonEmpty && langDirs.forall(_.matches("lang=\\w+")))
    // a lang filter must become a PartitionFilter, not a data filter:
    // only the matching directory is scanned at any scale
    val q = spark.read.parquet(s"$dir/docs").filter($"lang" === "de")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s+", " ").matches(".*PartitionFilters: \\[[^\\]]*lang[^\\]]*\\].*"),
      s"lang not pruned:\n$plan")
    assert(q.count() === docs.filter($"lang" === "de").count())
  }

  test("manifest snapshot pins commit 1 exactly while the directory moves on") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, lit, max, round, sum}
    val rows = Queries.queries("s22_manifest_snapshot")(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Set("v1", "current"))
    // the pinned read must be commit 1 verbatim — no appended rows leak in
    val commit1 = Tables.load(spark, TestSpark.sf, "orders")
      .filter($"o_orderkey" % 3 === 0)
      .agg(count(lit(1)), sum(round($"o_totalprice" * 100).cast("long")),
        max($"o_orderkey").cast("long"))
      .as[(Long, Long, Long)].head()
    assert(rows("v1") == commit1, "v1 manifest read drifted from commit 1")
    // and the directory read sees the append
    assert(rows("current")._1 > rows("v1")._1, "append invisible to current")
    // re-invocation reuses the fixture: same answer, no second write
    val again = Queries.queries("s22_manifest_snapshot")(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(again == rows)
  }

  test("multimodal decode is deterministic and partition-invariant") {
    import spark.implicits._
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val one = Multimodal.documentsAsMedia(docs.repartition(1)).collect().sortBy(_.mediaId)
    val many = Multimodal.documentsAsMedia(docs.repartition(7)).collect().sortBy(_.mediaId)
    assert(one.toSeq === many.toSeq)
    // text payloads are not images: real decoder reports the fallback
    assert(one.forall(m => m.nBytes > 0 && m.format == "unknown" &&
      m.width == 0 && m.height == 0))
  }
}
