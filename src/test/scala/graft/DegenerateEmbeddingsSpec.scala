package graft

import org.scalatest.funsuite.AnyFunSuite

/** The embeddings twin of DegenerateDocsSpec: at 100 TB a zero vector
  * (failed encoder), an all-equal vector, a truncated-dimension row, an
  * empty array, or a null embedding is as certain as an empty document —
  * and the cosine paths divide by sqrt(n2) while the dot/PQ paths assume
  * a fixed dimension. The sf fixtures contain none of these rows, so the
  * oracle gate cannot catch the class; this spec is its standing guard.
  * One degenerate sits on the PROBE side (vec_id 9, zero vector) so the
  * query half of every ANN shape is exercised too. */
class DegenerateEmbeddingsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val fixtureDir: String = {
    import spark.implicits._
    val dir = Fixtures.tempDir("graft_degen_emb")
    for (t <- Tables.names if t != "embeddings")
      java.nio.file.Files.createSymbolicLink(
        new java.io.File(dir, s"$t.parquet").toPath,
        new java.io.File(s"${TestSpark.sf}/$t.parquet").toPath)
    val dim = 64
    val degen = Seq(
      (9L, Array.fill(dim)(0f), 0),              // probe-side zero vector
      (900001L, Array.fill(dim)(0f), 0),         // zero vector
      (900002L, Array.fill(dim)(0.25f), 1),      // all-equal vector
      (900003L, Array.fill(8)(0.1f), 2),         // truncated dimension
      (900004L, Array.empty[Float], 3),          // empty array
      (900005L, null.asInstanceOf[Array[Float]], 4), // null embedding
      // non-finite ELEMENTS (a failed encoder emits these too): a NaN
      // or Inf survives every length check and only explodes in the
      // milli-quantization cast — must be dropped at ingest
      (900006L, Array.tabulate(dim)(i => if (i == 7) Float.NaN else 0.1f), 5),
      (900007L, Array.tabulate(dim)(i =>
        if (i == 3) Float.PositiveInfinity else 0.1f), 6))
      .toDF("vec_id", "embedding", "label")
    Tables.load(spark, TestSpark.sf, "embeddings")
      .filter($"vec_id" =!= 9L) // replaced by the degenerate probe
      .unionByName(degen)
      .coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(dir, "embeddings.parquet").getAbsolutePath)
    dir.getAbsolutePath
  }

  /** Every registered query that reads the embeddings table: the ANN
    * family, index lifecycle, retrieval eval, and the embedding legs of
    * the dedup battery. */
  private val battery: Seq[String] = Seq(
    "v1_knn_brute", "v2_ann_lsh", "v3_ann_multiprobe", "v4_ann_ivf",
    "v5_quantized_knn", "v6_kmeans", "v7_ann_ivf_trained", "v8_pq_search",
    "v9_ivf_pq", "v10_pq_rerank", "v11_ivf_append", "v12_hard_negatives",
    "v13_bitext_margin", "v13b_bitext_ann", "v14_ivf_delete",
    "v15_mrl_truncate_eval", "v16_nprobe_sweep", "v17_bitext_recall",
    "d5_embedding_neardup", "d9_semantic_prune", "d17_embed_decontaminate")

  test("the ANN/embedding battery survives degenerate vectors") {
    val byName = Queries.all.map(q => q.name -> q).toMap
    val unknown = battery.filterNot(byName.contains)
    assert(unknown.isEmpty, s"battery names not in the registry: $unknown")
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    for (name <- battery) {
      // foreach, NOT count: count() prunes every projection, so an
      // unguarded division in the select list would never execute
      try byName(name).fn(spark, fixtureDir).foreach(_ => ())
      catch {
        case e: Throwable =>
          val msg = String.valueOf(
            Option(e.getMessage).getOrElse(e.getClass.getName))
            .linesIterator.next().take(160)
          failures += s"$name: $msg"
      }
      spark.catalog.clearCache()
    }
    assert(failures.isEmpty,
      s"${failures.size} queries die on degenerate vectors:\n" +
        failures.mkString("\n"))
  }
}
