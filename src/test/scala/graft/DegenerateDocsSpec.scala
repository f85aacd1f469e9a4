package graft

import org.scalatest.funsuite.AnyFunSuite

/** SURVEY lesson 16: under Spark 4 ANSI mode (and DuckDB alike) an
  * unguarded integer division throws the moment a zero-token document or
  * empty group appears — and at 100 TB degenerate rows are a certainty,
  * where one thrown task kills the job. This spec runs the full
  * text/dedup battery (plus the text-query family) over a fixture whose
  * documents table carries an empty doc, a whitespace-only doc, a
  * single-token doc, and a null-text doc, asserting every query still
  * evaluates. The sf fixtures contain no such rows, so the oracle gate
  * cannot catch this class — this spec is its standing guard. */
class DegenerateDocsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val fixtureDir: String = {
    import spark.implicits._
    val dir = Fixtures.tempDir("graft_degen")
    for (t <- Tables.names if t != "documents")
      java.nio.file.Files.createSymbolicLink(
        new java.io.File(dir, s"$t.parquet").toPath,
        new java.io.File(s"${TestSpark.sf}/$t.parquet").toPath)
    val degen = Seq(
      (900001L, "", "en", "degenerate", 0L),
      (900002L, " \t  \n ", "en", "degenerate", 6L),
      (900003L, "solo", "en", "degenerate", 4L),
      (900004L, null.asInstanceOf[String], "en", "degenerate", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Tables.load(spark, TestSpark.sf, "documents").unionByName(degen)
      .coalesce(1).write.mode("overwrite")
      .parquet(new java.io.File(dir, "documents.parquet").getAbsolutePath)
    dir.getAbsolutePath
  }

  /** Every registered query of the text battery (TextQueries), the dedup
    * battery (DedupQueries), and the text-query family (q5/q10/q12/q13)
    * — the documents-table ratio surface. */
  private val battery: Seq[String] = Seq(
    "t_token_count", "t_quality_score", "t_lang_id", "t_fingerprint",
    "t_rep_ratio", "t_gopher_rules", "t_ccnet_buckets", "t_classifier_score",
    "t_domain_filter", "t_pii_scrub", "t_pack_chunks", "t_dsir_select",
    "t_unimax", "t_mix_temperature", "t_stratified_sample",
    "t_weighted_sample", "t_threshold_sweep", "t_split_leakage",
    "t_ngram_lm", "t_bigram_novelty", "t_source_overlap", "t_length_dist",
    "t_bpe_train", "t_bpe_apply", "t_bpe_tokens", "t_cms_counts",
    "t_hll_counts", "t_profile", "t_profile_exact", "t_dataset_card",
    "t_rollup_card", "t_kanon_audit", "t_ldiversity_audit",
    "t_incremental_refresh", "t_shard_balance", "t_equidepth_hist",
    "t_corpus_pipeline", "t_corpus_card",
    "d1_exact_dedup", "d2_minhash_lsh", "d3_simhash", "d4_ngram_jaccard",
    "d5_embedding_neardup", "d6_dedup_clusters", "d7_decontaminate",
    "d8_incremental_dedup", "d9_semantic_prune", "d10_span_dedup",
    "d11_containment", "d12_fuzzy_decontaminate", "d13_winnow_dedup",
    "d14_cdc_dedup", "d15_soft_dedup", "d16_bloom_prefilter",
    "d17_embed_decontaminate", "d18_substring_dedup", "d19_lsh_recall_eval",
    "d20_quality_canonical",
    "q5_word_query", "q10_bm25", "q12_near_pos", "q13_phrase_query",
    // the LuxQL family: documents enter its record substrate as full-text
    // word sources, so the compiled leaves must survive degenerate docs —
    // including the newest positional/stemming machinery: the NULL-text
    // doc becomes a NULL-name entity (NULL folded field, empty token
    // array) against the phrase regex (q12), the per-position Porter
    // stem chain (q13), and the suffix-matrix differential (q11)
    "lux_q1_hop_range", "lux_q2_or_word", "lux_q3_andnot", "lux_q4_near",
    "lux_q5_facet", "lux_q6_json", "lux_q7_id", "lux_q8_wildcard",
    "lux_q9_boost", "lux_q10_stemmed", "lux_q11_porter_diff",
    "lux_q12_phrase", "lux_q13_stem_phrase", "lux_q14_fold_diff",
    "q9_similar_docs", "q9b_similar_full", "q11_hybrid")

  test("the text/dedup battery survives degenerate documents") {
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
      s"${failures.size} queries die on degenerate docs:\n" +
        failures.mkString("\n"))
  }
}
