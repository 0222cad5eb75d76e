package graft.queries

import graft.{SparkEntry, SparkSpec}

/** ANSI-mode poison battery for the entire documents-table query surface:
  * a real corpus contains empty texts, whitespace-only texts, NULL texts,
  * unicode, and degenerate repetition — every operator must return (any
  * rows) rather than throw. Spark 4's ANSI default turns latent cast /
  * division / sequence edge cases into runtime errors, so well-formed-only
  * fixtures never catch them (the RobustnessSpec lesson, applied to the
  * query surface). */
class DocPoisonSpec extends SparkSpec {

  private val docQueries = Seq(
    "dedup_exact", "ngram_jaccard_pairs", "dedup_minhash_clusters",
    "lsh_band_stats", "connected_components", "dedup_simhash",
    "simhash_neardup_pairs", "dedup_incremental", "text_repetition",
    "corpus_clean", "text_quality_perlang", "text_boilerplate",
    "doc_winnow_fingerprints", "text_tokens", "text_quality", "text_langid",
    "tfidf_topk", "doc_fingerprint", "decontaminate_ngrams",
    "pack_token_shards", "chunk_documents", "corpus_balance_langs",
    "mix_upsample", "corpus_mix_report", "line_dedup", "substring_dup_spans",
    "vocab_topk",
    "containment_pairs", "containment_prefix_pairs", "jaccard_prefix_pairs",
    "lsh_recall_audit", "dedup_canonical", "corpus_prune_verdicts",
    "bpe_pair_stats", "oov_rate",
    "stratified_sample", "group_sample_k")

  test("every documents-table query survives a poison corpus under ANSI") {
    val dir = tempDir("docpoison").toString
    import spark.implicits._
    Seq[(java.lang.Long, String, String, String, java.lang.Long)](
      (0L, "", "en", "src0", 0L),                  // empty text
      (10L, "   ", "en", "src1", 3L),              // whitespace only
      (20L, null, "en", "src2", null),             // NULL text + NULL count
      (30L, "one", "xx", "weird source", 3L),      // unknown lang, dirty source
      (40L, "héllo wörld é中文 🚀", "zh", "src3", 20L), // unicode
      (50L, Seq.fill(2000)("dup").mkString(" "), "en", "src4", 7999L), // degenerate repeat
      (60L, "alpha beta gamma delta epsilon", "en", "src5", 30L),
      (70L, "alpha beta gamma delta epsilon", "de", "src6", 30L), // near/exact dup
      (97L * 0, "bench doc words here", "en", "src7", 20L))       // bench slice member
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      // duplicate doc_id 0 rows collapse: keep the LAST write wins? No —
      // both rows land; queries must tolerate duplicate ids too
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val failures = docQueries.flatMap { name =>
        try { SparkEntry.queries(name)(spark, dir).collect(); None }
        catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(200)}") }
      }
      assert(failures.isEmpty, "poison corpus broke:\n" + failures.mkString("\n"))
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }
}
