package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Hand-computed yield funnel: independent gates plus the all-gates
  * intersection on a fixture with an exact dup, a near-dup pair, and a
  * quality failure. */
class CorpusYieldSpec extends SparkSpec {

  test("corpus_yield_report: per-source gate counts and final yield") {
    val dir = tempDir("cyr").toString
    import spark.implicits._
    Seq(
      // srcA: 10/20 near-dups (same word set), 40 exact dup of 10,
      // 30 fails quality (4 words)
      (10L, "the alpha beta gamma delta", "srcA"),
      (20L, "delta gamma beta alpha the", "srcA"),
      (30L, "one two three four", "srcA"),
      (40L, "the alpha beta gamma delta", "srcA"),
      // srcB: one clean doc
      (50L, "the quick brown fox jumps high", "srcB"),
      // off-universe: must not appear anywhere
      (7L, "the quick brown fox jumps high", "srcB"))
      .map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("corpus_yield_report")(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_quality"),
          r.getAs[Long]("n_canonical"), r.getAs[Long]("n_cc_kept"),
          r.getAs[Long]("n_all"), r.getAs[Long]("yield_milli")))).toMap
    // srcA: 4 docs; quality 10,20,40; canonical 10,20,30 (40 loses to 10);
    // cc: {10,20,40} -> 10 kept, {30} -> 30 kept; all gates: only 10
    assert(out("srcA") == ((4L, 3L, 3L, 2L, 1L, 250L)))
    assert(out("srcB") == ((1L, 1L, 1L, 1L, 1L, 1000L)))
    assert(out.size == 2)
  }
}
