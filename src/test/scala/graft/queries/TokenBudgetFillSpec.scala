package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Hand-computed greedy budget fill: quality-ordered sources, one fully
  * taken, one partial (the marginal source), one excluded. */
class TokenBudgetFillSpec extends SparkSpec {

  test("token_budget_fill: fully taken / marginal partial / excluded") {
    val dir = tempDir("tbf").toString
    import spark.implicits._
    Seq(
      // srcA: 1 doc, 6 words, has a stopword -> quality 1000, 6 tokens
      (1L, "the quick brown fox jumps high", "srcA"),
      // srcB: one failing (3 words) + one passing doc -> quality 500, 9 tokens
      (2L, "one two three", "srcB"),
      (3L, "the alpha beta gamma delta epsilon", "srcB"),
      // srcC: 2 words, fails the gate -> quality 0, 2 tokens
      (4L, "xx yy", "srcC"))
      .map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // total 17 tokens -> budget 8; fill: A takes 6, B takes the last 2, C none
    val out = SparkEntry.queries("token_budget_fill")(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("quality_milli"),
        r.getAs[Int]("fill_rank"), r.getAs[Long]("allocated_tokens"),
        r.getAs[Boolean]("fully_taken")))
    assert(out.toSeq == Seq(
      ("srcA", 1L, 6L, 1000L, 1, 6L, true),
      ("srcB", 2L, 9L, 500L, 2, 2L, false),
      ("srcC", 1L, 2L, 0L, 3, 0L, false)))
  }
}
