package graft.queries

import graft.{SparkEntry, SparkSpec}

/** epoch_allocation: the closed-form water-fill — hand-computed fixture
  * where the budget lands EXACTLY on a cap boundary (the k = 0 candidate
  * is rejected by the integer cross-multiplication, k = 1 accepted), plus
  * allocation-safety invariants on real data. */
class EpochAllocationSpec extends SparkSpec {

  private def run(dir: String) =
    SparkEntry.queries("epoch_allocation")(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("quality_milli"),
        r.getAs[Long]("alloc_tokens"), r.getAs[Long]("epochs_milli"),
        r.getAs[Boolean]("capped")))

  test("hand-computed fixture: cap binds on the top source, rate boundary exact") {
    val dir = tempDir("epoch1").toString
    import spark.implicits._
    // srcA: 2 passing docs (q=1000), srcB: 1 of 2 pass (q=500),
    // srcC: 0 of 2 (q=0); each source 10 tokens -> T = 60, w_tot = 15000.
    // k=0: r = 60e6/15000 = 4000, but r*q_A = 4_000_000 is NOT < 4e6 ->
    //      rejected (A caps exactly at that rate).
    // k=1: r = 20e6/5000 = 4000; caps A (>= 4e6), not B (2e6 < 4e6) ->
    //      chosen. A: 4 epochs (40), B: 2 epochs (20), C: q=0 -> 0.
    val pass = "the a b c d"
    val fail = "b c d e f"
    val docs = Seq(
      (1L, pass, "srcA"), (2L, pass, "srcA"),
      (3L, pass, "srcB"), (4L, fail, "srcB"),
      (5L, fail, "srcC"), (6L, fail, "srcC"))
    docs.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    assert(run(dir).toSeq == Seq(
      ("srcA", 2L, 10L, 1000L, 40L, 4000L, true),
      ("srcB", 2L, 10L, 500L, 20L, 2000L, false),
      ("srcC", 2L, 10L, 0L, 0L, 0L, false)))
  }

  test("sf0.001: allocation safety — never over budget, never over 4 epochs") {
    val out = run("/root/testdata/sf0.001")
    assert(out.nonEmpty)
    val totTok = out.map(_._3).sum
    assert(out.map(_._5).sum <= 2 * totTok, "total allocation over budget")
    for ((src, _, tok, q, alloc, epochs, capped) <- out) {
      assert(alloc <= 4 * tok, s"$src over the epoch cap")
      assert(epochs <= 4000, s"$src epochs_milli $epochs")
      if (capped) assert(alloc == 4 * tok, s"$src capped but alloc $alloc")
      else if (tok > 0) assert(alloc < 4 * tok, s"$src uncapped at the cap")
      if (q == 0) assert(alloc == 0 || capped, s"$src zero-quality allocated")
    }
  }
}
