package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Hand-computed naive-Bayes quality scores on a three-word vocabulary:
  * every Laplace count, binary-length log₂ and floor division is checked
  * against pencil-and-paper values — including the negative-sum floor
  * (toward −∞, NOT truncation) the scorer must get right. */
class NbQualityScoreSpec extends SparkSpec {

  test("nb_quality_score: seed log-odds, doc scores, negative floor") {
    val dir = tempDir("nbq").toString
    import spark.implicits._
    Seq(
      (0L, "a a a a b", "en", "s0", 9L),  // positive seed
      (1L, "b c", "zh", "s0", 3L),        // negative seed
      (2L, "a c", "fr", "s1", 3L),        // scored only (no seed slice)
      (3L, "a b b", "fr", "s1", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // seeds: cpos(a)=4, cpos(b)=1; cneg(b)=1, cneg(c)=1; Npos=5, Nneg=2
    // blen(x) = length of binary rendering:
    //   llr(a) = 1000·((blen(5)−blen(6)) − (blen(1)−blen(3))) = 1000·((3−3)−(1−2)) = 1000
    //   llr(b) = 1000·((blen(2)−blen(6)) − (blen(2)−blen(3))) = 1000·((2−3)−(2−2)) = −1000
    //   llr(c) = 1000·((blen(1)−blen(6)) − (blen(2)−blen(3))) = 1000·((1−3)−(2−2)) = −2000
    val out = SparkEntry.queries("nb_quality_score")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("sum_llr_milli"),
          r.getAs[Long]("avg_llr_milli"), r.getAs[Boolean]("pred_target"))))
      .toMap
    assert(out(0L) == ((5L, 3000L, 600L, true)))    // 4·1000 − 1000
    assert(out(1L) == ((2L, -3000L, -1500L, false)))
    assert(out(2L) == ((2L, -1000L, -500L, false)))
    // the floor case: −1000/3 = −333.33 → −334 (truncation would say −333)
    assert(out(3L) == ((3L, -1000L, -334L, false)))
  }
}
