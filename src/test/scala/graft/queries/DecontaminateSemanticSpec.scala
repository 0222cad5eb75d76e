package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Planted geometry for the semantic decontamination gate: orthogonal unit
  * bench vectors make every max-cosine argmax and every τ-verdict exact. */
class DecontaminateSemanticSpec extends SparkSpec {

  test("decontaminate_semantic: bench exclusion, argmax tiebreak, τ verdict") {
    val dir = tempDir("semdecon").toString
    import spark.implicits._
    def v(a: Float, b: Float, c: Float, d: Float) = Array(a, b, c, d)
    Seq(
      // bench set: vec_id % 5 == 0 AND < 25
      (0L, v(1, 0, 0, 0), 0), (5L, v(0, 1, 0, 0), 0),
      (10L, v(0, 0, 1, 0), 0), (15L, v(0, 0, 0, 1), 0),
      (20L, v(1, 1, 1, 1), 0),
      // train side
      (1L, v(1, 0, 0, 0), 0),     // identical to bench 0 → cos 1
      (2L, v(0, 3, 4, 0), 0),     // cos 0.6 to bench 5... no: 3/5 vs bench 10: 4/5 → bench 10 wins
      (3L, v(-1, -1, -1, -1), 0), // cos −0.5 to benches 0/5/10/15 (tie → bench 0), −1 to 20
      (25L, v(0, 0, 1, 0), 0))    // % 5 == 0 but ≥ 25: TRAIN side by the rule
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("decontaminate_semantic")(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("bench_id"), r.getAs[Double]("cos"),
          r.getAs[Boolean]("contaminated")))).toMap
    // bench ids are excluded from the scored side
    assert(out.keySet == Set(1L, 2L, 3L, 25L))
    assert(out(1L) == ((0L, 1.0, true)))
    // vec 2: cos 0.8 to bench 10 (4/5) beats 0.6 to bench 5 (3/5)
    assert(out(2L)._1 == 10L && math.abs(out(2L)._2 - 0.8) < 1e-12 && out(2L)._3)
    // vec 3: max cos −0.5, tied across benches 0/5/10/15 → lowest bench id
    assert(out(3L)._1 == 0L && math.abs(out(3L)._2 + 0.5) < 1e-12 && !out(3L)._3)
    // vec 25 is train despite % 5 == 0 (the < 25 bound), identical to bench 10
    assert(out(25L) == ((10L, 1.0, true)))
  }
}
