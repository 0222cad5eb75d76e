package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Planted label-noise geometry: a probe whose entire neighborhood carries
  * the other label must come back inconsistent, a probe inside its own
  * label cluster consistent; NULL-label and zero vectors never vote. */
class KnnLabelConsistencySpec extends SparkSpec {

  test("knn_label_consistency: planted mislabeled probe flagged; clean probe passes") {
    val dir = tempDir("knnlabel").toString
    import spark.implicits._
    def v(x: Float, y: Float, z: Float, w: Float) = Seq(x, y, z, w)
    val rows: Seq[(Long, Seq[Float], Option[Int])] = Seq(
      // probe 0 (label 1) sits inside a label-2 cluster → inconsistent
      (0L, v(1f, 0f, 0f, 0f), Some(1)),
      (1L, v(1f, 0.001f, 0f, 0f), Some(2)),
      (2L, v(1f, 0.002f, 0f, 0f), Some(2)),
      (3L, v(1f, 0.003f, 0f, 0f), Some(2)),
      (4L, v(1f, 0.004f, 0f, 0f), Some(2)),
      (5L, v(1f, 0.005f, 0f, 0f), Some(2)),
      // label-1 mass on another axis (must NOT reach probe 0's top-5)
      (6L, v(0f, 1f, 0f, 0f), Some(1)),
      (7L, v(0f, 1f, 0.001f, 0f), Some(1)),
      // a NULL-label vector nearly identical to probe 0: excluded, never votes
      (10L, v(1f, 0f, 0f, 0.001f), None),
      // a zero vector: no cosine, excluded by the shared-base norm guard
      (11L, v(0f, 0f, 0f, 0f), Some(2)),
      // probe 20 (label 3) inside its own label-3 cluster → consistent
      (20L, v(0f, 0f, 1f, 0f), Some(3)),
      (21L, v(0f, 0.001f, 1f, 0f), Some(3)),
      (22L, v(0f, 0.002f, 1f, 0f), Some(3)),
      (23L, v(0f, 0.003f, 1f, 0f), Some(3)),
      (24L, v(0f, 0.004f, 1f, 0f), Some(3)),
      (25L, v(0f, 0.005f, 1f, 0f), Some(3)))
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("knn_label_consistency")(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("own_label"), r.getAs[Int]("top_label"),
          r.getAs[Long]("n_top"), r.getAs[Long]("n_agree"),
          r.getAs[Boolean]("consistent")))).toMap
    assert(out.keySet == Set(0L, 20L)) // only % 20 probes are audited
    assert(out(0L) == ((1, 2, 5L, 0L, false)))
    assert(out(20L) == ((3, 3, 5L, 5L, true)))

    // probe-modulus knob reshapes the audited sample (deployment scale
    // control; diverges from the pinned oracle by design)
    spark.conf.set("graft.knn.probeMod", "21")
    try {
      val probed = SparkEntry.queries("knn_label_consistency")(spark, dir)
        .collect().map(_.getAs[Long]("vec_id")).toSet
      assert(probed == Set(0L, 21L))
    } finally spark.conf.unset("graft.knn.probeMod")
  }
}
