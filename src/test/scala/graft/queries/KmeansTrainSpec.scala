package graft.queries

import graft.{SparkEntry, SparkSpec}

/** kmeans_train_rounds: round-1 reconciliation with the single-step audit,
  * convergence direction on real data, and a hand-computed fixed-point
  * fixture (centroids that are their own single members never move). */
class KmeansTrainSpec extends SparkSpec {
  import spark.implicits._

  private def rounds(dir: String) =
    SparkEntry.queries("kmeans_train_rounds")(spark, dir).collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[Long]("inertia"),
        r.getAs[Long]("n_active"), Option(r.getAs[Any]("n_moved"))
          .map(_.asInstanceOf[Long])))

  test("fixed-point fixture: self-member centroids converge at round 1") {
    val dir = tempDir("kmt").toString
    Seq((1L, Array(1.0f, 0.0f), 0), (2L, Array(0.0f, 1.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = rounds(dir)
    assert(out.length == 4)
    // every vector IS a centroid: inertia 0, both lists live, no movement
    assert(out.forall { case (_, i, a, _) => i == 0L && a == 2L })
    assert(out.head._4.isEmpty) // round 1 has no previous assignment
    assert(out.tail.forall(_._4.contains(0L)))
  }

  test("sf0.001: round 1 reconciles with kmeans_step; inertia never rises") {
    val dir = "/root/testdata/sf0.001"
    val out = rounds(dir)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    val step = SparkEntry.queries("kmeans_step")(spark, dir).collect()
    assert(out.head._2 == step.map(_.getAs[Long]("inertia")).sum,
      "round-1 inertia must equal the single-step audit's total")
    assert(out.head._3 == step.length.toLong,
      "round-1 live centroids must equal the single-step audit's rows")
    assert(out.head._4.isEmpty && out.tail.forall(_._4.nonEmpty))
    // Lloyd with floor-mean centroids: monotone non-increasing in practice
    // on this corpus (pinned as a regression guard, not as a theorem)
    val inertia = out.map(_._2)
    assert(inertia.zip(inertia.tail).forall { case (a, b) => b <= a },
      s"inertia rose across rounds: ${inertia.toSeq}")
  }
}
