package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Hand-computed Lloyd step: colinear one-hot members make assignment,
  * inertia, and centroid shift exactly computable in integer units. */
class KmeansStepSpec extends SparkSpec {

  test("kmeans_step: exact inertia and centroid shift on a planted fixture") {
    val dir = tempDir("kmeans").toString
    import spark.implicits._
    def hot(d: Int, scale: Float): Array[Float] =
      Array.tabulate(8)(i => if (i == d) scale else 0.0f)
    // quantizer: ids 1..4, 6..9 one-hot (unit); member 11 = 2x dim0
    // (colinear with cent 1: cos exactly 1.0, quantized to (2000, 0...))
    val rows = Seq(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 6L -> 4, 7L -> 5,
      8L -> 6, 9L -> 7).map { case (id, d) => (id, hot(d, 1.0f), 0) } :+
      ((11L, hot(0, 2.0f), 0))
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("kmeans_step")(spark, dir).collect()
      .map(r => r.getAs[Long]("cent_id") ->
        ((r.getAs[Long]("n_members"), r.getAs[Long]("inertia"),
          r.getAs[Long]("shift_sq")))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 6L, 7L, 8L, 9L))
    // cent 1: members {(1000,0..), (2000,0..)} -> inertia (2000-1000)^2 =
    // 1_000_000; new centroid dim0 = floor(3000/2) = 1500 -> shift 500^2
    assert(out(1L) == ((2L, 1000000L, 250000L)))
    Seq(2L, 3L, 4L, 6L, 7L, 8L, 9L).foreach { c =>
      assert(out(c) == ((1L, 0L, 0L)), s"cent $c")
    }
  }
}
