package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Hand-computed IVF drift: one-hot vectors make every assignment argmax
  * exact (cos 1 to the matching centroid, 0 elsewhere). */
class IvfListDriftSpec extends SparkSpec {

  test("ivf_list_drift: base/increment counts, growth and share milli") {
    val dir = tempDir("ivfdrift").toString
    import spark.implicits._
    def oneHot(d: Int): Array[Float] =
      Array.tabulate(8)(i => if (i == d) 1.0f else 0.0f)
    // quantizer = ids {1,2,3,4,6,7,8,9} (vec_id < 10, % 5 != 0), one-hot
    // in 8 distinct directions; base members 11 -> cent 1, 12 -> cent 2;
    // increments (vec_id % 5 == 0): 5, 15 -> cent 1, 10 -> cent 2
    val dims = Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3,
      6L -> 4, 7L -> 5, 8L -> 6, 9L -> 7,
      11L -> 0, 12L -> 1, 5L -> 0, 15L -> 0, 10L -> 1)
    dims.toSeq.sortBy(_._1)
      .map { case (id, d) => (id, oneHot(d), 0) }
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("ivf_list_drift")(spark, dir).collect()
      .map(r => r.getAs[Long]("cent_id") ->
        ((r.getAs[Long]("n_base"), r.getAs[Long]("n_inc"),
          Option(r.getAs[java.lang.Long]("growth_milli")).map(Long.unbox),
          r.getAs[Long]("share_before_milli"),
          r.getAs[Long]("share_after_milli")))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 6L, 7L, 8L, 9L))
    // t_base = 10, t_all = 13
    assert(out(1L) == ((2L, 2L, Some(1000L), 200L, 307L)))
    assert(out(2L) == ((2L, 1L, Some(500L), 200L, 230L)))
    Seq(3L, 4L, 6L, 7L, 8L, 9L).foreach { c =>
      assert(out(c) == ((1L, 0L, Some(0L), 100L, 76L)), s"cent $c")
    }
  }
}
