package graft.queries

import graft.{SparkEntry, SparkSpec}

/** PqIndex: a saved-then-loaded index serves bit-identically to the
  * in-session ADC pipeline, and the artifacts have the deployment shape
  * (tiny codebook, 4 codes per vector). */
class PqIndexSpec extends SparkSpec {

  test("save + serve ≡ in-session pq_adc_topk; artifact shapes correct") {
    val dir = "/root/testdata/sf0.001"
    val out = tempDir("pqindex").toString
    PqIndex.save(spark, dir, out)

    val cb = spark.read.parquet(s"$out/codebook.parquet")
    assert(cb.count() == PqOps.pqM * PqOps.pqK)
    val codes = spark.read.parquet(s"$out/codes.parquet")
    val nVecs = codes.select("vec_id").distinct().count()
    assert(codes.count() == nVecs * PqOps.pqM, "4 codes per encoded vector")

    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter("vec_id < 5")
    val served = PqIndex.serveAdcTopk(spark, out, queries)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_dist"))).toSeq
    val inSession = SparkEntry.queries("pq_adc_topk")(spark, dir)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_dist"))).toSeq
    assert(served.nonEmpty)
    assert(served == inSession)
  }

  test("saveIvfAdc + cold serve ≡ in-session ann_ivfadc_topk, bit-for-bit") {
    val dir = "/root/testdata/sf0.001"
    val out = tempDir("ivfadcindex").toString
    PqIndex.saveIvfAdc(spark, dir, out)

    // the four deployment artifacts exist with index shapes
    val cents = spark.read.parquet(s"$out/centroids.parquet")
    assert(cents.count() == SimilarityOps.ivfCentroids(spark))
    val assigned = spark.read.parquet(s"$out/assigned.parquet")
    val nVecs = assigned.count()
    assert(assigned.select("vec_id").distinct().count() == nVecs,
      "one inverted-list assignment per vector")
    assert(spark.read.parquet(s"$out/codes.parquet").count() ==
      nVecs * PqOps.pqM)

    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter("vec_id < 5")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_dist"))).toSeq
    val served = canon(PqIndex.serveIvfAdcTopk(spark, out, queries))
    val inSession = canon(SparkEntry.queries("ann_ivfadc_topk")(spark, dir))
    assert(served.nonEmpty)
    assert(served == inSession)
  }

  test("saveIvfAdcResidual + cold serve ≡ in-session ann_ivfadc_residual_topk") {
    val dir = "/root/testdata/sf0.001"
    val out = tempDir("ivfadcresidx").toString
    PqIndex.saveIvfAdcResidual(spark, dir, out)

    assert(spark.read.parquet(s"$out/rcodebook.parquet").count() ==
      PqOps.pqM * PqOps.pqK)
    val rcodes = spark.read.parquet(s"$out/rcodes.parquet")
    assert(rcodes.count() ==
      spark.read.parquet(s"$out/assigned.parquet").count() * PqOps.pqM,
      "4 residual codes per assigned vector")

    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter("vec_id < 5")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_dist"))).toSeq
    val served = canon(PqIndex.serveIvfAdcResidualTopk(spark, out, queries))
    val inSession = canon(
      SparkEntry.queries("ann_ivfadc_residual_topk")(spark, dir))
    assert(served.nonEmpty)
    assert(served == inSession)
  }
}
