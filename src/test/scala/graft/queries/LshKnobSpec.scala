package graft.queries

/** The LSH signature-width derivation: verify-scale corpora resolve to the
  * oracle width, growth follows log₂(n), and the `graft.lsh.bits` session
  * conf is the explicit deployment override. */
class LshKnobSpec extends graft.SparkSpec {

  test("lshBitsFor: verify corpora pin 16; conf overrides; odd rounds even") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
      assert(SimilarityOps.lshBitsFor(spark, s"/root/testdata/$sf") == 16,
        s"oracle width must hold at $sf")
    // unstat-able path → conservative default, not a crash
    assert(SimilarityOps.lshBitsFor(spark, "s3://nowhere/corpus") == 16)
    spark.conf.set("graft.lsh.bits", "21")
    try {
      assert(SimilarityOps.lshBitsFor(spark, "/root/testdata/sf0.01") == 22)
    } finally spark.conf.unset("graft.lsh.bits")
    assert(SimilarityOps.lshBitsFor(spark, "/root/testdata/sf0.01") == 16)
  }

  test("lshBitsFor: parquet-footer row counts drive width for directory tables") {
    // a Spark-written DIRECTORY table with more part files than the footer
    // sample (40 > 32) — exercises listing through the Hadoop FS (skipping
    // _SUCCESS), footer reads, and byte-share extrapolation. 100k rows →
    // ceil(log2(1e5)) + 4 = 21 → evened to 22. The on-disk BYTE heuristic
    // this replaced would estimate ~2k rows from the sub-MB of parquet and
    // silently pin the 16-bit floor.
    val dir = tempDir("lshfooter").toString
    spark.range(100000L).selectExpr("id AS vec_id").repartition(40)
      .write.parquet(s"$dir/embeddings.parquet")
    assert(SimilarityOps.lshBitsFor(spark, dir) == 22)
  }
}
