package graft.queries

import graft.SparkSpec

/** The decode-stub plumbing: typed mapPartitions over (id, payload) with a
  * real schema and deterministic features. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("decodeStub: schema, determinism, empty payload") {
    val items = Seq(
      (1L, "fake-image-bytes".getBytes("UTF-8")),
      (2L, Array.empty[Byte]),
      (3L, Array.tabulate(1000)(_.toByte))).toDS()
    val out = MultimodalOps.decodeStub(items).collect().sortBy(_.id)
    assert(out.map(_.id).toSeq == Seq(1L, 2L, 3L))
    assert(out.forall(f => f.width >= 64 && f.height >= 64 && f.channels == 3))
    assert(out(1).meanByte == 0.0 && out(1).nBytes == 0)
    assert(out(2).nBytes == 1000)
    // deterministic across runs
    val again = MultimodalOps.decodeStub(items).collect().sortBy(_.id)
    assert(out.toSeq == again.toSeq)
  }

  test("media_exact_dedup: payload-hash families, canonical lowest id, bytes saved") {
    val dir = tempDir("mdedup").toString
    // ids 5 and 2 share a payload (canonical 2); 7 unique; 9 NULL (excluded)
    Seq((5L, "same bytes"), (2L, "same bytes"), (7L, "unique"),
        (9L, null.asInstanceOf[String]))
      .map { case (id, t) =>
        (id, t, "en", "s0", Option(t).map(_.length.toLong).getOrElse(0L)) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("media_exact_dedup")(spark, dir)
      .collect().map(r => (r.getAs[Long]("n_copies"),
        r.getAs[Long]("canonical_id"), r.getAs[Long]("n_bytes"),
        r.getAs[Long]("bytes_saved")))
    // every non-NULL payload gets a family row (the dedup_exact grain);
    // only the shared-payload family reclaims bytes
    assert(out.toSet == Set((2L, 2L, 10L, 10L), (1L, 7L, 6L, 0L)))

    // real corpus: payload families ⟺ identical-text families (payload is
    // the UTF-8 encoding, so the counts must reconcile exactly — sf0.001
    // happens to carry none, which both sides must agree on)
    val sf = "/root/testdata/sf0.001"
    val real = graft.SparkEntry.queries("media_exact_dedup")(spark, sf)
      .collect()
    val textFamilies = spark.read.parquet(s"$sf/documents.parquet")
      .filter("text IS NOT NULL").select("text").distinct().count()
    assert(real.length.toLong == textFamilies)
    assert(real.nonEmpty)
    assert(real.forall(r => r.getAs[Long]("bytes_saved") ==
      (r.getAs[Long]("n_copies") - 1) * r.getAs[Long]("n_bytes")))
  }
}
