package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Invariants for the round-10 retrieval additions: the BM25 ranking, the
  * RRF hybrid fusion, and the two compression recall audits (SQ8,
  * Matryoshka truncation). All run on the real sf0.001 tables — the specs
  * pin the cross-query contracts the DuckDB oracle can't see (composition
  * against component outputs, structural recall bounds). */
class HybridRetrievalSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("bm25_topk: ranked per query, positive integer scores, no self-hits") {
    val rows = SparkEntry.queries("bm25_topk")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val byRk = rs.sortBy(_.getAs[Int]("rk"))
      assert(byRk.map(_.getAs[Int]("rk")).toSeq == (1 to byRk.length))
      // scores non-increasing in rank; ties broken by doc_id ascending
      byRk.sliding(2).foreach {
        case Array(a, b) =>
          val (sa, sb) = (a.getAs[Long]("score_micro"), b.getAs[Long]("score_micro"))
          assert(sa > sb || (sa == sb &&
            a.getAs[Long]("doc_id") < b.getAs[Long]("doc_id")))
        case _ =>
      }
      rs.foreach { r =>
        assert(r.getAs[Long]("doc_id") != q, "query doc must not retrieve itself")
        assert(r.getAs[Long]("score_micro") > 0)
        assert(r.getAs[Long]("n_terms") > 0)
      }
    }
  }

  test("bm25_prf_topk: expansion recalls a doc sharing no original term") {
    import spark.implicits._
    val d = tempDir("prf").toString
    // q0's terms {alphaterm, betaterm}; doc10 is the only pass-1 hit and
    // contributes expansion terms {gammaterm, deltaterm}; doc11 shares
    // ONLY expansion terms, doc12 shares nothing.
    Seq(
      (0L, "alphaterm betaterm"),
      (1L, "aa bb"), (2L, "aa bb"),
      (10L, "alphaterm betaterm gammaterm deltaterm"),
      (11L, "gammaterm deltaterm gammaterm"),
      (12L, "zzzz yyyy"))
      .map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val pass1 = SparkEntry.queries("bm25_topk")(spark, d).collect()
      .filter(_.getAs[Long]("query_id") == 0L).map(_.getAs[Long]("doc_id"))
    assert(pass1.toSeq == Seq(10L), "pass 1 sees only the shared-term doc")
    val prf = SparkEntry.queries("bm25_prf_topk")(spark, d).collect()
      .filter(_.getAs[Long]("query_id") == 0L)
    val byDoc = prf.map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("n_terms"), r.getAs[Long]("n_exp_terms")))).toMap
    assert(byDoc.contains(11L), s"PRF must recall doc11: $byDoc")
    assert(byDoc(11L) == ((2L, 2L)), "doc11 is expansion-only")
    assert(byDoc(10L)._1 == 4L && byDoc(10L)._2 == 2L)
    assert(!byDoc.contains(12L))
  }

  test("bm25_prf_topk on sf0.001: ranked, no self-hits, exp <= total") {
    val rows = SparkEntry.queries("bm25_prf_topk")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val byRk = rs.sortBy(_.getAs[Int]("rk"))
      assert(byRk.map(_.getAs[Int]("rk")).toSeq == (1 to byRk.length))
      rs.foreach { r =>
        assert(r.getAs[Long]("doc_id") != q)
        assert(r.getAs[Long]("n_exp_terms") <= r.getAs[Long]("n_terms"))
        assert(r.getAs[Long]("score_micro") > 0)
      }
    }
  }

  test("rrf_hybrid_topk: scores recompute from the component rankings") {
    val got = SparkEntry.queries("rrf_hybrid_topk")(spark, dir).collect()
    assert(got.nonEmpty)
    val text = TextOps.bm25Ranked(spark, dir)
      .filter("query_id < 3 and rk <= 10").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) ->
        r.getAs[Int]("rk")).toMap
    val vec = SparkEntry.queries("knn_brute_cosine")(spark, dir)
      .filter("query_id < 3").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Int]("rk")).toMap
    got.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))
      val (rt, rv) = (text.getOrElse(key, 0), vec.getOrElse(key, 0))
      assert(r.getAs[Int]("rk_text") == rt, s"$key rk_text")
      assert(r.getAs[Int]("rk_vec") == rv, s"$key rk_vec")
      val expect = (if (rt > 0) 1000000L / (60 + rt) else 0L) +
        (if (rv > 0) 1000000L / (60 + rv) else 0L)
      assert(r.getAs[Long]("rrf_micro") == expect, s"$key rrf")
    }
    // a fused list must actually fuse: some candidate from each modality
    assert(got.exists(_.getAs[Int]("rk_text") > 0))
    assert(got.exists(_.getAs[Int]("rk_vec") > 0))
  }

  test("sq8_recall_audit: per-query recall in [0,1000], milli = hits*200") {
    val got = SparkEntry.queries("sq8_recall_audit")(spark, dir).collect()
    assert(got.length == 5)
    got.foreach { r =>
      val hits = r.getAs[Long]("n_hits")
      assert(hits >= 0 && hits <= 5)
      assert(r.getAs[Long]("recall_milli") == hits * 200)
    }
    // int8 on a 64-dim milli grid loses little: aggregate recall majority
    assert(got.map(_.getAs[Long]("n_hits")).sum * 200 / got.length > 500)
  }

  test("matryoshka_recall: level 64 is structurally perfect, curve monotone-ish") {
    val got = SparkEntry.queries("matryoshka_recall")(spark, dir).collect()
      .map(r => r.getAs[Int]("level") -> r.getAs[Long]("recall_milli")).toMap
    assert(got.keySet == Set(16, 32, 64))
    // full-dim slice ranks identically to the ground truth by construction
    assert(got(64) == 1000L)
    // truncation can only lose signal relative to full dim
    assert(got(16) <= got(64) && got(32) <= got(64))
    got.values.foreach(v => assert(v >= 0 && v <= 1000))
  }
}
