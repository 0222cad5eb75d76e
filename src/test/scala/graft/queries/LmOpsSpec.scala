package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Kneser–Ney perplexity gate: a hand-computed fixture covering the full
  * formula (discounted term, continuation backoff, OOV floor, clamp) plus
  * the empty-training-slice degradation and the CCNet tercile buckets. */
class LmOpsSpec extends SparkSpec {

  private def writeDocs(dir: String,
      docs: Seq[(Long, String, String, String)]): Unit = {
    import spark.implicits._
    docs.map { case (id, t, lang, src) =>
      (id, t, lang, src, Option(t).map(_.length.toLong).getOrElse(0L))
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
  }

  private def ppl(dir: String) =
    SparkEntry.queries("kn_bigram_ppl")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("n_oov_bigrams"), r.getAs[Long]("kn_bits_milli")))
      .toSeq

  test("hand-computed KN fixture: discount, backoff, OOV floor") {
    val dir = tempDir("knppl1").toString
    // Train slice (lang=en): doc1 "a b a b c", doc2 "a b".
    //   c(u,v): (a,b)=3 (b,a)=1 (b,c)=1; c(a)=3 n1u(a)=1; c(b)=2 n1u(b)=2;
    //   n1v(a)=n1v(b)=n1v(c)=1; N1+(..)=3; pcont = 1000000//3 = 333333.
    // p(b|a): term1 = 1000*max(3000-750,0)//3 = 750000;
    //   lam = 750000*1//3 = 250000; term2 = 250000*333333//1e6 = 83333;
    //   p = 833333 -> len(bin)=20 = len(bin 1e6) -> bits 0.
    // p(a|b) = p(c|b): term1 = 1000*250//2 = 125000; lam = 750000;
    //   term2 = 249999; p = 374999 -> 19 digits -> bits 1000.
    // doc10 (fr, "a b x"): (a,b) bits 0; (b,x): x unseen -> pcont 0,
    //   term1 0 -> p floors to 1 -> bits 19000, OOV.
    // doc11 "q" (one word) and doc12 NULL text score no bigrams.
    writeDocs(dir, Seq(
      (1L, "a b a b c", "en", "s0"),
      (2L, "a b", "en", "s0"),
      (10L, "a b x", "fr", "s0"),
      (11L, "q", "fr", "s0"),
      (12L, null, "fr", "s0")))
    assert(ppl(dir) == Seq(
      (1L, 4L, 0L, 500L),   // (0+0+1000+1000)//4
      (2L, 1L, 0L, 0L),
      (10L, 2L, 1L, 9500L))) // (0+19000)//2
  }

  test("empty training slice degrades to all-OOV floor scoring") {
    val dir = tempDir("knppl2").toString
    writeDocs(dir, Seq((1L, "a b c", "fr", "s0")))
    // no lang=en docs: n1all=0, every p floors to 1 -> 19000 bits, OOV
    assert(ppl(dir) == Seq((1L, 2L, 2L, 19000L)))
  }

  test("ccnet buckets: per-source terciles ordered by bits then doc_id") {
    val dir = tempDir("knppl3").toString
    writeDocs(dir, Seq(
      (1L, "a b a b c", "en", "s0"),
      (2L, "a b", "en", "s0"),
      (10L, "a b x", "fr", "s0")))
    // bits: doc2=0 doc1=500 doc10=9500 -> head/middle/tail, one doc each
    val b = SparkEntry.queries("ccnet_ppl_buckets")(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("bucket"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("mean_bits_milli"))).toSeq
    assert(b == Seq(
      ("s0", "head", 1L, 1L, 0L),
      ("s0", "middle", 1L, 4L, 500L),
      ("s0", "tail", 1L, 2L, 9500L)))
  }

  test("ppl_length_ols: hand-computed moments; degenerate source is NULL") {
    val dir = tempDir("knppl4").toString
    writeDocs(dir, Seq(
      (1L, "a b a b c", "en", "s0"),
      (2L, "a b", "en", "s0"),
      (10L, "a b x", "fr", "s0"),
      (20L, "a b", "fr", "s1"))) // single doc: det = 0 -> NULLs
    // s0 points (x=n_bigrams, y=bits): (4,500) (1,0) (2,9500).
    // n=3 Sx=7 Sy=10000 Sxx=21 Sxy=21000 Syy=90500000.
    // det = 3*21-49 = 14; num = 63000-70000 = -7000 -> slope -500.
    // intercept = (10000 + 500*7)/3 = 4500. detY = 171500000;
    // r2 = 7000^2 / (14 * 171500000).
    val r = SparkEntry.queries("ppl_length_ols")(spark, dir).collect()
      .map(x => (x.getAs[String]("source"), x.getAs[Long]("n_docs"),
        Option(x.getAs[java.lang.Double]("slope")),
        Option(x.getAs[java.lang.Double]("intercept")),
        Option(x.getAs[java.lang.Double]("r2")))).toSeq
    assert(r == Seq(
      ("s0", 3L, Some(-500.0), Some(4500.0),
        Some(49000000.0 / 2401000000.0)),
      ("s1", 1L, None, None, None)))
  }

  test("ppl_domain_gap: self-model explains off-reference text") {
    val dir = tempDir("knppl5").toString
    writeDocs(dir, Seq(
      (1L, "a b", "en", "s0"),
      (2L, "c d c d", "fr", "s0")))
    // Ref model (en): cb={(a,b):1}, n1all=1; Self model (all): adds
    // (c,d):2 (d,c):1, n1all=3, pcont=333333.
    // doc1 ref: p(b|a) = 250000+750000 = 1000000 -> bits 0.
    // doc1 self: 250000 + (750000*333333)//1e6 = 499999 -> bits 1000.
    // doc2 ref: c,d unseen -> both pairs floor at 1 -> 19000, all OOV.
    // doc2 self: (c,d) p = 625000+124999 = 749999 -> 0 bits;
    //   (d,c) p = 250000+249999 = 499999 -> 1000 bits;
    //   bits = (2*0 + 1000)//3 = 333.
    val g = SparkEntry.queries("ppl_domain_gap")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("bits_ref_milli"), r.getAs[Long]("bits_self_milli"),
        r.getAs[Long]("gap_milli"))).toSeq
    assert(g == Seq(
      (1L, 1L, 0L, 1000L, -1000L),
      (2L, 3L, 19000L, 333L, 18667L)))
  }

  test("kn_model_drift: additive merge equals retrain; probe rescore") {
    val dir = tempDir("knppl6").toString
    // md5 hash deciles: id4 -> 7 (base slice), id19 -> 9 (increment),
    // id2 -> 5 (probe, fr so never trained on). Base model {(a,b):1}
    // (n1all=1); merged = full-retrain model {(a,b):1,(b,c):1}
    // (n1all=2, pcont 500000) - the hand numbers below USE the full
    // model, so the fixture itself pins merge = retrain.
    // Probe "a b c" under base: (a,b) p=1000000 -> 0 bits; (b,c) unseen
    //   context -> floor 1 -> 19000 bits, OOV. mean = 9500.
    // Under merged: both pairs p = 250000 + (750000*500000)//1e6
    //   = 625000 -> 20 bin digits -> 0 bits, no OOV.
    writeDocs(dir, Seq(
      (4L, "a b", "en", "s0"),
      (19L, "b c", "en", "s0"),
      (2L, "a b c", "fr", "s0")))
    val r = SparkEntry.queries("kn_model_drift")(spark, dir).collect()
      .map(x => (x.getAs[String]("source"), x.getAs[Long]("n_docs"),
        x.getAs[Long]("n_bigrams"), x.getAs[Long]("mean_bits_base_milli"),
        x.getAs[Long]("mean_bits_upd_milli"), x.getAs[Long]("n_oov_base"),
        x.getAs[Long]("n_oov_upd"), x.getAs[Long]("drift_milli"))).toSeq
    assert(r == Seq(("s0", 1L, 2L, 9500L, 0L, 1L, 0L, -9500L)))

    // real data: a grown model can only shrink OOV mass
    val real = SparkEntry.queries("kn_model_drift")(spark,
      "/root/testdata/sf0.001").collect()
    assert(real.nonEmpty)
    real.foreach { x =>
      assert(x.getAs[Long]("n_oov_upd") <= x.getAs[Long]("n_oov_base"))
    }
  }

  /** Independent recount of the DoReMi step FROM ppl_domain_gap's own
    * (already pinned) per-doc output: token-weighted clipped excess,
    * octave-linear exp2, integer-micro normalization + uniform mix. */
  private def doremiRecount(dir: String): Seq[(String, Long, Long, Long, Long, Long)] = {
    val src = spark.read.parquet(s"$dir/documents.parquet").collect()
      .filter(!_.isNullAt(0))
      .map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[String]("source")).getOrElse("")).toMap
    val gap = SparkEntry.queries("ppl_domain_gap")(spark, dir).collect()
      .map(r => (src(r.getAs[Long]("doc_id")), r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("gap_milli")))
    val dom = gap.groupBy(_._1).toSeq.map { case (s, rows) =>
      val nb = rows.map(_._2).sum
      val m = math.max(0L, rows.map(r => r._2 * r._3).sum) / nb
      (s, rows.size.toLong, nb, m, (1000L + m % 1000L) << (m / 1000L))
    }
    val tot = dom.map(_._5).sum
    val k = dom.size.toLong
    dom.sortBy(_._1).map { case (s, nd, nb, m, e) =>
      (s, nd, nb, m, 1000000L * e / tot, 800000L * e / tot + 200000L / k)
    }
  }

  private def doremiRows(dir: String): Seq[(String, Long, Long, Long, Long, Long)] =
    SparkEntry.queries("doremi_weight_update")(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_bigrams"), r.getAs[Long]("excess_milli"),
        r.getAs[Long]("w_star_micro"), r.getAs[Long]("w_micro"))).toSeq

  test("doremi_weight_update ≡ recount from the pinned domain-gap rows") {
    val dir = "/root/testdata/sf0.001"
    val got = doremiRows(dir)
    assert(got == doremiRecount(dir))
    assert(got.nonEmpty)
    // weights are a (truncated) distribution and order by excess
    assert(math.abs(got.map(_._6).sum - 1000000L) <= got.size * 2L)
    val byExcess = got.sortBy(_._4)
    assert(byExcess.map(_._6) == byExcess.map(_._6).sorted)
  }

  test("doremi fixture: off-reference domain takes nearly all the weight") {
    val dir = tempDir("doremi").toString
    // the ppl_domain_gap fixture split across two sources: s0's doc has
    // NEGATIVE excess (clips to 0, e = 1000); s1's doc carries 18667
    // milli-bits of excess (e = 1667 << 18) and must dominate
    writeDocs(dir, Seq(
      (1L, "a b", "en", "s0"),
      (2L, "c d c d", "fr", "s1")))
    val got = doremiRows(dir)
    assert(got == doremiRecount(dir))
    val bySrc = got.map(r => r._1 -> r).toMap
    assert(bySrc("s0")._4 == 0L && bySrc("s0")._5 <= 3L)
    assert(bySrc("s1")._4 == 18667L && bySrc("s1")._5 >= 999990L)
    // smoothing floors the zero-excess domain at ~c/k = 100000 micro
    assert(bySrc("s0")._6 >= 100000L && bySrc("s0")._6 <= 100005L)
  }

  private def rhoRows(dir: String): Seq[(String, Long, Long, Long, Long, Long)] =
    SparkEntry.queries("rho_excess_select")(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_selected"), r.getAs[Long]("gap_cutoff_milli"),
        r.getAs[Long]("sel_bigrams"), r.getAs[Long]("sel_excess_sum"))).toSeq

  /** Independent recount of the RHO selection from ppl_domain_gap's own
    * (already pinned) per-doc rows: per source, sort by (gap desc,
    * doc_id), take ceil(n/4), report cutoff and selected mass. */
  private def rhoRecount(dir: String): Seq[(String, Long, Long, Long, Long, Long)] = {
    val src = spark.read.parquet(s"$dir/documents.parquet").collect()
      .filter(!_.isNullAt(0))
      .map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[String]("source")).getOrElse("")).toMap
    val gap = SparkEntry.queries("ppl_domain_gap")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("gap_milli")))
    gap.groupBy(r => src(r._1)).toSeq.map { case (s, rows) =>
      val sel = rows.sortBy(r => (-r._3, r._1)).take((rows.size + 3) / 4)
      (s, rows.size.toLong, sel.size.toLong, sel.map(_._3).min,
        sel.map(_._2).sum, sel.map(r => r._2 * r._3).sum)
    }.sortBy(_._1)
  }

  test("rho_excess_select ≡ recount from the pinned domain-gap rows") {
    val dir = "/root/testdata/sf0.001"
    val got = rhoRows(dir)
    assert(got == rhoRecount(dir))
    assert(got.nonEmpty)
    // the quota is exactly ceil(n/4) and always fills
    got.foreach(r => assert(r._3 == (r._2 + 3) / 4, s"source ${r._1}"))
  }

  test("rho fixture: quota of one admits only the high-excess doc") {
    val dir = tempDir("rho").toString
    // the ppl_domain_gap fixture in one source: doc 1 gap = -1000 (1
    // bigram), doc 2 gap = 18667 (3 bigrams); quota ceil(2/4) = 1 picks
    // doc 2, so cutoff = 18667 and the selected mass is 3 bigrams
    // carrying 3 * 18667 = 56001 excess
    writeDocs(dir, Seq(
      (1L, "a b", "en", "s0"),
      (2L, "c d c d", "fr", "s0")))
    assert(rhoRows(dir) == Seq(("s0", 2L, 1L, 18667L, 3L, 56001L)))
  }

  test("quality_gate_agreement reconciles with its two component gates") {
    val dir = "/root/testdata/sf0.001"
    val kn = SparkEntry.queries("kn_bigram_ppl")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("kn_bits_milli"))
      .toMap
    val nb = SparkEntry.queries("nb_quality_score")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), Option(r.getAs[String]("lang")),
        r.getAs[Boolean]("pred_target"))).toSeq
    val src = spark.read.parquet(s"$dir/documents.parquet").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[String]("source")).getOrElse("")).toMap
    val joined = nb.filter(x => kn.contains(x._1))
      .map(x => (src(x._1), x._1, x._2, kn(x._1), x._3))
    val expected = joined.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (s0, rows) =>
        val sorted = rows.sortBy(r =>
          (r._4, r._2, r._3.isEmpty, r._3.getOrElse("")))
        val n = sorted.length
        val v = sorted.zipWithIndex.map { case (r, i) =>
          (r._5, (i + 1) * 2 <= n + 1) } // (nb_pass, kn_pass)
        val both = v.count(x => x._1 && x._2).toLong
        val nbOnly = v.count(x => x._1 && !x._2).toLong
        val knOnly = v.count(x => !x._1 && x._2).toLong
        val neither = v.count(x => !x._1 && !x._2).toLong
        (s0, n.toLong, both, nbOnly, knOnly, neither,
          1000L * (both + neither) / n)
    }
    val got = SparkEntry.queries("quality_gate_agreement")(spark, dir)
      .collect().map(r => (r.getAs[String]("source"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_both"),
        r.getAs[Long]("n_nb_only"), r.getAs[Long]("n_kn_only"),
        r.getAs[Long]("n_neither"), r.getAs[Long]("agreement_milli"))).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }
}
