package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Hand-computed product-quantization semantics on a constant-per-subspace
  * fixture: codebook code j is the constant vector (j+1)·0.01 (quantized:
  * 10·(j+1) per dim), so every sub-distance is 16·(c − 10(j+1))² and every
  * argmin / ADC sum / rank is checkable by hand. The oracle proves
  * engine-equivalence; this pins the intended MEANING. */
class PqOpsSpec extends SparkSpec {

  private def writeFixture(): String = {
    val dir = tempDir("pqops").toString
    import spark.implicits._
    def const(c: Float): Array[Float] = Array.fill(64)(c)
    def perSub(cs: Seq[Float]): Array[Float] =
      cs.flatMap(c => Array.fill(16)(c)).toArray
    val rows =
      // codebook donors AND ADC queries (vec_id < 8 / < 5): code j ≡ 10(j+1)
      (0 until 8).map(j => (j.toLong, const((j + 1) * 0.01f), 0)) ++ Seq(
        // per-subspace constants [10, 80, 35, 20] → codes [0, 7, 2|3-tie, 1];
        // 35 ties codes 2 (30) and 3 (40) at dist 16·25 = 400 → lower code 2
        (10L, perSub(Seq(0.01f, 0.08f, 0.035f, 0.02f)), 0),
        // constant 80 → code 7 in every subspace, dist 0
        (11L, const(0.08f), 0))
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("pq_encode_stats: hand-computed assignment counts, tie rule, distortion") {
    val dir = writeFixture()
    val out = SparkEntry.queries("pq_encode_stats")(spark, dir).collect()
      .map(r => (r.getAs[Int]("m"), r.getAs[Long]("code")) ->
        ((r.getAs[Long]("n_assigned"), r.getAs[Long]("distortion"),
          r.getAs[Long]("share_milli")))).toMap
    // per subspace: codes 0..7 self-assign (8 vecs), vec 11 joins code 7;
    // vec 10 joins m-dependent codes; 10 vectors per subspace total
    for (m <- 0 until 4) {
      val extra10 = Map(0 -> 0L, 1 -> 7L, 2 -> 2L, 3 -> 1L)(m)
      for (c <- 0L until 8L) {
        val n = 1L + (if (c == 7L) 1L else 0L) + (if (c == extra10) 1L else 0L)
        val dist = if (m == 2 && c == 2L) 400L else 0L // the tie case pays 16·25
        val share = n * 100L // floor(1000·n/10)
        assert(out((m, c)) == ((n, dist, share)), s"m=$m code=$c")
      }
    }
    assert(out.size == 32)
  }

  test("pq_adc_topk: ADC distances are exact subspace table-lookup sums") {
    val dir = writeFixture()
    val q0 = SparkEntry.queries("pq_adc_topk")(spark, dir).collect()
      .filter(_.getAs[Long]("query_id") == 0L)
      .map(r => (r.getAs[Int]("rk"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("adc_dist")))
    // query 0 ≡ constant 10; candidate at codes (j..) costs Σ 1600·(0−j)²
    // vec 1→6400, vec 2→25600, vec 3→57600, vec 10 codes [0,7,2,1] →
    // 1600·(0+49+4+1)=86400, vec 4→102400
    assert(q0.toSeq == Seq(
      (1, 1L, 6400L), (2, 2L, 25600L), (3, 3L, 57600L),
      (4, 10L, 86400L), (5, 4L, 102400L)))
  }

  test("pq_recall_audit: lossless-geometry fixture reaches full recall") {
    val dir = writeFixture()
    val out = SparkEntry.queries("pq_recall_audit")(spark, dir).collect()
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("n_hits"), r.getAs[Long]("recall_milli")))).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 4L))
    // constant vectors quantize near-exactly (only vec 10's m=2 pays any
    // distortion), so ADC ordering == exact L2 ordering for every query
    out.foreach { case (q, (h, r)) =>
      assert(h == 5L && r == 1000L, s"query $q")
    }
  }

  test("ann_ivfadc_topk: independent JVM recount of the full IVF+ADC pipeline") {
    // re-derive the entire composition (quantize → IVF assign/probe →
    // PQ encode → ADC rank) in plain Scala on real sf0.001 data and
    // require row-for-row agreement — an implementation-independent twin
    // beside the DuckDB oracle (the InvariantSpec2 discipline)
    val sf = "/root/testdata/sf0.001"
    val raw = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray)
    val e = raw.map { case (id, v) =>
      // HALF_UP like Spark's round() — math.round is half-toward-+inf,
      // which disagrees on negative components
      id -> v.map(x => new java.math.BigDecimal(x.toDouble * 1000)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue)
    }.filter { case (_, q) => q.map(x => x * x).sum > 0 }
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    def cos(a: Array[Long], b: Array[Long]): Double =
      dot(a, b).toDouble / math.sqrt((dot(a, a) * dot(b, b)).toDouble)
    val cents = e.filter(_._1 < 8).sortBy(_._1)
    def argmaxCent(q: Array[Long]): Long =
      cents.map { case (cid, cq) => (cid, cos(q, cq)) }
        .minBy { case (cid, c) => (-c, cid) }._1
    val assigned = e.map { case (id, q) => id -> argmaxCent(q) }.toMap
    // PQ encode: per subspace argmin code over the first-8 codebook
    def sub(q: Array[Long], m: Int): Array[Long] =
      q.slice(m * 16, math.min(m * 16 + 16, q.length))
    def sdist(a: Array[Long], b: Array[Long]): Long = {
      val n = math.min(a.length, b.length)
      dot(a, a) - 2 * (0 until n).map(i => a(i) * b(i)).sum + dot(b, b)
    }
    val codes = e.map { case (id, q) =>
      id -> (0 until 4).map { m =>
        cents.map { case (cid, cq) => (cid, sdist(sub(q, m), sub(cq, m))) }
          .minBy { case (cid, d) => (d, cid) }._1
      }
    }.toMap
    val expected = e.filter(_._1 < 5).flatMap { case (qid, qq) =>
      val probes = cents.map { case (cid, cq) => (cid, cos(qq, cq)) }
        .sortBy { case (cid, c) => (-c, cid) }.take(2).map(_._1).toSet
      val cand = e.filter { case (id, _) =>
        id != qid && probes.contains(assigned(id)) }
      val adc = cand.map { case (id, _) =>
        (id, (0 until 4).map { m =>
          val cq = cents.find(_._1 == codes(id)(m)).get._2
          sdist(sub(qq, m), sub(cq, m))
        }.sum)
      }
      adc.sortBy { case (id, d) => (d, id) }.take(5).zipWithIndex.map {
        case ((id, d), i) => (qid, i + 1, id, d)
      }
    }.toSet
    val got = SparkEntry.queries("ann_ivfadc_topk")(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_dist"))).toSet
    assert(got == expected)
    assert(got.size == 25)
  }

  test("pq_residual_gain: hand-computed plain-vs-residual distortion split") {
    val dir = tempDir("pqres").toString
    import spark.implicits._
    // centroids (vec 0..7): one-hot 1.0 at dim j — all in subspace 0, so
    // every plain code is zero in subspaces 1..3. Corpus (vec 8..23):
    // centroid copy + a constant δ = 0.01 at dim 63 (subspace 3). Every
    // corpus residual is exactly δ, and the residual codebook (vec 8..15)
    // is δ itself → residual distortion 0 for corpus vectors; centroids'
    // own zero residuals pay dist(0, δ) = 100 each at m=3.
    def vec(hot: Int, delta: Boolean): Array[Float] =
      Array.tabulate(64)(i =>
        (if (i == hot) 1.0f else 0.0f) +
          (if (delta && i == 63) 0.01f else 0.0f))
    val rows =
      (0 until 8).map(j => (j.toLong, vec(j, delta = false), 0)) ++
        (8 until 24).map(j => (j.toLong, vec(j % 8, delta = true), 0))
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("pq_residual_gain")(spark, dir).collect()
      .map(r => r.getAs[Int]("m") ->
        ((r.getAs[Long]("distortion_plain"),
          r.getAs[Long]("distortion_residual"),
          Option(r.getAs[java.lang.Long]("gain_milli")).map(Long.unbox))))
      .toMap
    assert(out.keySet == Set(0, 1, 2, 3))
    // subspaces 0..2 encode everything exactly on both paths → NULL gain
    (0 to 2).foreach(m => assert(out(m) == ((0L, 0L, None)), s"m=$m"))
    // m=3: plain pays 16 corpus vectors × δ² = 1600; residual pays the
    // 8 centroid zero-residuals × dist(0, δ) = 800 → gain 500‰
    assert(out(3) == ((1600L, 800L, Some(500L))))
  }

  test("ann_ivfadc_residual_topk: clustered fixture — residual coding is exact " +
      "and beats raw recall decisively") {
    // The §V.B geometry: 8 tight clusters at one-hot centers c_j (dims 0..7,
    // subspace 0); every member is center + one of 8 lattice offsets
    // (magnitude 10(u+1) at dim 48+u, subspace 3). Centroid donors
    // (vec 0..7) are the PURE centers, residual-codebook donors (vec 8+u)
    // carry offset_u, and corpus ids ANTI-correlate with offset size
    // (v ∈ [16,80): cluster v%8, offset 7−(v/8−2)). Consequences, hand-
    // derivable: raw m3 codes are all-zero (centers have no offset), so raw
    // ADC scores every in-cluster member 0 and ties resolve to LOWEST ids —
    // the LARGEST offsets — while the residual codebook represents every
    // member's residual exactly (distortion 0), so residual ADC equals true
    // L2 and recovers the true in-cluster order.
    val dir = tempDir("pqresserve").toString
    import spark.implicits._
    def vec(hot: Int, offDim: Int, offMag: Float): Array[Float] =
      Array.tabulate(64)(i =>
        (if (i == hot) 1.0f else 0.0f) +
          (if (offDim >= 0 && i == offDim) offMag else 0.0f))
    val rows =
      (0 until 8).map(j => (j.toLong, vec(j, -1, 0f), 0)) ++
        (0 until 8).map(u =>
          ((8 + u).toLong, vec(u, 48 + u, (u + 1) * 0.01f), 0)) ++
        (16 until 80).map { v =>
          val u = 7 - (v / 8 - 2)
          (v.toLong, vec(v % 8, 48 + u, (u + 1) * 0.01f), 0)
        }
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    // in-JVM truth: exact quantized L2 top-5 per query (vec 0..4)
    val e = rows.map { case (id, v, _) =>
      id -> v.map(x => math.round(x.toDouble * 1000)) }
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val truth = e.filter(_._1 < 5).flatMap { case (qid, qq) =>
      e.filter(_._1 != qid).map { case (id, v) => (l2(qq, v), id) }
        .sorted.take(5).map { case (_, id) => (qid, id) }
    }.toSet
    def hits(name: String): Int =
      SparkEntry.queries(name)(spark, dir).collect().count(r =>
        truth.contains((r.getAs[Long]("query_id"),
          r.getAs[Long]("neighbor_id"))))
    val raw = hits("ann_ivfadc_topk")
    val resid = hits("ann_ivfadc_residual_topk")
    assert(resid == 25, s"exact residual coding must recover full truth, got $resid")
    assert(raw < resid, s"raw coding collapses in-cluster order (raw=$raw)")
    // and the gain audit AGREES residual is the right call on this corpus
    val gain = SparkEntry.queries("pq_residual_gain")(spark, dir).collect()
      .map(r => r.getAs[Int]("m") ->
        Option(r.getAs[java.lang.Long]("gain_milli")).map(Long.unbox)).toMap
    assert(gain(3).exists(_ > 0L),
      s"offset subspace must show positive residual gain, got ${gain(3)}")
  }

  test("residual serve on the real corpus: bounded, audit-consistent") {
    // the isotropic testdata corpus is where pq_residual_gain reports
    // NEGATIVE gain (residuals vs sample centroids carry MORE energy than
    // the vectors themselves) — the audit tells this deployment to serve
    // raw; the serve query still answers correctly and is oracle-checked,
    // so recall is MEASURED here, not asserted against raw
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("ann_ivfadc_residual_topk")(spark, sf).collect()
    assert(out.length == 25)
    out.foreach { r =>
      val rk = r.getAs[Int]("rk")
      assert(rk >= 1 && rk <= 5)
      assert(r.getAs[Long]("adc_dist") >= 0L,
        "residual ADC distances are sums of int64 squares")
    }
    val gains = SparkEntry.queries("pq_residual_gain")(spark, sf).collect()
      .flatMap(r => Option(r.getAs[java.lang.Long]("gain_milli")).map(Long.unbox))
    assert(gains.nonEmpty) // the audit that decides raw-vs-residual exists
  }

  test("ann_rerank_audit: rerank dominates single-stage ADC per query") {
    // structural guarantee, not luck: truth∩adc5 ⊆ truth∩staged20 ⊆
    // reranked5 (a global-top-5 member inside the staged set has exact rank
    // ≤ 5 within any superset), so n_hits_rerank ≥ n_hits_adc ALWAYS
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val out = SparkEntry.queries("ann_rerank_audit")(spark, sf).collect()
      assert(out.length == 5, sf)
      out.foreach { r =>
        val a = r.getAs[Long]("n_hits_adc")
        val rr = r.getAs[Long]("n_hits_rerank")
        assert(rr >= a, s"$sf query ${r.getAs[Long]("query_id")}: rerank $rr < adc $a")
        assert(r.getAs[Long]("recall_adc_milli") == a * 200L)
        assert(r.getAs[Long]("recall_rerank_milli") == rr * 200L)
      }
      val total = out.map(_.getAs[Long]("n_hits_rerank")).sum
      val totalAdc = out.map(_.getAs[Long]("n_hits_adc")).sum
      assert(total >= totalAdc)
    }
  }

  test("pq_kmeans_step: hand-computed Lloyd round — floor-means, re-encode, " +
      "reassignment") {
    // donors 0..7 ≡ const 10(j+1) per dim; corpus at const 13, 15, 16, 17.
    // Before: 13→code0 (144/sub), 15→code0 (400, the 10|20 tie → lower),
    // 16→code1 (256), 17→code1 (144) ⇒ distortion_before = 944 per sub.
    // Means: code0 = floor((10+13+15)/3) = 12, code1 = floor((20+16+17)/3)
    // = 17, others keep their donor. Re-encode: vec0→64, vec1→144, 13→16,
    // 15→64 via code1 (REASSIGNED 0→1: 144 vs 64), 16→16, 17→0 ⇒
    // distortion_after = 304, gain = floor(1000·640/944) = 677, moved = 1.
    val dir = tempDir("pqkm").toString
    import spark.implicits._
    def const(c: Float): Array[Float] = Array.fill(64)(c)
    val rows =
      (0 until 8).map(j => (j.toLong, const((j + 1) * 0.01f), 0)) ++ Seq(
        (10L, const(0.013f), 0), (11L, const(0.015f), 0),
        (12L, const(0.016f), 0), (13L, const(0.017f), 0))
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("pq_kmeans_step")(spark, dir).collect()
      .map(r => r.getAs[Int]("m") ->
        ((r.getAs[Long]("distortion_before"), r.getAs[Long]("distortion_after"),
          Option(r.getAs[java.lang.Long]("gain_milli")).map(Long.unbox),
          r.getAs[Long]("n_reassigned")))).toMap
    assert(out.keySet == Set(0, 1, 2, 3))
    (0 to 3).foreach(m =>
      assert(out(m) == ((944L, 304L, Some(677L), 1L)), s"m=$m: ${out(m)}"))
  }

  test("pq_kmeans_step on the real corpus: one round strictly improves") {
    val out = SparkEntry.queries("pq_kmeans_step")(spark,
      "/root/testdata/sf0.001").collect()
    assert(out.length == 4)
    out.foreach { r =>
      val b = r.getAs[Long]("distortion_before")
      val a = r.getAs[Long]("distortion_after")
      // Lloyd with exact means is monotone; floor-rounding can cost at most
      // dim per code — far below the measured improvement
      assert(a < b, s"m=${r.getAs[Int]("m")}: retrain must reduce distortion")
      assert(r.getAs[Long]("n_reassigned") >= 0L)
    }
  }

  test("pq_recall_audit on the real corpus: recall measured, not asserted") {
    val out = SparkEntry.queries("pq_recall_audit")(spark,
      "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val h = r.getAs[Long]("n_hits")
      assert(h >= 0L && h <= 5L)
      assert(r.getAs[Long]("recall_milli") == h * 200L)
    }
  }
}
