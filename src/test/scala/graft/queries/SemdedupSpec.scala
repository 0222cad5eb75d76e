package graft.queries

import graft.{SparkEntry, SparkSpec}

/** `semdedup_prune` contract tests: the full pipeline (quantize → coarse
  * assignment → within-cluster τ-pairs → keep-furthest-from-centroid
  * dominance) recomputed in straight-line Scala on the real sf0.001
  * corpus, plus a planted-geometry fixture where every keep/prune verdict
  * is derivable by hand. */
class SemdedupSpec extends SparkSpec {

  private case class Verdict(centId: Long, ccos: Double, nDups: Long,
      keep: Boolean, prunedBy: Option[Long])

  private def quantize(vecs: Seq[(Long, Array[Float])]): Map[Long, Array[Long]] =
    vecs.map { case (id, e) =>
      id -> e.map(x => BigDecimal(x.toDouble * 1000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    }.filter { case (_, v) => v.map(x => x * x).sum > 0 }.toMap

  private def dot(a: Array[Long], b: Array[Long]): Long =
    a.zip(b).map { case (x, y) => x * y }.sum
  private def nrm(a: Array[Long]): Long = dot(a, a)

  /** The shared coarse-assignment recount (BigDecimal HALF_UP
    * quantization mirrors both engines' round()). */
  private def assign(q: Map[Long, Array[Long]]): Map[Long, (Long, Double)] = {
    val cents = q.filter(_._1 < SimilarityOps.ivfCentroids(spark))
    q.map { case (id, v) =>
      val best = cents.toSeq.map { case (cid, cv) =>
        (dot(v, cv).toDouble / math.sqrt((nrm(v) * nrm(cv)).toDouble), cid)
      }.sortBy { case (c, cid) => (-c, cid) }.head
      id -> (best._2, best._1)
    }
  }

  /** Independent recount of the whole operator. */
  private def recount(vecs: Seq[(Long, Array[Float])]): Map[Long, Verdict] = {
    val q = quantize(vecs)
    val assigned = assign(q)
    val byCluster = assigned.groupBy(_._2._1)
    assigned.map { case (id, (cid, ccos)) =>
      val peers = byCluster(cid).keys.filter(_ != id).toSeq
      val dups = peers.filter { p =>
        dot(q(id), q(p)).toDouble /
          math.sqrt((nrm(q(id)) * nrm(q(p))).toDouble) >= CurationOps.semTau
      }
      val doms = dups.filter { p =>
        val pc = assigned(p)._2
        pc < ccos || (pc == ccos && p < id)
      }
      id -> Verdict(cid, ccos, dups.size.toLong, doms.isEmpty,
        if (doms.isEmpty) None else Some(doms.min))
    }
  }

  private def run(dir: String): Map[Long, Verdict] =
    SparkEntry.queries("semdedup_prune")(spark, dir).collect().map { r =>
      r.getLong(0) -> Verdict(r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getBoolean(4), if (r.isNullAt(5)) None else Some(r.getLong(5)))
    }.toMap

  test("semdedup_prune ≡ straight-line recount on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "embedding").collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    assert(run(dir) == recount(vecs))
  }

  test("planted geometry: keep-furthest-from-centroid, isolated vec kept") {
    val dir = tempDir("semdedup").toString
    import spark.implicits._
    val dim = 10
    def e(i: Int, s: Double): Array[Float] =
      Array.tabulate(dim)(j => if (j == i) s.toFloat else 0f)
    // centroids 0..7 = basis vectors; 8 and 9 hug centroid 0 (mutual dups
    // with it and each other); 10 leans weakly (cos ≈ 0.36 < τ) on
    // centroid 1 plus an off-centroid direction — assigned but no dups
    val v8 = Array.tabulate(dim)(j =>
      if (j == 0) 0.9f else if (j == 2) 0.1f else 0f)
    val v9 = Array.tabulate(dim)(j =>
      if (j == 0) 0.85f else if (j == 2) 0.15f else 0f)
    val v10 = Array.tabulate(dim)(j =>
      if (j == 1) 0.35f else if (j == 9) 0.9f else 0f)
    val vecs = (0 until 8).map(i => (i.toLong, e(i, 1.0))) ++
      Seq((8L, v8), (9L, v9), (10L, v10))
    vecs.toDF("vec_id", "embedding")
      .withColumn("label", org.apache.spark.sql.functions.lit(0))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = run(dir)
    assert(got == recount(vecs.map { case (id, v) => (id, v) }))
    // centroid 0 (ccos = 1, the closest) and v8 are pruned; v9 — the
    // furthest τ-neighbor from the centroid — is the kept representative
    assert(!got(0L).keep && got(0L).prunedBy.contains(8L))
    assert(!got(8L).keep && got(8L).prunedBy.contains(9L))
    assert(got(9L).keep && got(9L).nDups == 2L)
    // weak lean: assigned to cluster 1, below τ → untouched
    assert(got(10L).centId == 1L && got(10L).keep && got(10L).nDups == 0L)
    // every cluster-0 τ-neighborhood retains exactly one representative
    assert(Seq(0L, 8L, 9L).count(got(_).keep) == 1)
  }

  /** Independent recount of prototype_prune (rank within cluster by
    * centroid-cosine DESC, vec_id ASC; prune the top mille fraction). */
  private def protoRecount(vecs: Seq[(Long, Array[Float])])
      : Map[Long, (Long, Long, Long, Boolean)] = {
    val assigned = assign(quantize(vecs))
    assigned.groupBy(_._2._1).flatMap { case (cid, members) =>
      val ranked = members.toSeq
        .sortBy { case (id, (_, ccos)) => (-ccos, id) }.zipWithIndex
      val k = ranked.size.toLong
      ranked.map { case ((id, _), i) =>
        val rk = i + 1L
        id -> (cid, rk, k, rk * 1000L > k * CurationOps.protoPruneMille)
      }
    }
  }

  test("prototype_prune ≡ straight-line recount on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "embedding").collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val got = SparkEntry.queries("prototype_prune")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(got == protoRecount(vecs))
    // every non-trivial cluster prunes SOMETHING and keeps SOMETHING
    got.values.groupBy(_._1).foreach { case (cid, ms) =>
      if (ms.head._3 >= 4) {
        assert(ms.exists(_._4), s"cluster $cid kept nothing")
        assert(ms.exists(!_._4), s"cluster $cid pruned nothing")
      }
    }
  }

  test("prototype_prune planted: most-prototypical members pruned, hard tail kept") {
    val dir = tempDir("proto").toString
    import spark.implicits._
    val dim = 10
    def e(i: Int, s: Double): Array[Float] =
      Array.tabulate(dim)(j => if (j == i) s.toFloat else 0f)
    // centroids 0..7 = basis vectors; ids 8..17 all land in cluster 0 with
    // strictly decreasing centroid cosine (increasing off-axis lean)
    val leaners = (0 until 10).map { m =>
      (8L + m, Array.tabulate(dim)(j =>
        if (j == 0) 1.0f else if (j == 9) 0.1f * (m + 1) else 0f))
    }
    val vecs = (0 until 8).map(i => (i.toLong, e(i, 1.0))) ++ leaners
    vecs.toDF("vec_id", "embedding")
      .withColumn("label", org.apache.spark.sql.functions.lit(0))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("prototype_prune")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(got == protoRecount(vecs))
    // cluster 0 = centroid itself + 10 leaners (k = 11): ranks 1..3
    // (the centroid, then the two straightest leaners) are pruned —
    // 1000·rk ≤ 300·11 up to rk = 3 — and the 8 hardest survive
    val c0 = got.filter(_._2._1 == 0L)
    assert(c0.size == 11 && c0.values.forall(_._3 == 11L))
    assert(c0(0L)._2 == 1L && !c0(0L)._4, "centroid is rank 1, pruned")
    assert(!c0(8L)._4 && !c0(9L)._4, "straightest leaners pruned")
    assert((10L to 17L).forall(c0(_)._4), "hard tail kept")
    // singleton clusters (the other centroids) always keep their member
    (1L to 7L).foreach(i => assert(got(i)._4 && got(i)._3 == 1L))
  }

  test("semdedup_eps_sweep ≡ per-τ recount; prune rate falls as τ rises") {
    val dir = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "embedding").collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val q = quantize(vecs)
    val assigned = assign(q)
    val byCluster = assigned.groupBy(_._2._1)
    val expected = CurationOps.semTauGrid.map { tau =>
      val t = tau.toDouble / 1000.0
      var pairs = 0L
      var pruned = 0L
      assigned.foreach { case (id, (cid, ccos)) =>
        val dups = byCluster(cid).keys.filter(_ != id).filter { p =>
          dot(q(id), q(p)).toDouble /
            math.sqrt((nrm(q(id)) * nrm(q(p))).toDouble) >= t
        }
        pairs += dups.count(_ > id)
        if (dups.exists { p =>
          val pc = assigned(p)._2
          pc < ccos || (pc == ccos && p < id)
        }) pruned += 1
      }
      tau -> ((assigned.size.toLong, pairs, pruned,
        1000L * pruned / assigned.size))
    }.toMap
    val got = SparkEntry.queries("semdedup_eps_sweep")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got == expected)
    // monotone: a stricter τ can only shrink pairs and prunes
    val ordered = got.toSeq.sortBy(_._1).map(_._2)
    assert(ordered.map(_._2) == ordered.map(_._2).sorted.reverse)
    assert(ordered.map(_._3) == ordered.map(_._3).sorted.reverse)
    // the deployed τ = 0.4 row reconciles with semdedup_prune
    val fixedPruned = run(dir).values.count(!_.keep).toLong
    assert(got(400L)._3 == fixedPruned)
  }

  test("semdedup_increment ≡ base-neighbor recount; existing content wins") {
    val dir = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "embedding").collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val q = quantize(vecs)
    val assigned = assign(q)
    val byCluster = assigned.groupBy(_._2._1)
    def dec(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8), 16) % 10
    val expected = assigned.filter(kv => dec(kv._1) == 9).map {
      case (id, (cid, ccos)) =>
        val dups = byCluster(cid).keys
          .filter(p => p != id && dec(p) != 9)
          .map { p =>
            (p, dot(q(id), q(p)).toDouble /
              math.sqrt((nrm(q(id)) * nrm(q(p))).toDouble))
          }.filter(_._2 >= CurationOps.semTau).toSeq
        val best = dups.map(_._2).sorted.lastOption
        val nearest = best.map(b => dups.filter(_._2 == b).map(_._1).min)
        id -> ((cid, ccos, dups.size.toLong, best, nearest, dups.isEmpty))
    }
    assert(expected.nonEmpty)
    val got = SparkEntry.queries("semdedup_increment")(spark, dir)
      .collect().map { r =>
        r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          if (r.isNullAt(5)) None else Some(r.getLong(5)),
          r.getBoolean(6)))
      }.toMap
    assert(got == expected)
    // consistency with the batch tier: an arrival with NO τ-neighbor at
    // all in the full batch cannot acquire one against the base alone
    val batch = run(dir)
    got.foreach { case (id, v) =>
      if (batch(id).nDups == 0L) assert(v._6, s"vec $id")
    }
  }

  test("cluster_prune_agreement reconciles with its two component tiers") {
    val dir = "/root/testdata/sf0.001"
    val sem = run(dir).map { case (id, v) => id -> (v.centId, v.keep) }
    val proto = SparkEntry.queries("prototype_prune")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    val expected = sem.groupBy(_._2._1).map { case (cid, ms) =>
      val cells = ms.toSeq.map { case (id, (_, sk)) => (sk, proto(id)) }
      val k = cells.size.toLong
      val agree = cells.count(c => c._1 == c._2).toLong
      cid -> ((k,
        cells.count(c => c._1 && c._2).toLong,
        cells.count(c => c._1 && !c._2).toLong,
        cells.count(c => !c._1 && c._2).toLong,
        cells.count(c => !c._1 && !c._2).toLong,
        1000L * agree / k))
    }
    val got = SparkEntry.queries("cluster_prune_agreement")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got == expected)
    // cells partition each cluster
    got.values.foreach { case (k, a, b, c, d, _) => assert(a + b + c + d == k) }
    assert(got.nonEmpty)
  }

  test("contrastive_triples ≡ within-cluster recount; pos ≥ τ > neg, margin > 0") {
    val dir = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "embedding").collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val q = quantize(vecs)
    val assigned = assign(q)
    val byCluster = assigned.groupBy(_._2._1)
    def cosOf(a: Long, b: Long): Double =
      dot(q(a), q(b)).toDouble / math.sqrt((nrm(q(a)) * nrm(q(b))).toDouble)
    val expected = assigned.flatMap { case (id, (cid, _)) =>
      val peers = byCluster(cid).keys.filter(_ != id).toSeq
        .map(p => (p, cosOf(id, p)))
      // max-cos, min-id tiebreak — the engine's struct-max rule
      def best(cands: Seq[(Long, Double)]): Option[(Long, Double)] =
        if (cands.isEmpty) None
        else { val m = cands.map(_._2).max
          Some((cands.filter(_._2 == m).map(_._1).min, m)) }
      for {
        (pid, pc) <- best(peers.filter(_._2 >= CurationOps.semTau))
        (nid, nc) <- best(peers.filter(_._2 < CurationOps.semTau))
      } yield id -> ((pid, pc, nid, nc,
        math.floor(1000.0 * (pc - nc)).toLong))
    }
    val got = SparkEntry.queries("contrastive_triples")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4), r.getLong(5)))).toMap
    assert(got == expected)
    assert(got.nonEmpty, "fixture corpus must yield at least one triple")
    got.values.foreach { case (_, pc, _, nc, m) =>
      assert(pc >= CurationOps.semTau && nc < CurationOps.semTau && m >= 0)
    }
  }
}
