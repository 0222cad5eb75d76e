package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Sketch-tier contract tests: every estimator recomputed in straight-line
  * Scala on the real sf0.001 corpus (Count-Min counters, KMV bottom-k
  * boundaries, DLT priorities), plus the defining theorems — CMS never
  * underestimates; KMV merge ≡ direct; every sampled priority clears τ. */
class SketchOpsSpec extends SparkSpec {

  private def md5hex(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def u32(x: String): Long = java.lang.Long.parseLong(md5hex(x).take(8), 16)
  private def u24(x: String): Long = java.lang.Long.parseLong(md5hex(x).take(6), 16)

  private def trigrams(text: String): Seq[String] = {
    val w = Option(text).getOrElse("").split(" ", -1)
    if (w.length < 3) Seq.empty
    else (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}")
  }

  private def docs(dir: String): Seq[(Option[Long], String, String)] =
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "text", "source").collect().toSeq
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) "" else r.getString(2)))

  test("cms_topk_audit ≡ plain-Scala sketch; CMS never underestimates") {
    val dir = "/root/testdata/sf0.001"
    val stream = docs(dir).flatMap(d => trigrams(d._2))
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cells = scala.collection.mutable.Map.empty[(Int, Long), Long]
    for (g <- stream; i <- 0 until SketchOps.cmsDepth) {
      val k = (i, u32(s"$i:$g") % SketchOps.cmsWidth)
      cells(k) = cells.getOrElse(k, 0L) + 1L
    }
    val topk = exact.toSeq.sortBy { case (g, c) => (-c, g) }
      .take(SketchOps.cmsTopK)
    val expected = topk.map { case (g, c) =>
      val est = (0 until SketchOps.cmsDepth)
        .map(i => cells((i, u32(s"$i:$g") % SketchOps.cmsWidth))).min
      g -> ((c, est, est - c, est >= c))
    }.toMap
    val got = SparkEntry.queries("cms_topk_audit")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))).toMap
    assert(got == expected)
    assert(got.values.forall(_._4), "CMS one-sided error law violated")
    assert(got.size == SketchOps.cmsTopK)
  }

  test("cms_width_sweep ≡ plain-Scala recount; error falls as width grows") {
    val dir = "/root/testdata/sf0.001"
    val stream = docs(dir).flatMap(d => trigrams(d._2))
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val topk = exact.toSeq.sortBy { case (g, c) => (-c, g) }
      .take(SketchOps.cmsTopK)
    val expected = SketchOps.cmsWidthGrid.map { w =>
      val cells = scala.collection.mutable.Map.empty[(Int, Long), Long]
      for (g <- stream; i <- 0 until SketchOps.cmsDepth) {
        val k = (i, u32(s"$i:$g") % w)
        cells(k) = cells.getOrElse(k, 0L) + 1L
      }
      val overs = topk.map { case (g, c) =>
        (0 until SketchOps.cmsDepth)
          .map(i => cells((i, u32(s"$i:$g") % w))).min - c
      }
      val n = stream.size.toLong
      w -> ((w * SketchOps.cmsDepth, n, topk.size.toLong, overs.sum,
        overs.max, overs.forall(_ >= 0L),
        overs.max * 1000L * w <= 2718L * n))
    }.toMap
    val got = SparkEntry.queries("cms_width_sweep")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6), r.getBoolean(7)))).toMap
    assert(got == expected)
    // total error must fall monotonically with width
    val totals = SketchOps.cmsWidthGrid.map(w => got(w)._4)
    assert(totals == totals.sorted.reverse)
  }

  test("kmv_intersect_audit ≡ plain-Scala theta-intersection recount") {
    val dir = "/root/testdata/sf0.001"
    val S = SketchOps
    val bySource = docs(dir)
      .flatMap(d => trigrams(d._2).map(g => (d._3, g))).distinct
    val srcs = bySource.map(_._1).distinct.sorted
    val sk = bySource.groupBy(_._1).map { case (s, gs) =>
      s -> gs.map(g => (u32(g._2), g._2)).distinct.sorted.take(S.kmvK)
    }
    val exact = {
      val gsets = bySource.groupBy(_._1).map { case (s, gs) =>
        s -> gs.map(_._2).toSet }
      for (a <- srcs; b <- srcs if a < b)
        yield (a, b) -> (gsets(a) & gsets(b)).size.toLong
    }.toMap
    val expected = (for (a <- srcs; b <- srcs if a < b) yield {
      val pool = (sk(a) ++ sk(b)).distinct.sorted
      val bottom = pool.take(S.kmvK)
      val nPool = bottom.size
      val theta = if (nPool >= S.kmvK) Some(bottom.last._1) else None
      val inBoth = bottom.count(x => sk(a).contains(x) && sk(b).contains(x))
        .toLong
      // classical estimator: only entries STRICTLY below theta sample
      val inBelow = (if (theta.isDefined) bottom.init else bottom)
        .count(x => sk(a).contains(x) && sk(b).contains(x)).toLong
      val (m, est) = theta match {
        case Some(t) if t > 0 =>
          (inBelow,
            inBelow * ((S.kmvK - 1).toLong * S.kmvDomain / t) /
              (S.kmvK - 1))
        case _ => (inBoth, inBoth)
      }
      (a, b) -> ((exact((a, b)), m, est))
    }).toMap
    val got = SparkEntry.queries("kmv_intersect_audit")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expected)
    assert(got.nonEmpty)
    // theta composability: every bottom-k(union) item claimed "in A" by
    // the sketch really is in A (membership exactness the estimator
    // rests on) — implied by the construction, asserted directly
    for (a <- srcs; b <- srcs if a < b) {
      val pool = (sk(a) ++ sk(b)).distinct.sorted.take(S.kmvK)
      val ga = bySource.filter(_._1 == a).map(_._2).toSet
      pool.filter(x => sk(a).contains(x))
        .foreach(x => assert(ga.contains(x._2)))
    }
  }

  test("kmv_k_sweep ≡ plain-Scala recount across the k grid") {
    val dir = "/root/testdata/sf0.001"
    val S = SketchOps
    val grams = docs(dir).flatMap(d => trigrams(d._2)).distinct
    val hs = grams.map(g => (u32(g), g)).sorted
    val n = hs.size.toLong
    val expected = S.kmvKGrid.map { k =>
      val hk = if (n >= k) Some(hs(k - 1)._1) else None
      val est =
        if (n <= k) n
        else hk.filter(_ > 0).map((k - 1).toLong * S.kmvDomain / _)
          .getOrElse(0L)
      k.toLong -> ((n, hk, est,
        if (n > 0) Some(1000L * est / n) else None))
    }.toMap
    val got = SparkEntry.queries("kmv_k_sweep")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
    assert(got == expected)
    assert(got.size == S.kmvKGrid.size)
  }

  test("ams_f2_audit ≡ plain-Scala tug-of-war; linearity law holds") {
    val dir = "/root/testdata/sf0.001"
    val S = SketchOps
    val bySrc = docs(dir)
      .flatMap(d => trigrams(d._2).map(g => (d._3, g)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val gc = bySrc.groupBy(_._1._2).view
      .mapValues(_.values.sum).toMap
    def sign(i: Int, g: String): Long =
      1L - 2L * (u32(s"$i:$g") % 2L)
    val xs = (0 until S.amsDepth).map(i =>
      gc.map { case (g, c) => sign(i, g) * c }.sum)
    val sx2 = xs.map(x => x * x).sum
    // linearity: per-source X vectors sum to the corpus X vector
    val xm = (0 until S.amsDepth).map(i =>
      bySrc.groupBy(_._1._1).values
        .map(_.map { case ((_, g), c) => sign(i, g) * c }.sum).sum)
    assert(xs == xm, "JVM linearity recount")
    val f2 = gc.values.map(c => c * c).sum
    val r = SparkEntry.queries("ams_f2_audit")(spark, dir).collect().head
    assert(r.getLong(0) == gc.values.sum)
    assert(r.getLong(1) == gc.size.toLong)
    assert(r.getLong(2) == f2)
    assert(r.getLong(3) == sx2 / S.amsDepth)
    assert(r.getLong(4) == xs.map(x => x * x).min)
    assert(r.getLong(5) == xs.map(x => x * x).max)
    assert(r.getBoolean(7), "merge_exact must be structurally true")
  }

  test("kmv audits ≡ plain-Scala bottom-k; merge law holds") {
    val dir = "/root/testdata/sf0.001"
    val bySource = docs(dir)
      .flatMap(d => trigrams(d._2).map(g => (d._3, g))).distinct
    def est(n: Long, hk: Long): Long =
      if (n <= SketchOps.kmvK) n
      else (SketchOps.kmvK - 1) * SketchOps.kmvDomain / hk
    val expected = bySource.groupBy(_._1).map { case (src, gs) =>
      val hs = gs.map(g => (u32(g._2), g._2)).sorted
      val n = hs.size.toLong
      val hk = if (n >= SketchOps.kmvK) Some(hs(SketchOps.kmvK - 1)._1) else None
      src -> ((n, hk, Some(est(n, hk.getOrElse(1L)))))
    }
    val got = SparkEntry.queries("kmv_distinct_audit")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(got == expected)

    // merge law: union of per-source bottom-k re-sketched == direct sketch
    val allGrams = bySource.map(_._2).distinct.map(g => (u32(g), g)).sorted
    val direct = allGrams.take(SketchOps.kmvK)
    val mergedPool = bySource.groupBy(_._1).values.flatMap(gs =>
      gs.map(g => (u32(g._2), g._2)).sorted.take(SketchOps.kmvK))
      .toSeq.distinct.sorted
    val merged = mergedPool.take(SketchOps.kmvK)
    assert(direct == merged, "JVM merge law recount")
    val mrow = SparkEntry.queries("kmv_merge_audit")(spark, dir)
      .collect().head
    assert(mrow.getLong(0) == allGrams.size.toLong)
    assert(mrow.getLong(1) == est(allGrams.size.toLong, direct.last._1))
    assert(mrow.getLong(1) == mrow.getLong(2))
    assert(mrow.getBoolean(3), "merge_exact must be structurally true")
  }

  /** The octave-linear milli-bit log₂ (CurationOps.lg's JVM twin). */
  private def lg(x: Long): Long = {
    val k = 63 - java.lang.Long.numberOfLeadingZeros(x)
    1000L * k + java.lang.Math.floorDiv(1000L * x, 1L << k) - 1000L
  }

  /** JVM HLL recount over (source, gram) rows: returns
    * (n_exact, v_empty, z_scaled, est_raw, est, merge_ok). */
  private def hllRecount(bySource: Seq[(String, String)])
      : (Long, Long, Long, Long, Long, Boolean) = {
    val S = SketchOps
    val rhoW = 1L << S.hllRhoBits
    def reg(h: Long): (Long, Long) = {
      val j = h / rhoW
      val r = h % rhoW
      (j, if (r == 0) S.hllRhoBits + 1L
          else S.hllRhoBits + 1L - (64 - java.lang.Long.numberOfLeadingZeros(r)))
    }
    val allGrams = bySource.map(_._2).distinct
    val direct = Array.fill(S.hllRegisters.toInt)(0L)
    allGrams.foreach { g =>
      val (j, rho) = reg(u32(g))
      direct(j.toInt) = math.max(direct(j.toInt), rho)
    }
    val merged = Array.fill(S.hllRegisters.toInt)(0L)
    bySource.groupBy(_._1).values.foreach { gs =>
      val srcReg = Array.fill(S.hllRegisters.toInt)(0L)
      gs.foreach { case (_, g) =>
        val (j, rho) = reg(u32(g))
        srcReg(j.toInt) = math.max(srcReg(j.toInt), rho)
      }
      (0 until S.hllRegisters.toInt)
        .foreach(j => merged(j) = math.max(merged(j), srcReg(j)))
    }
    val z = direct.map(mj => 1L << (30 - mj)).sum
    val v = direct.count(_ == 0L).toLong
    val m = S.hllRegisters
    val estRaw = S.hllAlphaMilli * m * m * (1L << 30) / (1000L * z)
    val est = if (estRaw <= 5 * m / 2 && v > 0)
      m * (lg(m) - lg(v)) * 693147L / 1000000000L else estRaw
    (allGrams.size.toLong, v, z, estRaw, est,
      direct.toSeq == merged.toSeq)
  }

  private def hllRow(dir: String): (Long, Long, Long, Long, Long, Boolean) = {
    val r = SparkEntry.queries("hll_distinct_audit")(spark, dir)
      .collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getBoolean(6))
  }

  test("hll_distinct_audit ≡ plain-Scala registers; merge law holds") {
    val dir = "/root/testdata/sf0.001"
    val bySource = docs(dir)
      .flatMap(d => trigrams(d._2).map(g => (d._3, g))).distinct
    val exp = hllRecount(bySource)
    assert(exp._6, "JVM merge law recount")
    assert(hllRow(dir) == exp)
    // the real corpus saturates all 64 registers (v = 0): this test
    // covers the raw-estimate branch; the sparse fixture below fires
    // the linear-counting correction
    assert(exp._2 == 0L)
  }

  test("hll_p_sweep ≡ plain-Scala recount across the p grid; grid intact on an empty corpus") {
    val S = SketchOps
    val dir = "/root/testdata/sf0.001"
    val grams = docs(dir).flatMap(d => trigrams(d._2)).distinct
    val expected = S.hllPGrid.map { p =>
      val m = 1L << p
      val rhoBits = 32 - p
      val rhoW = 1L << rhoBits
      val regs = Array.fill(m.toInt)(0L)
      grams.foreach { g =>
        val h = u32(g)
        val j = (h / rhoW).toInt
        val r = h % rhoW
        val rho = if (r == 0) rhoBits + 1L
          else rhoBits + 1L - (64 - java.lang.Long.numberOfLeadingZeros(r))
        if (rho > regs(j)) regs(j) = rho
      }
      val z = regs.map(mj => 1L << (30 - mj)).sum
      val v = regs.count(_ == 0L).toLong
      val estRaw = S.hllAlphaMilliFor(m) * m * m * (1L << 30) / (1000L * z)
      val est = if (estRaw <= 5 * m / 2 && v > 0)
        m * (S.lgJvm(m) - S.lgJvm(v)) * 693147L / 1000000000L else estRaw
      (p, m, grams.size.toLong, v, z, estRaw, est,
        if (grams.nonEmpty) Some(1000L * est / grams.size) else None)
    }
    def read(d: String) = SparkEntry.queries("hll_p_sweep")(spark, d)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) None else Some(r.getLong(7)))).toSeq
    val got = read(dir)
    assert(got == expected, s"got $got\nexpected $expected")
    // more registers must not be less accurate at the grid's ends (the
    // 1.04/√m stderr law, pinned loosely: p=8 beats p=4 on this corpus)
    assert(math.abs(got.last._8.get - 1000L) <=
      math.abs(got.head._8.get - 1000L))

    // empty corpus: every grid row still present, linear counting lands
    // on 0, ratio NULL
    import spark.implicits._
    val edir = tempDir("hllpempty").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$edir/documents.parquet")
    val er = read(edir)
    assert(er.map(_._1) == S.hllPGrid)
    er.foreach { r =>
      assert(r._3 == 0L && r._7 == 0L && r._8.isEmpty, s"empty-corpus row $r")
    }
  }

  test("hll_distinct_audit: sparse fixture fires the linear-counting branch") {
    import spark.implicits._
    val d = tempDir("hllsparse").toString
    val fixture = Seq(
      (1L, "a b c d e", "en", "s0", 0L),
      (2L, "f g h i j", "en", "s1", 0L),
      (3L, null.asInstanceOf[String], "en", "s0", 0L))
    fixture.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val bySource = fixture
      .flatMap(r => trigrams(r._2).map(g => (r._4, g))).distinct
    val exp = hllRecount(bySource)
    assert(exp._2 > 0L, "fixture must leave empty registers")
    assert(exp._4 != exp._5, "correction must actually change the estimate")
    assert(hllRow(d) == exp)
  }

  test("zipf_slope_audit ≡ plain-Scala OLS on the top-N gram frequencies") {
    val dir = "/root/testdata/sf0.001"
    val S = SketchOps
    val counts = docs(dir).flatMap(d => trigrams(d._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (g, c) => (-c, g) }.take(S.zipfTopN)
    val xy = counts.zipWithIndex.map { case ((_, c), i) =>
      (lg(i + 1L), lg(c))
    }
    val n = xy.size.toLong
    val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
    val sxx = xy.map(p => p._1 * p._1).sum
    val sxy = xy.map(p => p._1 * p._2).sum
    val det = n.toDouble * sxx - sx.toDouble * sx
    val slope = (n.toDouble * sxy - sx.toDouble * sy) / det
    val row = SparkEntry.queries("zipf_slope_audit")(spark, dir)
      .collect().head
    assert(row.getLong(0) == n)
    assert(math.abs(row.getDouble(1) - slope) < 1e-12)
    // a natural-text corpus would fit ≈ −1; the audit must report a
    // defined slope and R² on the real corpus
    assert(!row.isNullAt(3))
  }

  test("nb_calibration_curve ≡ bucket recount from nb_quality_score rows") {
    val dir = "/root/testdata/sf0.001"
    val scored = SparkEntry.queries("nb_quality_score")(spark, dir)
      .collect()
      .filter(r => r.getString(1) == "en" || r.getString(1) == "zh")
      .map(r => (math.floor(r.getLong(4) /
        TextOps.nbCalibBucketMilli.toDouble).toLong, r.getString(1) == "en"))
    val expected = scored.groupBy(_._1).map { case (b, rs) =>
      val pos = rs.count(_._2).toLong
      b -> ((b * TextOps.nbCalibBucketMilli, rs.size.toLong, pos,
        1000L * pos / rs.size))
    }
    val got = SparkEntry.queries("nb_calibration_curve")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expected.toMap)
    assert(got.nonEmpty)
  }

  test("cms_rank_audit ≡ plain-Scala dyadic sketch; both one-sided laws hold") {
    import scala.collection.mutable
    val dir = "/root/testdata/sf0.001"
    val S = SketchOps
    val vals = docs(dir).collect { case (_, text, _) if text != null =>
      math.min(text.split(" ", -1).length.toLong, S.rankVMax)
    }
    val n = vals.length.toLong
    val cells = mutable.Map.empty[(Int, Int, Long), Long].withDefaultValue(0L)
    for (v <- vals; l <- 0 until S.rankLevels; i <- 0 until S.cmsDepth)
      cells((l, i, u32(s"$i:$l:${v >> l}") % S.cmsWidth)) += 1L
    def pointq(l: Int, p: Long): Long =
      (0 until S.cmsDepth)
        .map(i => cells((l, i, u32(s"$i:$l:$p") % S.cmsWidth))).min
    def estRank(x: Long): Long = (0 until S.rankLevels).map { l =>
      if (((x >> l) & 1L) == 1L) pointq(l, 2L * (x >> (l + 1))) else 0L
    }.sum
    val sorted = vals.sorted
    val rows = SparkEntry.queries("cms_rank_audit")(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq == S.rankQGrid)
    rows.foreach { row =>
      val q = row.getLong(0)
      assert(row.getLong(1) == n)
      val r = (q * n + 999L) / 1000L
      val exactV = sorted((r - 1).toInt)
      assert(row.getLong(2) == exactV)
      var p = 0L; var cur = 0L
      for (lvl <- (S.rankLevels - 1) to 0 by -1) {
        val c = pointq(lvl, 2L * p)
        if (cur + c < r) { p = 2L * p + 1L; cur += c } else p = 2L * p
      }
      assert(row.getLong(3) == p, s"descent q=$q")
      assert(row.getBoolean(4) && p <= exactV, s"v one-sided law q=$q")
      val exactRank = vals.count(_ < exactV).toLong
      assert(row.getLong(5) == exactRank)
      assert(row.getLong(6) == estRank(exactV), s"est_rank q=$q")
      assert(row.getLong(7) == estRank(exactV) - exactRank)
      assert(row.getBoolean(8) && estRank(exactV) >= exactRank,
        s"rank one-sided law q=$q")
    }
    // empty corpus: all six grid rows survive with NULL estimates
    import spark.implicits._
    val edir = tempDir("rankempty").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$edir/documents.parquet")
    val er = SparkEntry.queries("cms_rank_audit")(spark, edir).collect()
    assert(er.map(_.getLong(0)).toSeq == S.rankQGrid)
    er.foreach { r =>
      assert(r.getLong(1) == 0L && r.isNullAt(2) && r.isNullAt(3) &&
        r.isNullAt(4) && r.isNullAt(5) && r.isNullAt(6) && r.isNullAt(7) &&
        r.isNullAt(8), s"empty-corpus row $r")
    }
  }

  test("cms_rank_merge_audit ≡ per-source plain-Scala recount; merge law holds") {
    import scala.collection.mutable
    val dir = "/root/testdata/sf0.001"
    val S = SketchOps
    val bySrc = docs(dir).collect { case (_, text, src) if text != null =>
      src -> math.min(text.split(" ", -1).length.toLong, S.rankVMax)
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def cellsOf(vals: Seq[Long]): mutable.Map[Long, Long] = {
      val m = mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for (v <- vals; l <- 0 until S.rankLevels; i <- 0 until S.cmsDepth)
        m((l.toLong * S.cmsDepth + i) * S.cmsWidth +
          u32(s"$i:$l:${v >> l}") % S.cmsWidth) += 1L
      m
    }
    val expected = bySrc.map { case (src, vals) =>
      val cells = cellsOf(vals)
      def pointq(l: Int, p: Long): Long = (0 until S.cmsDepth)
        .map(i => cells((l.toLong * S.cmsDepth + i) * S.cmsWidth +
          u32(s"$i:$l:$p") % S.cmsWidth)).min
      def estRank(x: Long): Long = (0 until S.rankLevels).map { l =>
        if (((x >> l) & 1L) == 1L) pointq(l, 2L * (x >> (l + 1))) else 0L
      }.sum
      val n = vals.length.toLong
      val r = (500L * n + 999L) / 1000L
      val exactMed = vals.sorted.apply((r - 1).toInt)
      var p = 0L; var cur = 0L
      for (lvl <- (S.rankLevels - 1) to 0 by -1) {
        val c = pointq(lvl, 2L * p)
        if (cur + c < r) { p = 2L * p + 1L; cur += c } else p = 2L * p
      }
      val exactRank = vals.count(_ < exactMed).toLong
      src -> ((n, exactMed, p, p <= exactMed, exactRank, estRank(exactMed),
        estRank(exactMed) - exactRank, estRank(exactMed) >= exactRank, true))
    }
    val got = SparkEntry.queries("cms_rank_merge_audit")(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getBoolean(8), r.getBoolean(9)))).toMap
    assert(got == expected, s"got $got\nexpected $expected")
    // merge law + both one-sided laws on every source row
    assert(got.nonEmpty)
    got.values.foreach { v => assert(v._4 && v._8 && v._9) }
    // per-source cells really do sum to the corpus cells (JVM recount of
    // the law the query's merge_exact column audits cross-engine)
    val corpus = cellsOf(bySrc.values.flatten.toSeq)
    val summed = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    bySrc.values.foreach(vals =>
      cellsOf(vals).foreach { case (k, c) => summed(k) += c })
    assert(summed == corpus)
  }

  test("priority_sample_audit ≡ plain-Scala DLT; sampled priorities clear τ") {
    val dir = "/root/testdata/sf0.001"
    val d = docs(dir).collect { case (Some(id), text, src) =>
      val w = Option(text).getOrElse("").split(" ", -1)
        .count(_.nonEmpty).toLong
      val u = u24(id.toString) + 1L
      (src, id, w, w * SketchOps.prioScale / u)
    }
    val expected = d.groupBy(_._1).map { case (src, rows) =>
      val ranked = rows.sortBy { case (_, id, _, p) => (-p, id) }
      val sample = ranked.take(SketchOps.prioK)
      val tau = if (ranked.size > SketchOps.prioK)
        ranked(SketchOps.prioK)._4 else 0L
      val exact = rows.map(_._3).sum
      val estT = sample.map(r => math.max(r._3, tau)).sum
      src -> ((rows.size.toLong, exact, sample.size.toLong, tau, estT,
        if (exact > 0) Some(1000L * estT / exact) else None))
    }
    val got = SparkEntry.queries("priority_sample_audit")(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getLong(6))))).toMap
    assert(got == expected.toMap)
    // τ theorem: every sampled doc's priority ≥ its source's τ
    d.groupBy(_._1).foreach { case (_, rows) =>
      val ranked = rows.sortBy { case (_, id, _, p) => (-p, id) }
      if (ranked.size > SketchOps.prioK) {
        val tau = ranked(SketchOps.prioK)._4
        assert(ranked.take(SketchOps.prioK).forall(_._4 >= tau))
      }
    }
  }

  test("countsketch_topk_audit ≡ plain-Scala signed sketch; median is an " +
    "order statistic; per-source cells sum to corpus cells") {
    val dir = "/root/testdata/sf0.001"
    val d = docs(dir)
    val stream = d.flatMap(x => trigrams(x._2))
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def bkt(i: Int, g: String): Long = u32(s"cs$i:$g") % SketchOps.csWidth
    def sgn(i: Int, g: String): Long = 1L - 2L * (u32(s"css$i:$g") % 2L)
    val cells = scala.collection.mutable.Map.empty[(Int, Long), Long]
    for (g <- stream; i <- 0 until SketchOps.csDepth) {
      val k = (i, bkt(i, g))
      cells(k) = cells.getOrElse(k, 0L) + sgn(i, g)
    }
    // CMS side (the unsigned comparison column)
    val ucells = scala.collection.mutable.Map.empty[(Int, Long), Long]
    for (g <- stream; i <- 0 until SketchOps.cmsDepth) {
      val k = (i, u32(s"$i:$g") % SketchOps.cmsWidth)
      ucells(k) = ucells.getOrElse(k, 0L) + 1L
    }
    // linearity: per-source signed cells summed over sources ≡ corpus cells
    val bySrc = scala.collection.mutable.Map.empty[(String, Int, Long), Long]
    for ((_, text, src) <- d; g <- trigrams(text);
         i <- 0 until SketchOps.csDepth) {
      val k = (src, i, bkt(i, g))
      bySrc(k) = bySrc.getOrElse(k, 0L) + sgn(i, g)
    }
    val summed = bySrc.groupBy { case ((_, i, b), _) => (i, b) }
      .view.mapValues(_.values.sum).filter(_._2 != 0L).toMap
    assert(summed == cells.filter(_._2 != 0L).toMap,
      "signed-counter linearity violated")
    val topk = exact.toSeq.sortBy { case (g, c) => (-c, g) }
      .take(SketchOps.csTopK)
    val expected = topk.map { case (g, c) =>
      val rowEsts = (0 until SketchOps.csDepth)
        .map(i => sgn(i, g) * cells.getOrElse((i, bkt(i, g)), 0L)).sorted
      val med = rowEsts(SketchOps.csDepth / 2)
      val cms = (0 until SketchOps.cmsDepth)
        .map(i => ucells((i, u32(s"$i:$g") % SketchOps.cmsWidth))).min
      g -> ((c, med, med - c, cms, cms - c, cms >= c, true))
    }.toMap
    val got = SparkEntry.queries("countsketch_topk_audit")(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6),
        r.getBoolean(7)))).toMap
    assert(got == expected)
    assert(got.size == SketchOps.csTopK)
    // the median really is one of the d row estimates (odd depth ⇒ order
    // statistic, never an interpolated midpoint)
    topk.foreach { case (g, _) =>
      val rowEsts = (0 until SketchOps.csDepth)
        .map(i => sgn(i, g) * cells.getOrElse((i, bkt(i, g)), 0L))
      assert(rowEsts.contains(got(g)._2))
    }
    // CMS one-sided law holds on every audited key
    assert(got.values.forall(_._6), "cms_ok violated")
  }

  test("countsketch_depth_sweep ≡ plain-Scala prefix medians; error " +
    "falls as depth grows on the real corpus") {
    val dir = "/root/testdata/sf0.001"
    val stream = docs(dir).flatMap(x => trigrams(x._2))
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def bkt(i: Int, g: String): Long = u32(s"cs$i:$g") % SketchOps.csWidth
    def sgn(i: Int, g: String): Long = 1L - 2L * (u32(s"css$i:$g") % 2L)
    val cells = scala.collection.mutable.Map.empty[(Int, Long), Long]
    for (g <- stream; i <- 0 until SketchOps.csDepth) {
      val k = (i, bkt(i, g))
      cells(k) = cells.getOrElse(k, 0L) + sgn(i, g)
    }
    val topk = exact.toSeq.sortBy { case (g, c) => (-c, g) }
      .take(SketchOps.csTopK)
    val expected = SketchOps.csDepthGrid.map { d =>
      val errs = topk.map { case (g, c) =>
        val es = (0 until d)
          .map(i => sgn(i, g) * cells.getOrElse((i, bkt(i, g)), 0L)).sorted
        math.abs(es((d + 1) / 2 - 1) - c)
      }
      d.toLong -> ((topk.size.toLong, errs.sum, errs.max, true))
    }.toMap
    val got = SparkEntry.queries("countsketch_depth_sweep")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))).toMap
    assert(got == expected)
    assert(got.size == SketchOps.csDepthGrid.size)
    // the calibration story on the real corpus: deeper medians never
    // read worse in total than the single row
    assert(got(5L)._2 <= got(1L)._2)
  }
}
