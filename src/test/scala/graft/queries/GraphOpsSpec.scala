package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Hand-computed integer-milli PageRank on a 4-node bipartite graph:
  * p1—{s1,s2}, p2—{s1}, with one duplicate lineitem row (must count once).
  *
  * Node ids: p1=2, p2=4, s1=3, s2=5; out-degrees 2,1,2,1. Tracing the
  * update mass'(v) = 150 + 850·Σ(mass(u) div outd(u)) div 1000 through 4
  * iterations gives (1285, 1285, 710, 710) for (p1, s1, p2, s2). */
class GraphOpsSpec extends SparkSpec {

  test("pagerank_links: 4-iteration integer-milli trace; duplicate pairs count once") {
    val dir = tempDir("graphops").toString
    import spark.implicits._
    Seq((1L, 1L), (1L, 1L), (1L, 2L), (2L, 1L)) // (partkey, suppkey), one dup
      .toDF("l_partkey", "l_suppkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("pagerank_links")(spark, dir).collect()
      .map(x => (x.getAs[Long]("node"), x.getAs[Boolean]("is_part"),
        x.getAs[Long]("entity_id"), x.getAs[Long]("mass_milli"))).toSeq
    assert(r == Seq(
      (2L, true, 1L, 1285L),  // p1: hub, highest rank
      (3L, false, 1L, 1285L), // s1: symmetric hub
      (4L, true, 2L, 710L),   // p2: leaf
      (5L, false, 2L, 710L))) // s2: leaf
    // floor-division losses only ever shed mass: total ≤ nodes × 1000
    assert(r.map(_._4).sum <= 4000L)
  }

  /** Market-basket fixture: baskets {1,2,3}×2, {1,4}×2, {2,5}×1, with one
    * duplicated item row (must count once). Support-2 edges: (1,2), (1,3),
    * (2,3), (1,4) — parts 1-2-3 close a triangle, part 4 hangs off 1,
    * part 5 never reaches support. */
  private def writeBaskets(): String = {
    val dir = tempDir("baskets").toString
    import spark.implicits._
    Seq(
      (10L, 1L), (10L, 2L), (10L, 3L), (10L, 3L), // dup item row
      (11L, 1L), (11L, 2L), (11L, 3L),
      (12L, 1L), (12L, 4L),
      (13L, 1L), (13L, 4L),
      (14L, 2L), (14L, 5L))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("part_cooccurrence: hand-checked support and lift; support-1 pairs absent") {
    val dir = writeBaskets()
    val r = SparkEntry.queries("part_cooccurrence")(spark, dir).collect()
      .map(x => (x.getAs[Long]("pa"), x.getAs[Long]("pb")) ->
        ((x.getAs[Long]("n_co"), x.getAs[Long]("n_a"), x.getAs[Long]("n_b"),
          x.getAs[Long]("lift_milli")))).toMap
    // N = 5 orders; part order-counts: 1→4, 2→3, 3→2, 4→2, 5→1
    assert(r((1L, 2L)) == ((2L, 4L, 3L, 1000 * 2 * 5 / (4 * 3))))  // 833
    assert(r((1L, 3L)) == ((2L, 4L, 2L, 1250L)))
    assert(r((2L, 3L)) == ((2L, 3L, 2L, 1666L)))
    assert(r((1L, 4L)) == ((2L, 4L, 2L, 1250L)))
    assert(!r.contains((2L, 5L))) // support 1 → thresholded out
    assert(r.size == 4)
  }

  test("triangle_count: the 1-2-3 triangle is counted once per corner; pendant and leaf get zero") {
    val dir = writeBaskets()
    val r = SparkEntry.queries("triangle_count")(spark, dir).collect()
      .map(x => x.getAs[Long]("node") ->
        ((x.getAs[Long]("deg"), x.getAs[Long]("n_tri"),
          x.getAs[Long]("clustering_milli")))).toMap
    assert(r(1L) == ((3L, 1L, 333L)))  // 2000·1 div (3·2)
    assert(r(2L) == ((2L, 1L, 1000L)))
    assert(r(3L) == ((2L, 1L, 1000L)))
    assert(r(4L) == ((1L, 0L, 0L)))    // pendant: degree 1, no triangle
    assert(!r.contains(5L))            // no surviving edge → not a node
    assert(r.size == 4)
  }

  test("graph_hyperanf_audit ≡ plain-Scala register propagation; " +
    "t=0 and t=1 anchors exact") {
    val dir = "/root/testdata/sf0.001"
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def u32(x: String): Long =
      java.lang.Long.parseLong(md5hex(x).take(8), 16)
    val pairs = spark.read.parquet(s"$dir/lineitem.parquet")
      .selectExpr("l_partkey * 2 AS p", "l_suppkey * 2 + 1 AS s")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val edges = pairs.map { case (p, s) => (p, s) } ++
      pairs.map { case (p, s) => (s, p) }
    val nodes = edges.map(_._1).distinct
    val inbound = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val m = GraphOps.hanfRegisters
    val rhoW = 1L << GraphOps.hanfRhoBits
    def reg0(v: Long): Map[Long, Long] = {
      val h = u32(s"hanf:$v")
      val r = h % rhoW
      val rho = if (r == 0) GraphOps.hanfRhoBits + 1L
        else GraphOps.hanfRhoBits + 1L - (64 - java.lang.Long.numberOfLeadingZeros(r))
      Map((h / rhoW) -> rho)
    }
    def lg(c: Long): Long = graft.queries.SketchOps.lgJvm(c)
    val estNum = graft.queries.SketchOps.hllAlphaMilliFor(m) *
      m * m * (1L << 30)
    def estOf(regs: Map[Long, Long]): Long = {
      val vEmpty = m - regs.size
      val z = vEmpty.toLong * (1L << 30) +
        regs.values.map(rho => 1L << (30 - rho).toInt).sum
      val raw = estNum / (1000L * z)
      if (raw <= 5 * m / 2 && vEmpty > 0)
        m * (lg(m.toLong) - lg(vEmpty.toLong)) * 693147L / 1000000000L
      else raw
    }
    var level: Map[Long, Map[Long, Long]] = nodes.map(v => v -> reg0(v)).toMap
    val nhats = scala.collection.mutable.ArrayBuffer(
      nodes.map(v => estOf(level(v))).sum)
    for (_ <- 1 to GraphOps.hanfRounds) {
      level = nodes.map { v =>
        val merged = (level(v) +: inbound.getOrElse(v, Nil).map(level))
          .flatten.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
        v -> merged
      }.toMap
      nhats += nodes.map(v => estOf(level(v))).sum
    }
    val nv = nodes.size.toLong
    val expected = (0 to GraphOps.hanfRounds).map { t =>
      val exact = if (t == 0) Some(nv)
        else if (t == 1) Some(nv + 2L * pairs.size) else None
      val ratio = exact.filter(_ > 0).map(e => 1000L * nhats(t) / e)
      val growth = if (t == 0) None
        else Some(1000L * nhats(t) / nhats(t - 1)).filter(_ => nhats(t - 1) > 0)
      t.toLong -> ((nv, exact, nhats(t), ratio, growth))
    }.toMap
    val got = SparkEntry.queries("graph_hyperanf_audit")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5))))).toMap
    assert(got == expected)
    // arithmetic anchor: a 1-element m=16 sketch estimates exactly 1,
    // so the t=0 estimate equals |V| with ratio exactly 1000
    assert(got(0L)._3 == nv && got(0L)._4.contains(1000L))
    // register maxima only grow, so the estimated curve is non-decreasing
    // on this corpus (sketch saturation, the HyperANF invariant)
    assert(nhats.toSeq == nhats.toSeq.scanLeft(0L)(math.max).tail)
  }

  test("row-form level 1 is LANE-EXACT against packed level 1") {
    // The round-17 audit rewrite keeps t = 1 as the ONE independently
    // row-propagated round and reads t >= 2 off the packed levels; this
    // pin is the register-grain half of that theorem (the report-grain
    // half is the equality test above): every (node, j) register of the
    // row-form level-1 merge equals the byte lane the packed level-1
    // merge holds, and every lane the row form lacks is 0.
    val dir = "/root/testdata/sf0.001"
    val edges = GraphOps.hanfEdges(spark, dir)
    val rows = GraphOps.hanfLevel(spark, dir, edges,
        GraphOps.hanfR0(edges), 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val lanes = GraphOps.hanfRegisters / 2
    val packed = GraphOps.hanfSwarLevel(spark, dir, edges,
        GraphOps.hanfSwarR0(edges), 1)
      .collect().flatMap { r =>
        val (node, p0, p1) = (r.getLong(0), r.getLong(1), r.getLong(2))
        (0 until GraphOps.hanfRegisters).map { j =>
          val p = if (j < lanes) p0 else p1
          (node, j.toLong) -> ((p >> (8 * (j % lanes))) & 255L)
        }
      }.toMap
    assert(rows.nonEmpty)
    rows.foreach { case (k, rho) => assert(packed(k) == rho, s"lane $k") }
    packed.filterNot { case (k, _) => rows.contains(k) }
      .foreach { case (k, v) => assert(v == 0L, s"ghost lane $k") }
  }

  /** The packing theorem engine-side: element-wise array max-merge ≡
    * per-(node, j) row max, so the packed query's report equals the
    * row-form audit's EXACTLY (the cross-engine half is the shared
    * oracle); and the packed state really is one row per node — the
    * claim the variant exists for. */
  test("graph_hyperanf_packed ≡ graph_hyperanf_audit; " +
    "packed state is |V| rows per level") {
    val dir = "/root/testdata/sf0.001"
    val audit = SparkEntry.queries("graph_hyperanf_audit")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val packed = SparkEntry.queries("graph_hyperanf_packed")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(packed == audit)
    // the t = 0 row's n_nodes is |V|; the packed query's per-node output
    // grain means every level's distinct-node count equals it — probe
    // via the report's own anchors (nhat(0) = |V| exactly, m = 16
    // linear counting), which only holds if no node carries a second row
    val nv = audit.head(1).asInstanceOf[Long]
    assert(audit.head(3).asInstanceOf[Long] == nv)
    assert(packed.head(3).asInstanceOf[Long] == nv)
    // the Aggregator baseline emits the identical report too — the
    // bit-packed lane-max rewrite (round 16) cannot have changed the
    // semantics it was rewritten from
    val udaf = SparkEntry.queries("graph_hyperanf_packed_udaf")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(udaf == audit)
  }

  /** Path-graph fixture for the effective-diameter run: lineitem pairs
    * (1,1), (2,1), (2,2), (3,2) give the 5-node path
    * p1(2)—s1(3)—p2(4)—s2(5)—p3(6), graph diameter 4 — the register
    * propagation NEEDS rounds past the audit's fixed 3 to saturate, so
    * this exercises exactly the extension (t ≥ 4, early stop, t90). */
  test("graph_effective_diameter ≡ plain-Scala propagation to convergence" +
    " on a diameter-4 path; t90 interpolation law") {
    val dir = tempDir("hanfdiam").toString
    import spark.implicits._
    Seq((1L, 1L), (2L, 1L), (2L, 2L), (3L, 2L))
      .toDF("l_partkey", "l_suppkey")
      .write.parquet(s"$dir/lineitem.parquet")
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def u32(x: String): Long =
      java.lang.Long.parseLong(md5hex(x).take(8), 16)
    val pairs = Seq((2L, 3L), (4L, 3L), (4L, 5L), (6L, 5L))
    val edges = pairs ++ pairs.map(_.swap)
    val nodes = edges.map(_._1).distinct
    val inbound = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val m = GraphOps.hanfRegisters
    val rhoW = 1L << GraphOps.hanfRhoBits
    def reg0(v: Long): Map[Long, Long] = {
      val h = u32(s"hanf:$v")
      val r = h % rhoW
      val rho = if (r == 0) GraphOps.hanfRhoBits + 1L
        else GraphOps.hanfRhoBits + 1L -
          (64 - java.lang.Long.numberOfLeadingZeros(r))
      Map((h / rhoW) -> rho)
    }
    def lg(c: Long): Long = graft.queries.SketchOps.lgJvm(c)
    val estNum = graft.queries.SketchOps.hllAlphaMilliFor(m) *
      m * m * (1L << 30)
    def estOf(regs: Map[Long, Long]): Long = {
      val vEmpty = m - regs.size
      val z = vEmpty.toLong * (1L << 30) +
        regs.values.map(rho => 1L << (30 - rho).toInt).sum
      val raw = estNum / (1000L * z)
      if (raw <= 5 * m / 2 && vEmpty > 0)
        m * (lg(m.toLong) - lg(vEmpty.toLong)) * 693147L / 1000000000L
      else raw
    }
    // propagate to convergence with the query's own early-stop rule
    var level: Map[Long, Map[Long, Long]] = nodes.map(v => v -> reg0(v)).toMap
    val nhats = scala.collection.mutable.ArrayBuffer(
      nodes.map(v => estOf(level(v))).sum)
    var flat = false
    var tt = 1
    while (tt <= GraphOps.hanfMaxRounds && !flat) {
      level = nodes.map { v =>
        val merged = (level(v) +: inbound.getOrElse(v, Nil).map(level))
          .flatten.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
        v -> merged
      }.toMap
      val nh = nodes.map(v => estOf(level(v))).sum
      nhats += nh
      flat = nhats(tt - 1) > 0 &&
        1000L * nh / nhats(tt - 1) <= GraphOps.hanfStopMilli
      tt += 1
    }
    val nRounds = nhats.size - 1L
    val nhatFinal = nhats.last
    val tstar = nhats.indexWhere(n => 10 * n >= 9 * nhatFinal).toLong
    val t90 = if (tstar == 0) 0L
      else 1000L * (tstar - 1) +
        1000L * (9 * nhatFinal - 10 * nhats(tstar.toInt - 1)) /
          (10 * nhats(tstar.toInt) - 10 * nhats(tstar.toInt - 1))
    val expected = (0L to nRounds).map { t =>
      val growth = if (t == 0 || nhats(t.toInt - 1) <= 0) None
        else Some(1000L * nhats(t.toInt) / nhats(t.toInt - 1))
      (t, nhats(t.toInt), growth, growth.exists(_ <= GraphOps.hanfStopMilli),
        nRounds, tstar, t90, true)
    }
    val got = SparkEntry.queries("graph_effective_diameter")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7))).toSeq
    assert(got == expected)
    // the path needs > 3 rounds: the diameter run went past the audit's
    // fixed radius (the reason this query exists)
    assert(nRounds >= 4L)
    // t90 lands in ((tstar-1)·1000, tstar·1000] — the interpolation law
    assert(t90 > 1000 * (tstar - 1) && t90 <= 1000 * tstar)
  }

  /** Harmonic centrality on the same path fixture: per-node ball
    * estimates replayed in plain Scala through radius 3, shells clamped,
    * hc = Σ (1000·shell_t) div t — and the path's CENTER must rank
    * first (its true harmonic centrality strictly dominates on a path,
    * and the HLL estimates of 1–5 element balls preserve the order). */
  test("graph_harmonic_centrality ≡ plain-Scala HyperBall replay; " +
    "center of the path ranks first") {
    val dir = tempDir("hanfhc").toString
    import spark.implicits._
    Seq((1L, 1L), (2L, 1L), (2L, 2L), (3L, 2L))
      .toDF("l_partkey", "l_suppkey")
      .write.parquet(s"$dir/lineitem.parquet")
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def u32(x: String): Long =
      java.lang.Long.parseLong(md5hex(x).take(8), 16)
    val pairs = Seq((2L, 3L), (4L, 3L), (4L, 5L), (6L, 5L))
    val edges = pairs ++ pairs.map(_.swap)
    val nodes = edges.map(_._1).distinct
    val inbound = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val m = GraphOps.hanfRegisters
    val rhoW = 1L << GraphOps.hanfRhoBits
    def reg0(v: Long): Map[Long, Long] = {
      val h = u32(s"hanf:$v")
      val r = h % rhoW
      val rho = if (r == 0) GraphOps.hanfRhoBits + 1L
        else GraphOps.hanfRhoBits + 1L -
          (64 - java.lang.Long.numberOfLeadingZeros(r))
      Map((h / rhoW) -> rho)
    }
    def lg(c: Long): Long = graft.queries.SketchOps.lgJvm(c)
    val estNum = graft.queries.SketchOps.hllAlphaMilliFor(m) *
      m * m * (1L << 30)
    def estOf(regs: Map[Long, Long]): Long = {
      val vEmpty = m - regs.size
      val z = vEmpty.toLong * (1L << 30) +
        regs.values.map(rho => 1L << (30 - rho).toInt).sum
      val raw = estNum / (1000L * z)
      if (raw <= 5 * m / 2 && vEmpty > 0)
        m * (lg(m.toLong) - lg(vEmpty.toLong)) * 693147L / 1000000000L
      else raw
    }
    var level: Map[Long, Map[Long, Long]] = nodes.map(v => v -> reg0(v)).toMap
    val balls = scala.collection.mutable.ArrayBuffer(
      nodes.map(v => v -> estOf(level(v))).toMap)
    for (_ <- 1 to GraphOps.hanfRounds) {
      level = nodes.map { v =>
        val merged = (level(v) +: inbound.getOrElse(v, Nil).map(level))
          .flatten.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
        v -> merged
      }.toMap
      balls += nodes.map(v => v -> estOf(level(v))).toMap
    }
    val expected = nodes.map { v =>
      val b = (0 to GraphOps.hanfRounds).map(t => balls(t)(v))
      val shells = (1 to GraphOps.hanfRounds)
        .map(t => math.max(0L, b(t) - b(t - 1)))
      val hc = (1 to GraphOps.hanfRounds)
        .map(t => 1000L * shells(t - 1) / t).sum
      (v, hc, b(1), b(2), b(3), b(0) == 1L,
        hc <= shells.sum * 1000L && hc + 3 >= 1000L * shells.sum / 3)
    }.sortBy(x => (-x._2, x._1)).take(GraphOps.hanfTopK)
    val got = SparkEntry.queries("graph_harmonic_centrality")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5), r.getBoolean(6)))
      .toSeq
    assert(got == expected)
    // path 2—3—4—5—6: node 4 is the center; true C_H = 3.0 strictly
    // dominates (ends: 1 + 1/2 + 1/3; off-center: 2 + 1/2 + 1/3)
    assert(got.head._1 == 4L)
    // every row passes both pinned laws
    assert(got.forall(r => r._6 && r._7))
  }
}
