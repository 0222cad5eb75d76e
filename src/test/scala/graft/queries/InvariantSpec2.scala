package graft.queries

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.{SparkEntry, SparkSpec}

/** Algebraic invariants of the round-9 graph / dedup / quality /
  * reconciliation operators over GENERATED inputs (InvariantSpec's
  * seeded-Gen style): laws that must hold for any corpus, checked against
  * independent in-memory recomputation where one is cheap.
  *
  *  - triangle_count: Σ per-node triangles ≡ 0 (mod 3) — every triangle
  *    has exactly 3 corners; per-node count ≤ C(deg, 2); clustering ≤ 1;
  *    and the corner-sum equals 3 × an independent brute-force triangle
  *    count of the same thresholded edge set.
  *  - part_cooccurrence: support threshold respected, n_co ≤ min(n_a,
  *    n_b), canonical pair order, and lift recomputed exactly.
  *  - dedup_canonical: group sizes conserve the corpus; planted
  *    case/punct/whitespace variants collapse into ONE canonical group.
  *  - oov_rate: n_oov ≤ n_words, both milli ratios ≤ 1000, and the OOV
  *    count matches an independent recomputation against the
  *    (count desc, word asc) top-20 vocabulary.
  *  - snapshot_diff: the four classes tile both snapshots — removed +
  *    changed + unchanged = |old| and added + changed + unchanged = |new|,
  *    with the expected counts derived from the slice definitions.
  */
class InvariantSpec2 extends SparkSpec {
  import spark.implicits._

  private val params = Gen.Parameters.default
  private def sample[T](g: Gen[T], n: Int, seed0: Long = 7L): Seq[T] =
    (0 until n).flatMap(i => g.apply(params, Seed(seed0 + i)))

  // baskets of 2-6 distinct parts from a 30-part pool: small enough that
  // support-2 edges and triangles are dense, big enough to be non-trivial
  private val genBasket: Gen[Seq[Long]] = for {
    k <- Gen.choose(2, 6)
    ps <- Gen.listOfN(k, Gen.choose(1L, 30L))
  } yield ps.distinct

  private def writeBaskets(baskets: Seq[Seq[Long]]): String = {
    val dir = tempDir("invbaskets").toString
    baskets.zipWithIndex.flatMap { case (ps, oid) =>
      ps.map(p => (oid.toLong, p))
    }.toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("triangle_count: corner conservation vs a brute-force recount (generated baskets)") {
    val baskets = sample(genBasket, 150)
    val dir = writeBaskets(baskets)
    val rows = SparkEntry.queries("triangle_count")(spark, dir).collect()
    rows.foreach { r =>
      val deg = r.getAs[Long]("deg"); val tri = r.getAs[Long]("n_tri")
      assert(tri <= deg * (deg - 1) / 2,
        s"node ${r.getAs[Long]("node")}: $tri triangles exceeds C($deg,2)")
      assert(r.getAs[Long]("clustering_milli") <= 1000L)
    }
    val cornerSum = rows.map(_.getAs[Long]("n_tri")).sum
    assert(cornerSum % 3 == 0, s"corner sum $cornerSum not divisible by 3")
    // independent brute-force triangle count over the same support-2 edges
    val co = baskets.zipWithIndex
      .flatMap { case (ps, oid) =>
        ps.sorted.combinations(2).map(c => ((c(0), c(1)), oid)) }
      .groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 2).keySet
    val nodes = co.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    var brute = 0L
    for {
      Seq(a, b, c) <- nodes.combinations(3)
      if co((a, b)) && co((a, c)) && co((b, c))
    } brute += 1
    assert(cornerSum == 3 * brute,
      s"corner sum $cornerSum != 3 × brute-force $brute")
  }

  test("part_cooccurrence: threshold, bounds, exact lift recomputation (generated baskets)") {
    val baskets = sample(genBasket, 150, seed0 = 99L)
    val dir = writeBaskets(baskets)
    val nOrders = baskets.size.toLong
    val partOrders = baskets.zipWithIndex
      .flatMap { case (ps, oid) => ps.map(_ -> oid) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size.toLong).toMap
    SparkEntry.queries("part_cooccurrence")(spark, dir).collect().foreach { r =>
      val pa = r.getAs[Long]("pa"); val pb = r.getAs[Long]("pb")
      val nCo = r.getAs[Long]("n_co")
      val nA = r.getAs[Long]("n_a"); val nB = r.getAs[Long]("n_b")
      assert(pa < pb)
      assert(nCo >= 2, "support threshold violated")
      assert(nCo <= math.min(nA, nB), "co-order count exceeds a part's order count")
      assert(nA == partOrders(pa) && nB == partOrders(pb))
      assert(r.getAs[Long]("lift_milli") == 1000L * nCo * nOrders / (nA * nB))
    }
  }

  test("dedup_canonical: planted variants collapse; group sizes conserve the corpus") {
    val dir = tempDir("canondocs").toString
    Seq(
      (1L, "Hello, World!"), (2L, "hello world"), (3L, "HELLO   world"),
      (4L, "different text"), (5L, "Different;text"), // canonicalizes APART (no space)
      (6L, "unrelated"))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("dedup_canonical")(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == 6L, "groups must tile the corpus")
    val hello = rows.filter(_.getAs[Long]("canonical_id") == 1L)
    assert(hello.length == 1 && hello.head.getAs[Long]("n_docs") == 3L &&
      hello.head.getAs[Long]("n_raw_variants") == 3L,
      "case/punct/whitespace variants of doc 1 must form one canonical group")
    rows.foreach(r =>
      assert(r.getAs[Long]("n_raw_variants") <= r.getAs[Long]("n_docs")))
  }

  private val vocab30 = Vector("a", "b", "c", "d", "e", "f", "g", "h", "i",
    "j", "k", "l", "m", "n", "o", "p", "q", "r", "s", "t", "u", "v", "w",
    "x", "y", "z", "aa", "bb", "cc", "dd")
  private val genDoc: Gen[String] = for {
    n <- Gen.choose(1, 50)
    ws <- Gen.listOfN(n, Gen.oneOf(vocab30))
  } yield ws.mkString(" ")

  test("oov_rate: bounds + exact recomputation against the top-20 vocabulary") {
    val texts = sample(genDoc, 200, seed0 = 42L)
    val dir = tempDir("oovdocs").toString
    texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "s", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // independent vocabulary: count desc, word asc, top 20
    val counts = texts.flatMap(_.split(" ")).groupBy(identity)
      .view.mapValues(_.size).toSeq
    val top20 = counts.sortBy { case (w, c) => (-c, w) }.take(20).map(_._1).toSet
    val byId = texts.zipWithIndex.map { case (t, i) => i.toLong -> t }.toMap
    SparkEntry.queries("oov_rate")(spark, dir).collect().foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val ws = byId(id).split(" ").toSeq
      assert(r.getAs[Int]("n_words") == ws.size)
      assert(r.getAs[Int]("n_oov") == ws.count(!top20(_)),
        s"doc $id: OOV count diverges from the independent top-20 recompute")
      assert(r.getAs[Long]("oov_milli") <= 1000L)
      assert(r.getAs[Long]("ttr_milli") <= 1000L)
    }
  }

  test("dau_wau: WAU dominates DAU and matches an exact sliding recount (generated logs)") {
    val genEvt: Gen[(Long, Int)] = for {
      uid <- Gen.choose(1L, 15L)
      day <- Gen.choose(0, 40)
    } yield (uid, day)
    val rows = sample(genEvt, 400, seed0 = 1234L)
    val dir = tempDir("dauwau").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    rows.zipWithIndex.map { case ((uid, day), i) =>
      (i.toLong, (t0 + day * 86400000L + (i % 86400) * 1000L) * 1000000L,
        uid, "view", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("dau_wau")(spark, dir).collect()
      .map(r => r.getAs[java.sql.Date]("day").toLocalDate ->
        ((r.getAs[Long]("dau"), r.getAs[Long]("wau7")))).toMap
    // independent recount
    val d0 = java.time.LocalDate.of(2024, 1, 1)
    val byDay = rows.groupBy(_._2).view
      .mapValues(_.map(_._1).toSet).toMap
    val days = byDay.keySet
    days.foreach { day =>
      val dau = byDay(day).size.toLong
      val wau = (day - 6 to day).flatMap(byDay.get).flatten.toSet.size.toLong
      val (gd, gw) = got(d0.plusDays(day.toLong))
      assert(gd == dau, s"day $day: dau $gd != $dau")
      assert(gw == wau, s"day $day: wau $gw != $wau")
      assert(gw >= gd)
    }
    assert(got.size == days.size, "output must cover exactly the observed days")
  }

  test("label_centroids: sums and counts match an exact recount (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("label"), col("embedding")).collect()
      .map(r => r.getAs[Int]("label") ->
        r.getSeq[Float](1).map(x => math.rint(x.toDouble * 1000).toLong))
    val rows = SparkEntry.queries("label_centroids")(spark, dir).collect()
    rows.foreach { r =>
      val lbl = r.getAs[Int]("label"); val dim = r.getAs[Int]("dim")
      val comps = vecs.filter(_._1 == lbl).map(_._2(dim))
      assert(r.getAs[Long]("n_vecs") == comps.length.toLong)
      val sum = comps.sum
      assert(r.getAs[Long]("sum_q") == sum)
      assert(r.getAs[Long]("mean_milli") ==
        math.floor(sum.toDouble / comps.length).toLong)
    }
    // one row per (label, dim): 8 labels × 64 dims at this sf
    assert(rows.length == vecs.map(_._1).distinct.length * vecs.head._2.length)
  }

  test("snapshot_diff: the four classes tile both snapshots (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val keys = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey").cast("long")).as[Long].collect()
    val oldN = keys.count(_ % 10 != 0).toLong
    val newN = keys.count(_ % 7 != 3).toLong
    // changed = in both slices AND bumped (key%11=0)
    val changedN = keys.count(k => k % 10 != 0 && k % 7 != 3 && k % 11 == 0).toLong
    val m = SparkEntry.queries("snapshot_diff")(spark, dir).collect()
      .map(r => r.getAs[String]("status") -> r.getAs[Long]("n_rows")).toMap
    def g(s: String) = m.getOrElse(s, 0L)
    assert(g("removed") + g("changed") + g("unchanged") == oldN)
    assert(g("added") + g("changed") + g("unchanged") == newN)
    assert(g("changed") == changedN)
  }

  test("bpe_pair_stats: exact brute-force recount of the top-50 pair table (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("text")).as[String].collect()
    val freq = scala.collection.mutable.Map.empty[String, Long]
    texts.filter(_ != null).foreach(_.split(" ", -1).foreach { w =>
      if (w.length >= 2 && w.forall(c => c >= 'a' && c <= 'z'))
        freq(w) = freq.getOrElse(w, 0L) + 1
    })
    val pairCount = scala.collection.mutable.Map.empty[String, Long]
    val pairWords = scala.collection.mutable.Map.empty[String, Set[String]]
    freq.foreach { case (w, f) =>
      (0 until w.length - 1).foreach { i =>
        val p = w.substring(i, i + 2)
        pairCount(p) = pairCount.getOrElse(p, 0L) + f
        pairWords(p) = pairWords.getOrElse(p, Set.empty) + w
      }
    }
    val expect = pairCount.toSeq
      .map { case (p, c) => (p, c, pairWords(p).size.toLong) }
      .sortBy { case (p, c, _) => (-c, p) }.take(50)
    val got = SparkEntry.queries("bpe_pair_stats")(spark, dir).collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[Long]("pair_count"),
        r.getAs[Long]("n_words")))
    assert(got.length == math.min(50, expect.length))
    assert(got.toSeq == expect, "top-50 adjacent-pair table must match the recount")
  }

  test("word_bigram_surprisal: exact recount; gibberish outscores common prose") {
    val dir = tempDir("surprisal").toString
    // ten docs of the SAME common sentence (their bigrams recur 10×) plus
    // one gibberish doc of unique transitions, plus a NULL and an empty
    // text (must vanish from the output, not crash)
    val prose = "the quick brown fox jumps over the lazy dog"
    val texts: Seq[(Long, String)] =
      (1L to 10L).map(i => i -> prose) ++
        Seq(11L -> "zq xv qk vj jx kq wz", 12L -> "", 13L -> null)
    texts.map { case (id, t) => (id, t, "en", "src0", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // brute recount in plain Scala
    val bigrams = texts.flatMap { case (id, t) =>
      Option(t).toSeq.flatMap(_.split(" ", -1).toSeq.sliding(2).toSeq
        .filter(_.length == 2).map(p => id -> p.mkString(" ")))
    }
    val cnt = bigrams.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nTotal = bigrams.size.toLong
    def bucket(x: Long) = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val expect = bigrams.groupBy(_._1).map { case (id, gs) =>
      val rs = gs.map(g => 1000L * (bucket(nTotal) - bucket(cnt(g._2))))
      id -> ((gs.size.toLong, rs.sum / gs.size, rs.max))
    }
    val got = SparkEntry.queries("word_bigram_surprisal")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("surprisal_milli"),
          r.getAs[Long]("max_rarity_milli")))).toMap
    assert(got == expect)
    assert(!got.contains(12L) && !got.contains(13L))
    // the fluency signal: recurring prose scores strictly below gibberish
    assert(got(1L)._2 < got(11L)._2)
  }

  test("signal_agreement_audit: exact Spearman recount on a mixed-source corpus") {
    val dir = tempDir("sigagree").toString
    // source sA: 4 docs with varying repetition (TTR) and rarity; sB: one
    // doc only (dropped, rho undefined); NULL/empty text excluded
    val texts: Seq[(Long, String, String)] = Seq(
      (1L, "aa aa aa aa bb", "sA"),
      (2L, "aa bb cc dd ee", "sA"),
      (3L, "aa bb aa bb cc", "sA"),
      (4L, "xx yy zz qq rr", "sA"),
      (5L, "aa bb", "sB"),
      (6L, "", "sA"), (7L, null, "sA"))
    texts.map { case (id, t, src) => (id, t, "en", src, 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // brute recount: signals, distinct ranks with doc_id tiebreak, rho
    val docs = texts.collect { case (id, t, src) if t != null && t.nonEmpty =>
      (id, t.split(" ", -1).toSeq, src)
    }
    val bigrams = docs.flatMap { case (id, ws, _) =>
      ws.sliding(2).filter(_.length == 2).map(p => id -> p.mkString(" ")) }
    val cnt = bigrams.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nTot = bigrams.size.toLong
    def bucket(x: Long) = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val surp = bigrams.groupBy(_._1).view.mapValues { gs =>
      gs.map(g => 1000L * (bucket(nTot) - bucket(cnt(g._2)))).sum / gs.size
    }.toMap
    val sig = docs.filter(d => surp.contains(d._1)).map { case (id, ws, src) =>
      (id, src, 1000L * ws.distinct.size / ws.size, surp(id)) }
    val expect = sig.groupBy(_._2).collect { case (src, ds) if ds.size >= 2 =>
      val ra = ds.sortBy(d => (d._3, d._1)).zipWithIndex.map { case (d, i) => d._1 -> (i + 1L) }.toMap
      val rb = ds.sortBy(d => (d._4, d._1)).zipWithIndex.map { case (d, i) => d._1 -> (i + 1L) }.toMap
      val d2 = ds.map(d => { val x = ra(d._1) - rb(d._1); x * x }).sum
      val n = ds.size.toLong
      src -> ((n, d2, 1000L - Math.floorDiv(6000L * d2, n * n * n - n)))
    }
    val got = SparkEntry.queries("signal_agreement_audit")(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("sum_d2"),
          r.getAs[Long]("rho_milli")))).toMap
    assert(got == expect)
    assert(!got.contains("sB")) // n = 1 → rho undefined → dropped
  }
}
