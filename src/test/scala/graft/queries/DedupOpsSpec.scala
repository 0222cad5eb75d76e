package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Hand-checked tier semantics for the incremental-ingest dedup: exact
  * beats near, near requires a shared band AND verified Jaccard, unmatched
  * docs come back 'new'. */
class DedupOpsSpec extends SparkSpec {

  test("dedup_incremental: exact / near / new tiers against the corpus slice") {
    val dir = tempDir("incdedup").toString
    import spark.implicits._
    Seq(
      // corpus (doc_id % 10 != 0)
      (1L, "alpha beta gamma delta", "en", "src0", 0L),
      (2L, "completely different words here", "en", "src0", 0L),
      // increment (doc_id % 10 == 0)
      (10L, "alpha beta gamma delta", "en", "src0", 0L), // byte-identical → exact
      // same word SET as doc 1 (all bands shared, J = 1) but different
      // byte text → near, not exact
      (20L, "delta gamma beta alpha", "en", "src0", 0L),
      (30L, "zeta eta theta iota", "en", "src0", 0L))    // no match → new
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("dedup_incremental")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("status"), Option(r.getAs[java.lang.Long]("dup_of"))))).toMap
    assert(out(10L) == (("exact_dup", Some(1L))))
    assert(out(20L) == (("near_dup", Some(1L))))
    assert(out(30L) == (("new", None)))
    assert(out.size == 3) // corpus docs are not classified
  }

  test("containment_pairs: a planted quote scores 1000 milli; sub-threshold overlap is absent") {
    val dir = tempDir("containment").toString
    import spark.implicits._
    val a = (1 to 20).map(i => s"a$i").mkString(" ")  // 18 distinct trigrams
    val b = (5 to 12).map(i => s"a$i").mkString(" ")  // 6 trigrams, all ⊆ A
    // shares exactly 2 trigrams with A ("a1 a2 a3", "a2 a3 a4") out of its
    // own 12 → overlap 166 milli, below the 500 emit threshold
    val d = ((1 to 4).map(i => s"a$i") ++ (1 to 10).map(i => s"d$i")).mkString(" ")
    val c = (1 to 10).map(i => s"c$i").mkString(" ")  // disjoint vocabulary
    Seq((1L, a), (2L, b), (3L, c), (4L, d))
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("containment_pairs")(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("a_id") == 1L && r.getAs[Long]("b_id") == 2L)
    assert(r.getAs[Long]("inter") == 6L)
    assert(r.getAs[Long]("n_small") == 6L && r.getAs[Long]("n_big") == 18L)
    assert(r.getAs[Long]("overlap_milli") == 1000L)
  }

  test("containment_prefix_pairs: identical rows to the exact plan, planted and random") {
    import spark.implicits._
    // planted corpus: same fixture as the exact test — one qualifying pair
    val dir = tempDir("containpfx").toString
    val a = (1 to 20).map(i => s"a$i").mkString(" ")
    val b = (5 to 12).map(i => s"a$i").mkString(" ")
    val d = ((1 to 4).map(i => s"a$i") ++ (1 to 10).map(i => s"d$i")).mkString(" ")
    val c = (1 to 10).map(i => s"c$i").mkString(" ")
    Seq((1L, a), (2L, b), (3L, c), (4L, d))
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("containment_prefix_pairs")(spark, dir).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("a_id") == 1L &&
      rows.head.getAs[Long]("b_id") == 2L &&
      rows.head.getAs[Long]("overlap_milli") == 1000L)

    // random corpus with a shared vocabulary dense enough to make both
    // qualifying and near-miss pairs: the prefix-filtered plan must
    // reproduce the exact plan's rows EXACTLY (its candidate set is a
    // superset and the verify is exact — this pins the soundness proof)
    val rnd = new scala.util.Random(12021)
    val vocab = (1 to 40).map(i => s"w$i")
    val docs = (1L to 60L).map { id =>
      val n = 5 + rnd.nextInt(25)
      val start = rnd.nextInt(vocab.length)
      // overlapping word RANGES so shingle sets genuinely intersect
      val text = (0 until n).map(k => vocab((start + k) % vocab.length)).mkString(" ")
      (id, text, "en", "src0", text.length.toLong)
    }
    val rdir = tempDir("containpfxr").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$rdir/documents.parquet")
    val exact = SparkEntry.queries("containment_pairs")(spark, rdir).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"), r.getAs[Long]("inter"),
        r.getAs[Long]("n_small"), r.getAs[Long]("n_big"), r.getAs[Long]("overlap_milli")))
    val pfx = SparkEntry.queries("containment_prefix_pairs")(spark, rdir).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"), r.getAs[Long]("inter"),
        r.getAs[Long]("n_small"), r.getAs[Long]("n_big"), r.getAs[Long]("overlap_milli")))
    assert(exact.nonEmpty, "fixture produced no qualifying pairs — weaken it")
    assert(pfx.toSeq == exact.toSeq)
  }

  test("jaccard_prefix_pairs: matches an exact in-memory recount; subset of containment") {
    import spark.implicits._
    val rnd = new scala.util.Random(31415)
    val vocab = (1 to 40).map(i => s"w$i")
    val docs = (1L to 60L).map { id =>
      val n = 5 + rnd.nextInt(25)
      val start = rnd.nextInt(vocab.length)
      val text = (0 until n).map(k => vocab((start + k) % vocab.length)).mkString(" ")
      (id, text)
    }
    val dir = tempDir("jacpfx").toString
    docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")

    // independent recount: trigram sets in plain Scala, all-pairs exact
    def tris(t: String): Set[String] =
      t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val sets = docs.map { case (id, t) => id -> tris(t) }.toMap
    val expected = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      i = (sets(a) & sets(b)).size if i > 0
      u = sets(a).size + sets(b).size - i
      jm = math.floor(1000.0 * i / u).toLong if jm >= 500
    } yield (a, b, i.toLong, u.toLong, jm)).sorted

    val got = SparkEntry.queries("jaccard_prefix_pairs")(spark, dir).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"), r.getAs[Long]("inter"),
        r.getAs[Long]("uni"), r.getAs[Long]("jaccard_milli"))).toSeq
    assert(expected.nonEmpty, "fixture produced no qualifying pairs — weaken it")
    assert(got == expected)

    // overlap ≥ jaccard (min ≤ union): every J≥500 pair must also be a
    // containment≥500 pair — the cross-query containment invariant
    val contain = SparkEntry.queries("containment_prefix_pairs")(spark, dir)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(got.map(t => (t._1, t._2)).toSet.subsetOf(contain))
  }

  test("cross_source_leakage: planted cross- and within-source near-dups classified") {
    val dir = tempDir("leakage").toString
    import spark.implicits._
    // universe is doc_id % 10 == 0; 10↔20 near-dup across sources (word-set
    // equal → all bands shared, J = 1), 30↔40 within one source, 50 alone,
    // 15 a would-be partner of 10 but outside the sampled universe
    Seq(
      (10L, "alpha beta gamma delta", "srcA"),
      (20L, "delta gamma beta alpha", "srcB"),
      (30L, "epsilon zeta eta theta", "srcC"),
      (40L, "theta eta zeta epsilon", "srcC"),
      (50L, "totally different words here", "srcA"),
      (15L, "alpha beta gamma delta", "srcB"))
      .map { case (id, t, src) => (id, t, "en", src, 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("cross_source_leakage")(spark, dir).collect()
      .map(r => ((r.getAs[String]("source_lo"), r.getAs[String]("source_hi")),
        (r.getAs[Long]("n_pairs"), r.getAs[Boolean]("is_cross")))).toMap
    assert(got == Map(
      ("srcA", "srcB") -> ((1L, true)),
      ("srcC", "srcC") -> ((1L, false))))
  }

  test("soft_dedup_weights: 1/cluster weights, longest-copy canonical, singletons keep themselves") {
    val dir = tempDir("softdedup").toString
    import spark.implicits._
    // 10↔20↔30 one cluster (word-set equal → all bands shared); 30 carries
    // a repeated word so its token COUNT is highest while its word SET is
    // unchanged — the canonical pick must prefer it over the lower ids.
    // 50 is a singleton; 15 is outside the sampled universe.
    Seq(
      (10L, "alpha beta gamma delta", "srcA"),
      (20L, "delta gamma beta alpha", "srcB"),
      (30L, "alpha alpha beta gamma delta", "srcC"),
      (50L, "totally different words here", "srcA"),
      (15L, "alpha beta gamma delta", "srcB"))
      .map { case (id, t, src) => (id, t, "en", src, 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("soft_dedup_weights")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("component"), r.getAs[Long]("comp_size"),
          r.getAs[Double]("weight"), r.getAs[Boolean]("is_kept")))).toMap
    assert(got.keySet == Set(10L, 20L, 30L, 50L))
    assert(got(10L) == ((10L, 3L, 1.0 / 3, false)))
    assert(got(20L) == ((10L, 3L, 1.0 / 3, false)))
    assert(got(30L) == ((10L, 3L, 1.0 / 3, true))) // longest copy wins
    assert(got(50L) == ((50L, 1L, 1.0, true)))
    // expectation-equivalence: weights in each cluster sum to 1
    val sums = got.values.groupBy(_._1).view.mapValues(_.map(_._3).sum)
    assert(sums.values.forall(s => math.abs(s - 1.0) < 1e-12))
  }

  test("dedup_tier_agreement: planted both-tier pair, conservation vs the public tier queries") {
    val dir = tempDir("tieragree").toString
    import spark.implicits._
    // 10↔20 word-PERMUTED: identical word sets → every MinHash band shared
    // and J = 1 (edge), and identical distinct-word SimHash signatures →
    // hamming 0 (pair). 30 and 50 share nothing with anyone; 15 is outside
    // the sampled universe.
    Seq(
      (10L, "alpha beta gamma delta", "srcA"),
      (20L, "delta gamma beta alpha", "srcB"),
      (30L, "completely different things entirely", "srcA"),
      (50L, "words nothing shared whatsoever", "srcA"),
      (15L, "alpha beta gamma delta", "srcB"))
      .map { case (id, t, src) => (id, t, "en", src, 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("dedup_tier_agreement")(spark, dir).collect()
      .map(r => (r.getAs[Boolean]("in_minhash"), r.getAs[Boolean]("in_simhash")) ->
        r.getAs[Long]("n_pairs")).toMap
    assert(got == Map((true, true) -> 1L))

    // conservation on real data: the matrix's marginals must equal the two
    // public tier queries' own pair counts (same universe, same caps)
    val sf = "/root/testdata/sf0.001"
    val matrix = SparkEntry.queries("dedup_tier_agreement")(spark, sf).collect()
      .map(r => (r.getAs[Boolean]("in_minhash"), r.getAs[Boolean]("in_simhash")) ->
        r.getAs[Long]("n_pairs")).toMap
    assert(!matrix.contains((false, false)))
    val simhashTotal = SparkEntry.queries("simhash_neardup_pairs")(spark, sf)
      .filter("is_neardup").count()
    assert(matrix.filter(_._1._2).values.sum == simhashTotal)
    val minhashTotal = SparkEntry.queries("cross_source_leakage")(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n_pairs")).head().getLong(0)
    assert(matrix.filter(_._1._1).values.sum == minhashTotal)
  }

  test("dup_cluster_stats: planted cluster sizes land in the right log2 buckets") {
    val dir = tempDir("dupstats").toString
    import spark.implicits._
    // one cluster of 4 (case/punct variants of one canon form, bucket 2),
    // one cluster of 2 (bucket 1), three singletons (bucket 0), one NULL
    // text (excluded entirely)
    val rows = Seq(
      (1L, "Hello world!"), (2L, "hello WORLD"), (3L, "hello, world."),
      (4L, "  hello   world  "),
      (5L, "pair text one"), (6L, "PAIR text One"),
      (7L, "single a"), (8L, "single b"), (9L, "single c"),
      (10L, null.asInstanceOf[String]))
    rows.map { case (id, t) => (id, t, "en", "src0", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("dup_cluster_stats")(spark, dir).collect()
      .map(r => r.getAs[Int]("bucket") ->
        ((r.getAs[Long]("size_lo"), r.getAs[Long]("n_clusters"),
          r.getAs[Long]("n_docs"), r.getAs[Long]("n_dupes"),
          r.getAs[Long]("dup_ratio_milli")))).toMap
    assert(out.keySet == Set(0, 1, 2))
    assert(out(0) == ((1L, 3L, 3L, 0L, 0L)))
    assert(out(1) == ((2L, 1L, 2L, 1L, 500L)))
    assert(out(2) == ((4L, 1L, 4L, 3L, 750L)))
  }

  test("dup_span_doubling: hand-computed fixture — classes = identical " +
    "windows, truncation at doc end, laws hold") {
    val dir = tempDir("dupdbl").toString
    import spark.implicits._
    // doc 1: "a b a b"  doc 2: "a b x"  doc 3 (null id): ignored
    Seq((Some(1L), "a b a b"), (Some(2L), "a b x"),
      (Option.empty[Long], "a b a b"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val rows = graft.SparkEntry.queries("dup_span_doubling")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6), r.getBoolean(7),
        r.getBoolean(8)))).toMap
    // 7 positions. k=0 (win 1): tokens a,b,a,b | a,b,x → classes {a,b,x};
    // a×3, b×3 duplicated → dup_pos 6, max class 3.
    assert(rows(0L) == ((3L, 6L, 3L, 6L, true, true, true)))
    // k=1 (win 2): windows ab,ba,ab,b | ab,bx,x → classes
    // {ab, ba, b, bx, x}; ab×3 duplicated → dup_pos 3.
    assert(rows(1L) == ((5L, 3L, 3L, 3L, true, true, true)))
    // k=2 (win 4): abab, bab, ab, b | abx, bx, x — all distinct: the
    // doc-1 "ab" is a TRUNCATED 2-token suffix while doc-2's "ab" prefix
    // continues with x → 7 classes, nothing duplicated.
    assert(rows(2L) == ((7L, 0L, 1L, 0L, true, true, true)))
    assert(rows(3L) == ((7L, 0L, 1L, 0L, true, true, true)))
    assert(rows.size == DedupOps.dblRounds + 1)
  }

  test("dup_span_extract: spans are the representative's own window, " +
    "full-length only, counts match the window recount") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("dup_span_extract")(spark, dir)
      .collect()
    assert(rows.nonEmpty && rows.length <= DedupOps.dblTopSpans)
    assert(rows.forall(_.getAs[Boolean]("span_ok")))
    // JVM ground truth: group FULL 8-token windows, count per window
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .filter(!_.isNullAt(0))
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) Array.empty[String]
        else r.getString(1).split(" ", -1)))
    val winCount = docs.flatMap { case (_, w) =>
      (0 to w.length - 8).map(i => w.slice(i, i + 8).mkString(" ")) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    rows.foreach { r =>
      val span = r.getAs[String]("span")
      assert(span.split(" ", -1).length == 8, s"truncated span leaked: $span")
      assert(winCount(span) == r.getAs[Long]("n_pos"),
        s"count mismatch for '$span'")
    }
    // the ranking is the true top of the full-window counts
    val expectedTop = winCount.filter(_._2 >= 2).values.toSeq
      .sortBy(-_).take(rows.length)
    assert(rows.map(_.getAs[Long]("n_pos")).toSeq == expectedTop)
  }

  test("dup_span_incremental: hand fixture — one matched window, novel " +
    "token blocks a 7/8 overlap, null text counts zero") {
    val dir = tempDir("dupspaninc").toString
    import spark.implicits._
    Seq(
      // corpus (doc_id % 10 != 0): 10 tokens → 3 full 8-token windows
      (Some(1L), Some("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10")),
      // increment: window w2..w9 matches corpus pos 1; the next window
      // ends in novel z → unmatched
      (Some(10L), Some("w2 w3 w4 w5 w6 w7 w8 w9 z")),
      (Some(20L), Some("x1 x2 x3 x4 x5 x6 x7 x8")), // all novel
      // 7 shared tokens + one novel: no full window matches
      (Some(30L), Some("w1 w2 w3 w4 w5 w6 w7 z8")),
      (Some(40L), Option.empty[String]))               // null text
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("dup_span_incremental")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        r.getLong(6), r.getBoolean(7), r.getBoolean(8)))).toMap
    assert(out(10L) ==
      ((9L, 2L, 1L, 8L, Some(1L * 1048576L + 1L), 1000L * 8 / 9, true, true)))
    assert(out(20L) == ((8L, 1L, 0L, 0L, None, 0L, false, true)))
    assert(out(30L) == ((8L, 1L, 0L, 0L, None, 0L, false, true)))
    assert(out(40L) == ((0L, 0L, 0L, 0L, None, 0L, false, true)))
    assert(out.size == 4)
  }

  test("dup_span_incremental ≡ direct JVM window matching on the real " +
    "corpus (chain ≡ direct, incremental form)") {
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("dup_span_incremental")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        r.getLong(6), r.getBoolean(7), r.getBoolean(8)))).toMap
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .filter(!_.isNullAt(0))
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) Array.empty[String]
         else r.getString(1).split(" ", -1)))
    val corpusWins = docs.filter(_._1 % 10 != 0)
      .flatMap { case (id, w) =>
        (0 to w.length - 8).map(i =>
          w.slice(i, i + 8).toSeq -> (id * 1048576L + i))
      }.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val expected = docs.filter(_._1 % 10 == 0).map { case (id, w) =>
      val n = w.length.toLong
      val wins = (0 to w.length - 8)
        .map(i => i.toLong -> corpusWins.get(w.slice(i, i + 8).toSeq))
      val hit = wins.collect { case (p, Some(c)) => (p, c) }
      val cover = hit.flatMap { case (p, _) => p until p + 8 }.distinct.size
      id -> ((n, math.max(0L, n - 7), hit.size.toLong, cover.toLong,
        if (hit.nonEmpty) Some(hit.map(_._2).min) else None,
        if (n > 0) 1000L * cover / n else 0L, hit.nonEmpty, true))
    }.toMap
    assert(out == expected)
    // the increment genuinely contains corpus-duplicate spans (the
    // seeded ~8% near-dup structure) AND clean docs
    assert(out.values.exists(_._7) && out.values.exists(!_._7))
  }

  test("substring_dedup_apply: hand-computed cut fixture — non-rep " +
    "occurrences cut, representative kept, doc split at cut points") {
    val dir = tempDir("dupapply").toString
    import spark.implicits._
    val eight = (1 to 8).map(i => s"t$i").mkString(" ")
    // doc 1 holds the REPRESENTATIVE occurrence (min gid) of the
    // duplicated window t1..t8; doc 2 carries it mid-doc (cut → split
    // into two segments); doc 3 is untouched; doc 4 is the window twice
    // back-to-back (both occurrences non-rep → fully gutted).
    Seq((1L, s"$eight z1"), (2L, s"y1 $eight y2"),
      (3L, (1 to 9).map(i => s"u$i").mkString(" ")),
      (4L, s"$eight $eight"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = graft.SparkEntry.queries("substring_dedup_apply")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5), r.getLong(6),
        r.getBoolean(7)))).toMap
    assert(got(1L) == ((9L, 0L, 0L, 1L, s"$eight z1", 0L, true)))
    assert(got(2L) == ((10L, 8L, 1L, 2L, "y1\ny2", 0L, true)))
    assert(got(3L) == ((9L, 0L, 0L, 1L,
      (1 to 9).map(i => s"u$i").mkString(" "), 0L, true)))
    assert(got(4L) == ((16L, 16L, 1L, 0L, "", 0L, true)))
    assert(got.size == 4)
  }

  test("substring_dedup_apply ≡ plain-Scala cut replay on the real " +
    "corpus; zero remaining duplicated windows (the theorem)") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("substring_dedup_apply")(spark, dir)
      .collect()
    assert(rows.forall(_.getAs[Boolean]("clean_ok")))
    assert(rows.forall(_.getAs[Long]("remaining_dup") == 0L))
    // independent JVM replay of the full semantics
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .filter(!_.isNullAt(0))
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) Array.empty[String]
        else r.getString(1).split(" ", -1)))
    val byClass = docs.flatMap { case (id, w) =>
      (0 to w.length - 8).map(i => w.slice(i, i + 8).mkString(" ") ->
        (id * 1048576L + i)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val cutPos: Set[(Long, Long)] = byClass.values.filter(_.length >= 2)
      .flatMap(_.tail) // every occurrence but the min-gid representative
      .flatMap(g => (0 until 8).map(o => (g / 1048576L, g % 1048576L + o)))
      .toSet
    val cutByDoc: Map[Long, Set[Int]] = cutPos.groupBy(_._1)
      .view.mapValues(_.map(_._2.toInt)).toMap
    val expected = docs.map { case (id, w) =>
      val cut = cutByDoc.getOrElse(id, Set.empty)
      val runs = cut.toSeq.sorted.foldLeft(0) { (acc, p) =>
        if (cut.contains(p - 1)) acc else acc + 1 }
      val segs = w.indices.filterNot(cut).foldLeft(List.empty[List[Int]]) {
        (acc, p) => acc match {
          case h :: t if h.last == p - 1 => (h :+ p) :: t
          case _ => List(p) :: acc
        }
      }.reverse
      id -> ((w.length.toLong, cut.size.toLong, runs.toLong,
        segs.length.toLong,
        segs.map(_.map(w).mkString(" ")).mkString("\n")))
    }.toMap
    val got = rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    assert(got == expected)
    // the pass cut real mass on the real corpus
    assert(rows.map(_.getAs[Long]("tokens_removed")).sum > 0L)
  }

  test("dup_span_doubling ≡ direct window grouping on the real corpus " +
    "(the per-row theorem) plus plain-Scala recount at k=3") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("dup_span_doubling")(spark, dir)
      .collect()
    assert(rows.length == DedupOps.dblRounds + 1)
    assert(rows.forall(_.getAs[Boolean]("direct_match")))
    assert(rows.forall(_.getAs[Boolean]("refine_ok")))
    assert(rows.forall(_.getAs[Boolean]("mono_ok")))
    // independent JVM recount of the k=3 row: group 8-token windows
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .filter(!_.isNullAt(0))
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) Array.empty[String]
        else r.getString(1).split(" ", -1)))
    val wins = docs.flatMap { case (_, w) =>
      w.indices.map(i => w.slice(i, math.min(i + 8, w.length)).toSeq) }
    val sizes = wins.groupBy(identity).view.mapValues(_.length.toLong)
    val k3 = rows.find(_.getLong(0) == 3L).get
    assert(k3.getAs[Long]("n_classes") == sizes.size.toLong)
    assert(k3.getAs[Long]("dup_pos") ==
      sizes.values.filter(_ >= 2L).sum)
    assert(k3.getAs[Long]("max_class") == sizes.values.max)
  }
}
