package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Unigram-LM tokenizer step: a hand-computed fixture (vocab costs, the
  * piece-count-over-cost tie-break, hard-EM count reallocation) plus a
  * full brute-force Viterbi recount on the real sf0.001 corpus — every
  * word's segmentation, cost and piece count re-derived by enumerating
  * ALL ≤4-char-piece segmentations in plain Scala with the same
  * (cost, n_pieces, seg) tie-break. */
class UnigramOpsSpec extends SparkSpec {

  private def step(dir: String) =
    SparkEntry.queries("unigram_lm_step")(spark, dir).collect()
      .map(r => (r.getAs[String]("piece"), r.getAs[Long]("piece_len"),
        r.getAs[Long]("seed_count"), r.getAs[Long]("cost_millibits"),
        r.getAs[Long]("viterbi_count")))

  private def segs(dir: String) =
    SparkEntry.queries("unigram_segment_words")(spark, dir).collect()
      .map(r => (r.getAs[String]("word"), r.getAs[Long]("freq"),
        r.getAs[Long]("n_pieces"), r.getAs[Long]("cost_millibits"),
        r.getAs[String]("seg")))

  test("hand-computed fixture: costs, tie-break on piece count, EM counts") {
    val dir = tempDir("uni1").toString
    import spark.implicits._
    // words: ab x6, abab x2, cd x1.
    // piece counts: a 10, b 10, ab 10, ba 2, aba 2, bab 2, abab 2,
    //               c 1, d 1, cd 1 -> N = 41.
    // halfbit log2: 41^2 = 1681 -> 11 bits; 10^2 = 100 -> 7; 2^2 = 4 -> 3;
    //               1 -> 1. cost = 500 * (11 - bits):
    //   cost(a)=cost(b)=cost(ab)=2000, cost(abab)=4000, cost(cd)=5000.
    // Viterbi "abab": ab·ab = 4000/2 pieces vs abab = 4000/1 piece ->
    //   the (cost, n_pieces, seg) tie-break picks the SINGLE piece.
    // Viterbi "ab" -> ab (2000); "cd" -> cd (5000, beats c·d = 10000).
    val docs =
      (1L to 6L).map(i => (i, "ab")) ++
        (7L to 8L).map(i => (i, "abab")) ++ Seq((9L, "cd"))
    docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    assert(step(dir).toSeq == Seq(
      ("ab", 2L, 10L, 2000L, 6L),
      ("abab", 4L, 2L, 4000L, 2L),
      ("cd", 2L, 1L, 5000L, 1L)))
    assert(segs(dir).toSeq == Seq(
      ("ab", 6L, 1L, 2000L, "ab"),
      ("abab", 2L, 1L, 4000L, "abab"),
      ("cd", 1L, 1L, 5000L, "cd")))
  }

  test("sf0.001: Viterbi output equals exhaustive-search recount") {
    val dir = "/root/testdata/sf0.001"
    val words = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("explode(split(text, ' ')) AS w").collect()
      .map(_.getString(0)).toSeq
    val (cost, bf) = UnigramTestOracle.train(words)
    val got = segs(dir)
    assert(got.nonEmpty && got.length <= 30)
    // top-30 is the full vocab here (sf0.001 has ~30 distinct words)
    for ((w, f, n, c, seg) <- got) {
      val (bc, bn, bseg) = bf(w)
      assert(seg.split('·').mkString == w, s"seg must rejoin to $w")
      assert((c, n, seg) == (bc, bn, bseg),
        s"$w: got ($c,$n,$seg) brute ($bc,$bn,$bseg)")
    }
    // EM counts: piece usage re-aggregated from the brute-force segs
    val freq = UnigramTestOracle.universe(words).groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    val emCnt = collection.mutable.Map.empty[String, Long]
    for ((w, f) <- freq; p <- bf(w)._3.split('·'))
      emCnt(p) = emCnt.getOrElse(p, 0L) + f
    val expected = emCnt.toSeq.sortBy { case (p, v) => (-v, p) }.take(50)
    val gotStep = step(dir).map(r => (r._1, r._5)).toSeq
    assert(gotStep == expected.map { case (p, v) => (p, v) },
      s"EM counts: got $gotStep expected $expected")
    // cost column consistency
    for ((p, _, _, c, _) <- step(dir)) assert(cost(p) == c)
  }

  private def prune(dir: String) =
    SparkEntry.queries("unigram_vocab_prune")(spark, dir).collect()
      .map(r => r.getAs[String]("piece") -> ((r.getAs[Long]("piece_len"),
        r.getAs[Long]("viterbi_count"), r.getAs[Long]("cost_millibits"),
        Option(r.getAs[java.lang.Long]("char_cost_millibits")).map(_.toLong),
        Option(r.getAs[java.lang.Long]("loss_milli")).map(_.toLong),
        r.getAs[Boolean]("keep")))).toMap

  /** Independent recount of the prune round from the test oracle's
    * trained state (char-fallback loss, loss-desc rank, 800‰ keep). */
  private def pruneRecount(words: Seq[String])
      : Map[String, (Long, Long, Long, Option[Long], Option[Long], Boolean)] = {
    val (cost, bf) = UnigramTestOracle.train(words)
    val freq = UnigramTestOracle.universe(words).groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    val emCnt = collection.mutable.Map.empty[String, Long]
    for ((w, f) <- freq; p <- bf(w)._3.split('·'))
      emCnt(p) = emCnt.getOrElse(p, 0L) + f
    val multi = cost.keys.filter(_.length > 1).toSeq
    val loss = multi.map { p =>
      val cc = p.map(c => cost(c.toString)).sum
      p -> (emCnt.getOrElse(p, 0L) * (cc - cost(p)), cc)
    }.toMap
    val ranked = multi.sortBy(p => (-loss(p)._1, p)).zipWithIndex
      .map { case (p, i) => p -> (i + 1L) }.toMap
    val nm = multi.size.toLong
    cost.map { case (p, c) =>
      if (p.length == 1)
        p -> ((1L, emCnt.getOrElse(p, 0L), c, None, None, true))
      else
        p -> ((p.length.toLong, emCnt.getOrElse(p, 0L), c,
          Some(loss(p)._2), Some(loss(p)._1), ranked(p) * 1000L <= nm * 800L))
    }
  }

  test("unigram_vocab_prune ≡ char-fallback recount on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val words = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("explode(split(text, ' ')) AS w").collect()
      .map(_.getString(0)).toSeq
    val got = prune(dir)
    assert(got == pruneRecount(words))
    // singles all keep; some multi is pruned; kept multis dominate by loss
    assert(got.filter(_._2._1 == 1L).values.forall(_._6))
    val multis = got.filter(_._2._1 > 1L).values
    assert(multis.exists(!_._6) && multis.exists(_._6))
    val worstKept = multis.filter(_._6).flatMap(_._5).min
    val bestPruned = multis.filter(!_._6).flatMap(_._5).max
    assert(bestPruned <= worstKept)
  }

  test("unigram_vocab_prune fixture: never-used pieces pruned first") {
    val dir = tempDir("uniprune").toString
    import spark.implicits._
    // the unigram fixture corpus: losses ab 12000, abab 8000, cd 5000,
    // then the never-used {aba, ba, bab} at 0 -> rk 4,5,6 of nm=6;
    // keep iff 1000·rk <= 4800: ab, abab, cd, aba keep; ba, bab pruned
    val docs = (1L to 6L).map(i => (i, "ab")) ++
      (7L to 8L).map(i => (i, "abab")) ++ Seq((9L, "cd"))
    docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = prune(dir)
    assert(got == Map(
      "a" -> ((1L, 0L, 2000L, None, None, true)),
      "b" -> ((1L, 0L, 2000L, None, None, true)),
      "c" -> ((1L, 0L, 5000L, None, None, true)),
      "d" -> ((1L, 0L, 5000L, None, None, true)),
      "ab" -> ((2L, 6L, 2000L, Some(4000L), Some(12000L), true)),
      "abab" -> ((4L, 2L, 4000L, Some(8000L), Some(8000L), true)),
      "cd" -> ((2L, 1L, 5000L, Some(10000L), Some(5000L), true)),
      "aba" -> ((3L, 0L, 4000L, Some(6000L), Some(0L), true)),
      "ba" -> ((2L, 0L, 4000L, Some(4000L), Some(0L), false)),
      "bab" -> ((3L, 0L, 4000L, Some(6000L), Some(0L), false))))
  }

  private def effectRow(dir: String) = {
    val r = SparkEntry.queries("unigram_prune_effect")(spark, dir)
      .collect().head
    (r.getAs[Long]("vocab_before"), r.getAs[Long]("vocab_after"),
      r.getAs[Long]("n_distinct_words"), r.getAs[Long]("n_words"),
      r.getAs[Long]("pieces_before"), r.getAs[Long]("pieces_after"),
      r.getAs[Long]("fert_before_milli"), r.getAs[Long]("fert_after_milli"),
      r.getAs[Long]("cost_before"), r.getAs[Long]("cost_after"),
      r.getAs[Long]("cost_regret_milli"))
  }

  private def effectRecount(words: Seq[String]) = {
    val (cost, bf) = UnigramTestOracle.train(words)
    val verdicts = pruneRecount(words)
    val keptCost = cost.filter { case (p, _) => verdicts(p)._6 }
    val freq = UnigramTestOracle.universe(words).groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    val rows = freq.map { case (w, f) =>
      val (cb, nb, _) = bf(w)
      val (ca, na, _) = UnigramTestOracle.best(w, keptCost)
      (f, f * nb, f * na, f * cb, f * ca)
    }.toSeq
    val (nw, pb, pa, cb, ca) = (rows.map(_._1).sum, rows.map(_._2).sum,
      rows.map(_._3).sum, rows.map(_._4).sum, rows.map(_._5).sum)
    (cost.size.toLong, keptCost.size.toLong, freq.size.toLong, nw,
      pb, pa, 1000L * pb / nw, 1000L * pa / nw, cb, ca,
      1000L * (ca - cb) / cb)
  }

  test("unigram_prune_effect ≡ pruned-vocab re-segmentation recount; regret ≥ 0") {
    val dir = "/root/testdata/sf0.001"
    val words = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("explode(split(text, ' ')) AS w").collect()
      .map(_.getString(0)).toSeq
    val got = effectRow(dir)
    assert(got == effectRecount(words))
    // a subset vocabulary can never beat the superset's DP
    assert(got._10 >= got._9 && got._11 >= 0L)
    assert(got._2 < got._1)
  }

  test("unigram_prune_effect fixture: pruning only never-used pieces costs nothing") {
    val dir = tempDir("uniprune2").toString
    import spark.implicits._
    val docs = (1L to 6L).map(i => (i, "ab")) ++
      (7L to 8L).map(i => (i, "abab")) ++ Seq((9L, "cd"))
    docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // {ba, bab} pruned, both unused -> identical segmentations:
    // vocab 10 -> 8, pieces 9 (ab x6, abab, cd all one piece... wait:
    // freq-weighted: ab:6·1 + abab:2·1 + cd:1·1 = 9), zero regret
    assert(effectRow(dir) == ((10L, 8L, 3L, 9L, 9L, 9L, 1000L, 1000L,
      25000L, 25000L, 0L)))
  }

  test("word-length ceiling: the O(len²) DP never sees unbounded junk runs") {
    import org.apache.spark.sql.functions._
    // the universe filter bounds the DP input (batch, oracle and stream
    // share the definition): a 65-char run is out, a 64-char one is in
    // and lands at the worst-case all-sentinel cost — comfortably inside
    // the 12-digit field (the lpad saturation ceilings stay as
    // defense-in-depth for direct library calls with uncapped words)
    val words = spark.range(1).select(
      explode(array(lit("q" * 64), lit("q" * 65), lit("ab"))).as("word"))
    val kept = words
      .where(graft.queries.UnigramOps.wordUniverseFilter(col("word")))
      .collect().map(_.getString(0))
    assert(kept.toSet == Set("q" * 64, "ab"))
    val df = spark.range(1).select(
      lit("q" * 64).as("word"),
      map_from_entries(array().cast("array<struct<piece:string,cost:bigint>>"))
        .as("vmap"))
    val out = df.select(
      graft.queries.UnigramOps.segmentWithMap(col("word"), col("vmap")): _*)
      .collect().head
    assert(out.getAs[Long]("cost_millibits") == 16L * 1000000000L)
    assert(out.getAs[Long]("n_pieces") == 16L) // 64 / 4-char pieces
  }

  private def fert(dir: String) =
    SparkEntry.queries("tokenizer_fertility")(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_char_tokens"), r.getAs[Long]("n_bpe_tokens"),
        r.getAs[Long]("n_uni_pieces"), r.getAs[Long]("bpe_fertility_milli"),
        r.getAs[Long]("uni_fertility_milli")))

  test("tokenizer_fertility: hand-computed two-source fixture") {
    val dir = tempDir("unif").toString
    import spark.implicits._
    // the BpeMergeSpec ROI corpus: srcA abab x3 + ab x2, srcB cd x5.
    // BPE fuses every word to ONE symbol in 3 merges; unigram vocab
    // (N = 51 -> 12 bits) prices abab at 4000 as a single piece, which
    // beats ab·ab = 5000 -> every word is also ONE unigram piece.
    val docs =
      (1L to 3L).map(i => (i, "abab", "srcA")) ++
        (4L to 5L).map(i => (i, "ab", "srcA")) ++
        (6L to 10L).map(i => (i, "cd", "srcB"))
    docs.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    assert(fert(dir).toSeq == Seq(
      ("srcA", 5L, 16L, 5L, 5L, 1000L, 1000L),
      ("srcB", 5L, 10L, 5L, 5L, 1000L, 1000L)))
  }

  test("tokenizer_fertility universe is MaxWordLen-bounded: a >64-char " +
      "word counts in bpe_compression but not here") {
    val dir = tempDir("unil").toString
    import spark.implicits._
    // srcA: ab x5 plus ONE 65-char junk run (a x65). The junk word is
    // inside bpe_compression's unbounded universe (n_words = 6,
    // n_char_tokens = 10 + 65) but outside the trained MaxWordLen = 64
    // universe the fertility report measures (n_words = 5).
    val junk = "a" * 65
    val docs = (1L to 5L).map(i => (i, "ab")) ++ Seq((6L, junk))
    docs.map { case (id, t) => (id, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val f = fert(dir).toSeq
    assert(f.map(r => (r._1, r._2, r._3)) == Seq(("srcA", 5L, 10L)),
      s"fertility must exclude the $junk word: $f")
    val b = SparkEntry.queries("bpe_compression")(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_char_tokens"))).toSeq
    assert(b == Seq(("srcA", 6L, 75L)),
      s"bpe_compression's unbounded universe must keep it: $b")
  }

  test("tokenizer_fertility reconciles with bpe_compression on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val f = fert(dir).map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val b = SparkEntry.queries("bpe_compression")(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("n_char_tokens"),
          r.getAs[Long]("n_bpe_tokens")))).toMap
    assert(f == b, s"shared columns must match bpe_compression: $f vs $b")
    // the unigram column is a real partition of each word: at least one
    // piece per word, at most one per character
    for ((src, _, chars, _, uni, _, _) <- fert(dir)) {
      assert(uni >= f(src)._1 && uni <= chars, s"$src: $uni")
    }
  }

  private def wpRows(dir: String) =
    graft.SparkEntry.queries("wordpiece_greedy_audit")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getLong(5), r.getLong(6),
        r.getString(7), r.getLong(8), r.getBoolean(9)))

  test("wordpiece_greedy_audit ≡ oracle greedy + exhaustive Viterbi; excess ≥ 0") {
    val dir = "/root/testdata/sf0.001"
    val words = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("explode(split(text, ' ')) AS w").collect()
      .map(_.getString(0)).toSeq
    val (cost, bf) = UnigramTestOracle.train(words)
    val freq = UnigramTestOracle.universe(words)
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val expected = freq.toSeq.sortBy { case (w, f) => (-f, w) }.take(30)
      .map { case (w, f) =>
        val (gc, gn, gs) = UnigramTestOracle.greedy(w, cost)
        val (vc, vn, vs) = bf(w)
        (w, f, gn, gc, gs, vn, vc, vs, gc - vc, gc == vc)
      }
    val got = wpRows(dir)
    assert(got.toSeq == expected)
    assert(got.forall(_._9 >= 0L), "greedy must never beat the optimal DP")
  }

  test("wordpiece fixture: longest-match provably pays vs the DP") {
    val dir = tempDir("wp1").toString
    import spark.implicits._
    // 'park' is cheap (50 occurrences), 'spar' rare (only inside
    // 'spark'), and 's' is boosted far beyond 'spar' by the 'si' words —
    // so on 'spark' the greedy grabs the longest prefix (spar·k) while
    // the DP pays hb(s) ≫ hb(spar) less via s·park. Without the boost
    // the two splits tie exactly (cnt(s) = cnt(spar), cnt(k) = cnt(park))
    // and the encoded tie-break happens to pick the greedy's split.
    val docs = (1L to 50L).map(i => (i, "park")) ++
      (51L to 55L).map(i => (i, "spark")) ++
      (56L to 255L).map(i => (i, "si"))
    docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val words = docs.map(_._2)
    val (cost, bf) = UnigramTestOracle.train(words)
    val (gc, gn, gs) = UnigramTestOracle.greedy("spark", cost)
    val (vc, vn, vs) = bf("spark")
    assert(gs == "spar·k" && vs == "s·park" && gc > vc,
      s"fixture no longer separates the segmenters: $gs/$gc vs $vs/$vc")
    val row = wpRows(dir).find(_._1 == "spark").get
    assert(row._5 == "spar·k" && row._8 == "s·park")
    assert(row._9 == gc - vc && !row._10)
    // and on the word where they agree, the flag is true
    assert(wpRows(dir).find(_._1 == "park").get._10)
  }

  test("wordpiece_train_rounds ≡ plain-Scala likelihood-trainer recount") {
    import scala.collection.mutable
    val dir = "/root/testdata/sf0.001"
    val wf = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("explode(split(text, ' ')) AS w").collect()
      .map(_.getString(0))
      .filter(w => w.matches("^[a-z]+$") && w.length >= 2 && w.length <= 64)
      .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    var state: Map[String, (Long, Vector[String])] =
      wf.map { case (w, f) => w -> ((f, w.map(_.toString).toVector)) }.toMap
    val expected = (1 to 8).flatMap { round =>
      val pairCnt = mutable.Map.empty[(String, String), Long]
      val symCnt = mutable.Map.empty[String, Long]
      state.values.foreach { case (f, syms) =>
        syms.foreach(x => symCnt(x) = symCnt.getOrElse(x, 0L) + f)
        if (syms.length > 1) syms.sliding(2).foreach { p =>
          val k = (p(0), p(1))
          pairCnt(k) = pairCnt.getOrElse(k, 0L) + f
        }
      }
      if (pairCnt.isEmpty) None
      else {
        val scored = pairCnt.toSeq.map { case ((l, r), c) =>
          (l, r, c, symCnt(l), symCnt(r),
            c * 1000000000L / (symCnt(l) * symCnt(r)))
        }
        val (l, r, c, lc, rc, sc) =
          scored.minBy { case (l, r, _, _, _, sc) => (-sc, l, r) }
        // apply the merge leftmost-non-overlapping, like the fold
        state = state.map { case (w, (f, syms)) =>
          val out = mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              out += syms(i) + syms(i + 1); i += 2
            } else { out += syms(i); i += 1 }
          }
          w -> ((f, out.toVector))
        }
        Some((round, l, r, l + r, c, lc, rc, sc))
      }
    }
    val got = SparkEntry.queries("wordpiece_train_rounds")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toSeq
    assert(got == expected, s"got $got\nexpected $expected")
    assert(got.length == 8)
    // the likelihood criterion must actually diverge from BPE's count
    // argmax somewhere in 8 rounds, or this trainer is a renamed BPE
    val bpe = SparkEntry.queries("bpe_merge_rounds")(spark, dir)
      .collect().map(r => (r.getString(1), r.getString(2))).toSet
    assert(got.exists(m => !bpe.contains((m._2, m._3))),
      "all 8 WordPiece merges coincide with BPE's — criterion not exercised")
  }

  test("wordpiece_compression ≡ merge-replay recount per source") {
    import scala.collection.mutable
    val dir = "/root/testdata/sf0.001"
    // replay the published merge table (already pinned against the
    // independent trainer recount above) over per-(source, word) counts
    val merges = SparkEntry.queries("wordpiece_train_rounds")(spark, dir)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    def segLen(word: String): Long = {
      var syms = word.map(_.toString).toVector
      merges.foreach { case (l, r) =>
        val out = mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += syms(i) + syms(i + 1); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toVector
      }
      syms.length.toLong
    }
    val occ = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("coalesce(source, '') AS source",
        "explode(split(text, ' ')) AS w").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .filter { case (_, w) =>
        w.matches("^[a-z]+$") && w.length >= 2 && w.length <= 64 }
    val expected = occ.groupBy(_._1).map { case (src, ws) =>
      val words = ws.map(_._2)
      val chars = words.map(_.length.toLong).sum
      val wp = words.map(segLen).sum
      src -> ((words.length.toLong, chars, wp,
        (1000.0 * (chars - wp) / chars).floor.toLong))
    }
    val got = SparkEntry.queries("wordpiece_compression")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expected)
    // the merges must actually compress something somewhere
    assert(got.values.exists(_._4 > 0L))
  }

  test("trained WordPiece vocab lowers the greedy segmenter's excess vs the seed vocab") {
    val dir = "/root/testdata/sf0.001"
    val (seedExcess, seedSub) = UnigramOps.greedyExcessTotal(
      spark, dir, UnigramOps.vocabRel(spark, dir), "unigramViterbi")
    val (trainExcess, trainSub) = UnigramOps.greedyExcessTotal(
      spark, dir, UnigramOps.wordpieceVocabRel(spark, dir),
      "wordpieceTrained")
    // WordPiece's training criterion EXISTS to make longest-match-first
    // near-optimal: pieces enter the vocab only when their joint
    // likelihood dominates their parts, so grabbing the longest match is
    // rarely a mistake. The seed vocab (raw top-substring counts) gives
    // greedy no such guarantee.
    assert(trainExcess <= seedExcess,
      s"trained vocab excess $trainExcess > seed $seedExcess " +
        s"(suboptimal words: $trainSub vs $seedSub)")
    assert(seedExcess >= 0L && trainExcess >= 0L)
  }
}
