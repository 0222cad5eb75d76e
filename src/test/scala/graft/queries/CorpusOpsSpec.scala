package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Semantic edge cases for the corpus-prep operators (shard boundaries,
  * document-boundary overflow, per-source independence, bench/train
  * split) on a crafted documents table — the oracle gate checks the full
  * corpus, this pins the contracts. */
class CorpusOpsSpec extends SparkSpec {

  private def words(n: Int, w: String = "tok"): String =
    Seq.fill(n)(w).mkString(" ")

  private lazy val dir: String = {
    val d = tempDir("corpusops").toString
    import spark.implicits._
    Seq(
      // source A: exact boundary then straddle
      (0L, words(512), "en", "A", 0L),           // bench doc (0 % 97 == 0)
      (1L, words(512, "alpha"), "en", "A", 0L),  // starts 0 → shard 0
      (2L, words(1, "beta"), "en", "A", 0L),     // starts 512 → shard 1
      (3L, words(600, "gamma"), "en", "A", 0L),  // starts 513 → shard 1 (overflow)
      (4L, words(1, "delta"), "en", "A", 0L),    // starts 1113 → shard 2
      // source B packs independently from offset 0
      (5L, "tok tok tok extra words here", "en", "B", 0L),
      (6L, "unrelated totally different trigram text", "en", "B", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  test("pack_token_shards: boundary, overflow, per-source restart") {
    val out = SparkEntry.queries("pack_token_shards")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("start_offset"), r.getAs[Long]("shard_id"))).toMap
    assert(out(0L) == (0L, 0L))
    assert(out(1L) == (512L, 1L))
    assert(out(2L) == (1024L, 2L))
    assert(out(3L) == (1025L, 2L)) // straddles; never split
    assert(out(4L) == (1625L, 3L))
    assert(out(5L) == (0L, 0L))    // source B restarts at offset 0
    assert(out(6L) == (6L, 0L))
  }

  test("chunk_documents: stride windows, short tail, singleton doc") {
    val chunks = SparkEntry.queries("chunk_documents")(spark, dir)
      .collect()
      .groupBy(_.getAs[Long]("doc_id"))
    // doc 1 = 512 tokens: starts 0,48,…,480 → 11 chunks; all full except
    // the tail (512 − 480 = 32)
    val d1 = chunks(1L).sortBy(_.getAs[Long]("chunk_id"))
    assert(d1.length == 11)
    assert(d1.init.forall(_.getAs[Long]("n_chunk_tokens") == 64L))
    assert(d1.last.getAs[Long]("n_chunk_tokens") == 32L)
    assert(d1.head.getAs[String]("chunk_text").split(" ").length == 64)
    // doc 2 = 1 token: exactly one 1-token chunk
    val d2 = chunks(2L)
    assert(d2.length == 1 && d2.head.getAs[Long]("n_chunk_tokens") == 1L)
    assert(d2.head.getAs[String]("chunk_text") == "beta")
  }

  test("corpus invariants on sf0.001: packing is a per-source prefix sum; verdicts cover the train split") {
    val sf = "/root/testdata/sf0.001"
    val packed = SparkEntry.queries("pack_token_shards")(spark, sf).collect()
    // per source: offsets are the prefix sums of token counts in doc_id
    // order (equivalently: sorted by doc_id, each start_offset equals the
    // previous start_offset + previous n_tokens), and shards start at 0
    packed.groupBy(_.getAs[String]("source")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("doc_id"))
      sorted.foldLeft(0L) { (expected, r) =>
        assert(r.getAs[Long]("start_offset") == expected)
        expected + r.getAs[Long]("n_tokens")
      }
      assert(sorted.head.getAs[Long]("shard_id") == 0L)
      // shard ids never skip: consecutive docs advance by at most the
      // shards the earlier doc's tokens could span (ceil(tokens/512) + 1
      // covers a straddling start), and never go backward
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val delta = b.getAs[Long]("shard_id") - a.getAs[Long]("shard_id")
          val maxAdvance = (a.getAs[Long]("n_tokens") + 511) / 512 + 1
          assert(delta >= 0 && delta <= maxAdvance,
            s"shard jump $delta exceeds $maxAdvance")
        case _ => ()
      }
    }
    val verdicts = SparkEntry.queries("decontaminate_ngrams")(spark, sf).collect()
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // exactly the train split is scored, once each
    assert(verdicts.map(_.getAs[Long]("doc_id")).toSet ==
      corpus.filter(_ % 97 != 0))
    assert(verdicts.length == verdicts.map(_.getAs[Long]("doc_id")).distinct.length)
    // hits never exceed the doc's gram count
    verdicts.foreach { r =>
      assert(r.getAs[Long]("n_contaminated") <= r.getAs[Long]("n_grams"))
      assert(r.getAs[Boolean]("is_contaminated") ==
        (r.getAs[Long]("n_contaminated") >= 1))
    }
  }

  test("decontaminate_ngrams: bench doc excluded, trigram overlap flags train docs") {
    val out = SparkEntry.queries("decontaminate_ngrams")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_contaminated"), r.getAs[Boolean]("is_contaminated"))).toMap
    assert(!out.contains(0L)) // bench doc is not scored
    assert(out(1L) == (0L, false))  // "alpha…" shares no trigram with "tok…"
    assert(out(5L)._1 == 1L && out(5L)._2) // "tok tok tok" ∈ bench grams
    assert(out(6L) == (0L, false))
    // doc 2 has < 3 words → zero grams, still emitted as clean
    assert(out(2L) == (0L, false))
  }

  test("decontaminate_bloom: bit-identical to the exact query on real data") {
    val sf = "/root/testdata/sf0.001"
    val exact = SparkEntry.queries("decontaminate_ngrams")(spark, sf)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val bloom = SparkEntry.queries("decontaminate_bloom")(spark, sf)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(bloom.length == exact.length && bloom.nonEmpty)
    assert(bloom.sameElements(exact))
  }

  test("decontaminate_bloom: a saturated 64-bit bitmap still yields the exact result") {
    // 2^6 = 64 bits for hundreds of grams → near-every probe is a false
    // positive; the exact verify must remove all of them. This pins the
    // operator's contract: the bloom NEVER changes output, only join input
    // volume. (No false negatives is structural — build and probe share
    // the position expressions.)
    spark.conf.set("graft.bloom.log2bits", "6")
    try {
      val out = SparkEntry.queries("decontaminate_bloom")(spark, dir)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_contaminated"), r.getAs[Boolean]("is_contaminated"))).toMap
      assert(!out.contains(0L))
      assert(out(1L) == (0L, false))
      assert(out(5L)._1 == 1L && out(5L)._2)
      assert(out(6L) == (0L, false))
      assert(out(2L) == (0L, false))
    } finally spark.conf.unset("graft.bloom.log2bits")
  }

  test("vocab_growth_curve: saturating vs growing sources, decile cuts, running vocab") {
    val d = tempDir("vocabgrowth").toString
    import spark.implicits._
    // source SAT: 20 docs all drawn from the same 3-word vocabulary —
    // every word is first seen in decile 0, the curve flatlines.
    // source GROW: 20 docs, doc i introduces the fresh word w<i> (plus
    // the shared word "base") — every decile contributes exactly 2 new
    // words (2 docs per decile) except decile 0 which also debuts "base".
    val rows =
      (0 until 20).map(i => (i.toLong, "tok alpha beta", "en", "SAT", 0L)) ++
      (0 until 20).map(i => (100L + i, s"base w$i", "en", "GROW", 0L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("vocab_growth_curve")(spark, d).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("decile")) ->
        ((r.getAs[Long]("n_new_words"), r.getAs[Long]("cum_vocab")))).toMap
    // SAT: one row — all 3 words debut in decile 0, nothing after
    assert(out(("SAT", 0)) == ((3L, 3L)))
    assert(!out.contains(("SAT", 1)) && !out.contains(("SAT", 9)))
    // GROW: decile 0 debuts base + w0 + w1 = 3; every later decile adds 2
    assert(out(("GROW", 0)) == ((3L, 3L)))
    (1 until 10).foreach { dec =>
      assert(out(("GROW", dec))._1 == 2L, s"decile $dec")
    }
    assert(out(("GROW", 9)) == ((2L, 21L))) // 1 + 20 distinct words total
  }

  test("pack_padding_report: hand-computed waste under both policies; empty source NULLs") {
    // A: lens 512,512,1,600,1 → padded ctx 1+1+1+2+1=6, waste 3072−1626;
    //    packed ctx ⌈1626/512⌉=4, waste 2048−1626
    // B: lens 6,5 → padded ctx 2, waste 1013; packed ctx 1, waste 501
    val got = SparkEntry.queries("pack_padding_report")(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8)))).toMap
    assert(got == Map(
      "A" -> ((5L, 1626L, 6L, 1446L, 470L, 4L, 422L, 206L)),
      "B" -> ((2L, 11L, 2L, 1013L, 989L, 1L, 501L, 978L))))

    // a source of zero tokens (NULL text) reports zero contexts and NULL rates
    val d2 = tempDir("padnull").toString
    import spark.implicits._
    Seq((1L, null: String, "en", "Z", 0L), (2L, "", "en", "Z", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d2/documents.parquet")
    val z = SparkEntry.queries("pack_padding_report")(spark, d2).collect()
    assert(z.length == 1)
    val r = z.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(6), r.getLong(7)) == ((2L, 0L, 0L, 0L, 0L, 0L)))
    assert(r.isNullAt(5) && r.isNullAt(8))
  }

  test("corpus_balance_langs: integer-coin keep rule, dominant lang sampled down") {
    val d = tempDir("balance").toString
    import spark.implicits._
    // en dominates 40:10 — target is min/2 = 5 expected per lang, so the
    // en keep odds are 1/16 and de's are 1/2
    ((0 until 40).map(i => (i.toLong, "w", "en", "src0", 1L)) ++
      (0 until 10).map(i => (100L + i, "w", "de", "src0", 1L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("corpus_balance_langs")(spark, d).collect()
    // replicate the coin rule row-by-row: kept ⟺ 2·u24·cnt < min·2^24
    val cnt = Map("en" -> 40L, "de" -> 10L)
    out.foreach { r =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(r.getAs[Long]("doc_id").toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val coin = java.lang.Long.parseLong(h.take(6), 16)
      assert(r.getAs[Long]("coin") == coin)
      assert(2L * coin * cnt(r.getAs[String]("lang")) < 10L * (1L << 24))
    }
    // the dominant language must not dominate the sample: its keep rate is
    // 1/16 vs de's 1/2, deterministic given the md5 coins
    val byLang = out.groupBy(_.getAs[String]("lang")).view.mapValues(_.length).toMap
    assert(byLang.getOrElse("en", 0) <= 10, byLang.toString)
    assert(byLang.getOrElse("de", 0) >= 2, byLang.toString)
    // determinism: a second run yields the identical kept set
    val again = SparkEntry.queries("corpus_balance_langs")(spark, d).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq ==
      again.map(_.getAs[Long]("doc_id")).toSeq)
  }

  test("pack_length_sweep fixture: hand-computed grid; policy directions") {
    val d = tempDir("lensweep").toString
    import spark.implicits._
    Seq(3, 512, 700, 9000).zipWithIndex.map { case (k, i) =>
      (i.toLong, Seq.fill(k)("w").mkString(" "), "en", "s", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val got = SparkEntry.queries("pack_length_sweep")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8))).toSeq
    // n_tokens = 10215; e.g. at L=512: pad ⌈3/512⌉+1+⌈700/512⌉+⌈9000/512⌉
    // = 22 contexts wasting 1049 of 11264 (93‰); concat ⌈10215/512⌉ = 20
    // (2‰); truncation cuts 2 docs, 8676 of 10215 tokens (849‰)
    assert(got == Seq(
      (512L, 4L, 10215L, 22L, 93L, 20L, 2L, 2L, 849L),
      (2048L, 4L, 10215L, 8L, 376L, 5L, 2L, 1L, 680L),
      (8192L, 4L, 10215L, 5L, 750L, 2L, 376L, 1L, 79L)))
  }

  test("pack_length_sweep ≡ recount on sf0.001; monotone policy curves") {
    val dir = "/root/testdata/sf0.001"
    val ns = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("text").collect()
      .map(r => Option(r.getAs[String]("text")).getOrElse("")
        .split(" ").count(_.nonEmpty).toLong)
    val tot = ns.sum
    val expected = CorpusOps.packLenGrid.map { l =>
      val pad = ns.map(n => (n + l - 1) / l).sum
      val packed = (tot + l - 1) / l
      val tr = ns.filter(_ > l)
      (l, ns.length.toLong, tot, pad,
        1000L * (pad * l - tot) / (pad * l), packed,
        1000L * (packed * l - tot) / (packed * l),
        tr.length.toLong, 1000L * tr.map(_ - l).sum / tot)
    }
    val got = SparkEntry.queries("pack_length_sweep")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8))).toSeq
    assert(got == expected)
    // the decision directions the sweep exists to show: pad waste grows
    // with L, truncation loss and concat contexts shrink
    val byL = got.sortBy(_._1)
    assert(byL.map(_._5) == byL.map(_._5).sorted)
    assert(byL.map(_._9) == byL.map(_._9).sorted.reverse)
    assert(byL.map(_._6) == byL.map(_._6).sorted.reverse)
  }

  test("temperature_sample_audit ≡ coin recount from the pinned weights rows") {
    val dir = "/root/testdata/sf0.001"
    val boost = SparkEntry.queries("temperature_mix_weights")(spark, dir)
      .collect().map(r => r.getAs[String]("source") ->
        (if (r.isNullAt(r.fieldIndex("boost_milli"))) 1000L
         else r.getAs[Long]("boost_milli"))).toMap
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "source").collect()
      .map(r => (r.getAs[Long]("doc_id"),
        Option(r.getAs[String]("source")).getOrElse("")))
    def u24(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(6), 16)
    val expected = docs.groupBy(_._2).map { case (src, ds) =>
      val b = boost(src)
      val extra = ds.count(d => u24(d._1) % 1000L < b % 1000L).toLong
      val out = (b / 1000L) * ds.size + extra
      (src, ds.size.toLong, b, out, extra, 1000L * out / ds.size)
    }.toSet
    val got = SparkEntry.queries("temperature_sample_audit")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("temperature sampler fixture: heavy source down, light source up") {
    val d = tempDir("tsample").toString
    import spark.implicits._
    // heavy: 90 docs x 4 tokens = 360 tokens; light: 10 x 4 = 40.
    // sqrt flattening: rt = 18 / 6 -> t = 750 / 250 vs p = 900 / 100,
    // so boost = 833 (heavy, sampled DOWN via coins alone: k=0) and
    // 2500 (light, 2 whole copies + a 500-milli coin)
    ((1 to 90).map(i => (i.toLong, "a b c d", "en", "heavy", 0L)) ++
      (1 to 10).map(i => (200L + i, "a b c d", "en", "light", 0L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val got = SparkEntry.queries("temperature_sample_audit")(spark, d)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    assert(got("heavy")._2 == 833L && got("light")._2 == 2500L)
    // heavy emits only coin-accepted fractionals; light emits 2 whole
    // copies per doc plus its fractional acceptances
    assert(got("heavy")._3 == got("heavy")._4)
    assert(got("light")._3 == 2L * 10L + got("light")._4)
    // the flattening direction: heavy under-emits, light over-emits
    assert(got("heavy")._3 < 90L && got("light")._3 > 10L)
  }

  test("mix_upsample: per-source epoch factor repeats docs with epoch index") {
    val d = tempDir("upsample").toString
    import spark.implicits._
    Seq((1L, "a", "en", "src2", 1L),   // 2 % 3 + 1 = 3 epochs
      (2L, "b", "en", "src3", 1L),     // 3 % 3 + 1 = 1 epoch
      (3L, "c", "en", "src10", 1L),    // 10 % 3 + 1 = 2 epochs
      // outside the srcN convention: ANSI cast would throw — must degrade
      // to the 1-epoch default instead
      (4L, "d", "en", "weird-catalog", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("mix_upsample")(spark, d).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("epochs"), r.getAs[Int]("epoch")))
    assert(out.toSeq == Seq((1L, 3, 0), (1L, 3, 1), (1L, 3, 2),
      (2L, 1, 0), (3L, 2, 0), (3L, 2, 1), (4L, 1, 0)))
  }

  test("line_dedup: corpus-wide first occurrence, in-doc repeats, full-dup doc") {
    val d = tempDir("linededup").toString
    import spark.implicits._
    val oct = "a b c d e f g h" // exactly one 8-token chunk
    Seq(
      (0L, s"$oct $oct", "en", "s", 0L),   // 2 chunks, 2nd is an in-doc repeat
      (1L, s"$oct x", "en", "s", 0L),      // chunk 1 dup of doc 0; "x" fresh
      (2L, "fresh words only", "en", "s", 0L),
      (3L, oct, "en", "s", 0L))            // every chunk seen before → emptied
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val r = SparkEntry.queries("line_dedup")(spark, d).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_chunks"), x.getAs[Long]("n_kept"),
          x.getAs[String]("text_clean")))).toMap
    assert(r(0L) == ((2L, 1L, oct)))
    assert(r(1L) == ((2L, 1L, "x")))
    assert(r(2L) == ((1L, 1L, "fresh words only")))
    assert(r(3L) == ((1L, 0L, "")))
  }

  test("vocab_topk: count-desc/token tiebreak rank, cumulative milli share") {
    val d = tempDir("vocab").toString
    import spark.implicits._
    Seq((0L, "a a b", "en", "s", 0L), (1L, "b c", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val r = SparkEntry.queries("vocab_topk")(spark, d).collect()
      .map(x => (x.getAs[String]("token"), x.getAs[Long]("cnt"),
        x.getAs[Long]("rank"), x.getAs[Long]("cum_milli")))
    // total 5 tokens: a×2 (cum 2/5=400), b×2 (4/5=800), c×1 (5/5=1000)
    assert(r.toSeq == Seq(("a", 2L, 1L, 400L), ("b", 2L, 2L, 800L),
      ("c", 1L, 3L, 1000L)))
  }

  test("target_affinity_resample: hand-computed affinities and per-source keep ranks") {
    val dir = tempDir("affinity").toString
    import spark.implicits._
    // word stats with doc 4 present: aa cnt_r=3 cnt_t=1, bb cnt_r=2 cnt_t=1,
    // zz/yy cnt_r=1 cnt_t=0
    val rows: Seq[(Long, String, String, String)] = Seq(
      (1L, "aa bb", "en", "s1"),   // aff = 1000*(1+1)//(3+2) = 400
      (2L, "aa bb", "fr", "s1"),   // same words → 400, ranks after doc 1
      (3L, "zz yy", "fr", "s1"),   // aff 0
      (4L, "aa", null, "s2"),      // NULL lang: contributes 0 target mass; 333
      (5L, "", "en", "s1"),        // empty → no words → excluded
      (6L, null, "en", "s1"))      // NULL text → excluded
    rows.map { case (id, t, l, src) => (id, t, l, src, 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("target_affinity_resample")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("source"), r.getAs[Long]("n_words"),
          r.getAs[Long]("affinity_milli"), r.getAs[Boolean]("keep")))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    assert(out(1L) == (("s1", 2L, 400L, true)))   // rk 1 of 3 → keep
    assert(out(2L) == (("s1", 2L, 400L, true)))   // rk 2 of 3 → keep (ceil half)
    assert(out(3L) == (("s1", 2L, 0L, false)))    // rk 3 of 3 → dropped
    assert(out(4L) == (("s2", 1L, 333L, true)))   // sole doc of its source
  }

  test("bloom_fpr_sweep ≡ plain-Scala membership replay; no false " +
    "negatives at any width; FPR falls with width") {
    val dir = "/root/testdata/sf0.001"
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def u32(x: String): Long =
      java.lang.Long.parseLong(md5hex(x).take(8), 16)
    def trigrams(text: String): Seq[String] = {
      val w = Option(text).getOrElse("").split(" ", -1)
      if (w.length < 3) Seq.empty
      else (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}")
    }
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .filter(!_.isNullAt(0))
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1)))
    val bench = d.filter(_._1 % 97 == 0)
      .flatMap(x => trigrams(x._2).distinct).toSet
    val tOnly = d.filter(_._1 % 97 != 0)
      .flatMap(x => trigrams(x._2).distinct).toSet -- bench
    val expected = CorpusOps.bloomSweepGrid.map { b =>
      val m = 1L << b
      val occ = bench.flatMap(g => (0 to 3).map(h => u32(s"bf$h:$g") % m))
      def hits(g: String) = (0 to 3).forall(h => occ(u32(s"bf$h:$g") % m))
      val nFp = tOnly.count(hits).toLong
      // the per-stage-capped (kn/m)^4 ladder — exact and overflow-free
      def bound(n: Long, mm: Long): Long = {
        var bb = 1000000L
        for (_ <- 0 until 4) bb = math.min(1000000L, bb * (4 * n) / mm)
        bb
      }
      b.toLong -> ((m, bench.size.toLong, occ.size.toLong,
        1000L * occ.size / m, tOnly.size.toLong, nFp,
        if (tOnly.nonEmpty) 1000000L * nFp / tOnly.size else 0L,
        bound(bench.size.toLong, m),
        bench.forall(hits)))
    }.toMap
    val got = SparkEntry.queries("bloom_fpr_sweep")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8), r.getBoolean(9)))).toMap
    assert(got == expected)
    // the theorem and the calibration story
    assert(got.values.forall(_._9), "false negative — bloom theorem broken")
    val fprs = CorpusOps.bloomSweepGrid.map(b => got(b.toLong)._7)
    assert(fprs == fprs.sorted.reverse, "FPR must fall as width grows")
  }
}
