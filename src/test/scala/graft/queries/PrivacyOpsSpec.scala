package graft.queries

import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}

/** Hand-computed semantics for the privacy + repetition operators (the
  * oracle proves engine-equivalence; these pin the intended MEANING on
  * values small enough to check by hand). */
class PrivacyOpsSpec extends SparkSpec {

  // driver layout: events.ts is stored as int64 NANOSECONDS (Util.t reads
  // it with nanosAsLong and rescales to micros) — mirror that here
  private def writeEvents(rows: Seq[(Long, Timestamp, Long, String, Double, String)]): String = {
    val dir = tempDir("privops").toString
    import spark.implicits._
    rows.map { case (id, ts, uid, et, v, p) =>
      (id, ts.getTime * 1000000L, uid, et, v, p)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("pii_anonymize: tokens salted, hour generalized, cents-exact bucket, props scrubbed") {
    val ts = Timestamp.valueOf("2024-03-05 10:47:13")
    val dir = writeEvents(Seq((7L, ts, 13L, "click", 185.22, """{"k": 87}""")))
    val r = SparkEntry.queries("pii_anonymize")(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    def md5p(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString.take(16)
    }
    assert(row.getAs[String]("event_token") == md5p("esalt:7"))
    assert(row.getAs[String]("user_token") == md5p("usalt:13"))
    // direct identifiers must NOT survive in any column
    assert(!row.toSeq.map(String.valueOf).exists(v => v == "7" || v == "13"))
    assert(row.getAs[Timestamp]("ts_hour") == Timestamp.valueOf("2024-03-05 10:00:00"))
    // 185.22 -> 18522 cents -> bucket 1 -> 100
    assert(row.getAs[Long]("value_bucket") == 100L)
    assert(row.getAs[String]("props_scrubbed") == """{"k": 0}""")
  }

  test("value_bucket floors toward -inf on negative values (not truncate)") {
    val ts = Timestamp.valueOf("2024-03-05 10:47:13")
    val dir = writeEvents(Seq(
      (1L, ts, 10L, "refund", -185.22, "{}"),   // -18522c -> floor -2 -> -200
      (2L, ts, 11L, "refund", -100.00, "{}"),   // -10000c -> exactly -1 -> -100
      (3L, ts, 12L, "click", 185.22, "{}")))    //  18522c -> floor  1 ->  100
    val r = SparkEntry.queries("pii_anonymize")(spark, dir).collect()
      .map(x => x.getAs[String]("event_type") -> x.getAs[Long]("value_bucket"))
    assert(r.toSet == Set("refund" -> -200L, "refund" -> -100L, "click" -> 100L))
  }

  test("k_anonymity_audit: group size per generalized quasi-identifier, k=5 gate") {
    val h = Timestamp.valueOf("2024-03-05 10:00:00")
    def at(min: Int) = Timestamp.valueOf(f"2024-03-05 10:$min%02d:00")
    // six clicks in the same (hour, type, bucket) + one lonely error
    val dir = writeEvents(
      (1 to 6).map(i => (i.toLong, at(i), 100L + i, "click", 150.0, "{}")) :+
        (9L, at(30), 999L, "error", 950.0, "{}"))
    val r = SparkEntry.queries("k_anonymity_audit")(spark, dir).collect()
      .map(x => (x.getAs[String]("event_type"), x.getAs[Long]("n"),
        x.getAs[Boolean]("k_ok"))).toSet
    assert(r == Set(("click", 6L, true), ("error", 1L, false)))
  }

  test("text_repetition: Gopher 2-gram/3-gram shares on hand-checked docs") {
    val dir = tempDir("textrep").toString
    import spark.implicits._
    Seq(
      // "a a a a": top 2-gram "a a" x3 -> 2*3/4 = 1500 milli;
      // 3-gram "a a a" x2 -> 2*3 tokens/4 = 1500 milli -> drop
      (0L, "a a a a", "en", "src0", 7L),
      // 12 distinct words: every gram unique -> top2 2/12 = 166 milli,
      // dup3 = 0 -> keep
      (1L, "b c d e f g h i j k l m", "en", "src0", 23L),
      // gram-less doc (1 word): must still be reported, not dropped
      (2L, "solo", "en", "src0", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("text_repetition")(spark, dir).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Int]("n_tokens"), x.getAs[Long]("top2gram_milli"),
          x.getAs[Long]("dup3gram_milli"), x.getAs[Boolean]("keep")))).toMap
    assert(r(0L) == ((4, 1500L, 1500L, false)))
    assert(r(1L) == ((12, 166L, 0L, true)))
    assert(r(2L) == ((1, 0L, 0L, true)))
  }

  test("l_diversity_audit: distinct sensitive values, NULL-as-'' bucket, top share") {
    val ts = Timestamp.valueOf("2024-03-05 10:05:00")
    val ts2 = Timestamp.valueOf("2024-03-05 11:05:00")
    val ts3 = Timestamp.valueOf("2024-03-05 12:05:00")
    // all value 10.0 → bucket 0: groups split only by hour
    val dir = writeEvents(Seq(
      // hour 10: three distinct types → l=3, top 1/3
      (1L, ts, 1L, "click", 10.0, "{}"),
      (2L, ts, 2L, "view", 10.0, "{}"),
      (3L, ts, 3L, "buy", 10.0, "{}"),
      // hour 11: homogeneous → l=1, top 1000
      (4L, ts2, 4L, "click", 10.0, "{}"),
      (5L, ts2, 5L, "click", 10.0, "{}"),
      (6L, ts2, 6L, "click", 10.0, "{}"),
      (7L, ts2, 7L, "click", 10.0, "{}"),
      // hour 12: NULL type buckets as '' and counts as a real value
      (8L, ts3, 8L, null, 10.0, "{}"),
      (9L, ts3, 9L, "click", 10.0, "{}")))
    val r = SparkEntry.queries("l_diversity_audit")(spark, dir).collect()
      .map(x => x.getAs[Timestamp]("ts_hour") ->
        ((x.getAs[Long]("n"), x.getAs[Long]("l_distinct"),
          x.getAs[Boolean]("l_ok"), x.getAs[Long]("top_share_milli")))).toMap
    assert(r(Timestamp.valueOf("2024-03-05 10:00:00")) == ((3L, 3L, true, 333L)))
    assert(r(Timestamp.valueOf("2024-03-05 11:00:00")) == ((4L, 1L, false, 1000L)))
    assert(r(Timestamp.valueOf("2024-03-05 12:00:00")) == ((2L, 2L, false, 500L)))
  }

  test("t_closeness_audit: hand-computed ordered EMD — skewed group " +
    "fails t, prior-matching group has EMD 0") {
    val ts = Timestamp.valueOf("2024-03-05 10:05:00")
    // value buckets: 50.0 → 0, 250.0 → 200. Global dist {0: 3, 200: 3}.
    val dir = writeEvents(Seq(
      (1L, ts, 1L, "A", 50.0, "{}"), (2L, ts, 2L, "A", 50.0, "{}"),
      (3L, ts, 3L, "B", 250.0, "{}"), (4L, ts, 4L, "B", 250.0, "{}"),
      (5L, ts, 5L, "C", 50.0, "{}"), (6L, ts, 6L, "C", 250.0, "{}")))
    val r = SparkEntry.queries("t_closeness_audit")(spark, dir).collect()
      .map(x => x.getAs[String]("event_type") ->
        ((x.getAs[Long]("n"), x.getAs[Long]("m_buckets"),
          x.getAs[Long]("emd_micro"), x.getAs[Boolean]("emd_ok"),
          x.getAs[Boolean]("t_ok")))).toMap
    // group A: p = (1, 0) vs q = (½, ½): cum diffs (½, 0) → EMD = ½
    assert(r("A") == ((2L, 2L, 500000L, true, false)))
    assert(r("B") == ((2L, 2L, 500000L, true, false)))
    // group C matches the prior exactly → EMD 0, passes t
    assert(r("C") == ((2L, 2L, 0L, true, true)))
    assert(r.size == 3)
  }

  test("t_closeness_audit: NULL values order first as their own bucket; " +
    "laws hold on the real corpus") {
    val ts = Timestamp.valueOf("2024-03-05 10:05:00")
    // global {null: 1, 0: 1}; group D holds the null, group E the 50.0
    val dir = writeEvents(Seq(
      (1L, ts, 1L, "D", Double.NaN, "{}"),
      (2L, ts, 2L, "E", 50.0, "{}")))
    // NaN round-trips as a non-null double; rewrite row 1 with a true NULL
    import spark.implicits._
    Seq((1L, ts.getTime * 1000000L, 1L, "D", Option.empty[Double], "{}"),
      (2L, ts.getTime * 1000000L, 2L, "E", Some(50.0), "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("t_closeness_audit")(spark, dir).collect()
      .map(x => x.getAs[String]("event_type") ->
        ((x.getAs[Long]("m_buckets"), x.getAs[Long]("emd_micro")))).toMap
    // two buckets (sentinel + 0), each group fully skewed → EMD ½
    assert(r("D") == ((2L, 500000L)))
    assert(r("E") == ((2L, 500000L)))
    // real corpus: EMD ≥ 0 everywhere and verdicts are non-degenerate
    val real = SparkEntry.queries("t_closeness_audit")(
      spark, "/root/testdata/sf0.001").collect()
    assert(real.nonEmpty)
    assert(real.forall(_.getAs[Boolean]("emd_ok")))
  }

  test("dp_histogram_release ≡ plain-Scala Laplace mechanism replay; " +
    "noise shrinks with budget; bound and sign laws") {
    val dir = "/root/testdata/sf0.001"
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def u32(x: String): Long =
      java.lang.Long.parseLong(md5hex(x).take(8), 16)
    val lgMicro = graft.queries.SketchOps.lgJvm(1000000L)
    val hist = spark.read.parquet(s"$dir/events.parquet")
      .selectExpr("coalesce(event_type, '') AS et").collect()
      .groupBy(_.getString(0)).view.mapValues(_.length.toLong).toMap
    val expected = hist.toSeq.sortBy(_._1).flatMap { case (et, n) =>
      val u = u32(s"dp:$et") % 1000000L
      val tMicro = math.max(1L, 1000000L - 2L * math.abs(u - 500000L))
      PrivacyOps.dpEpsGrid.map { eps =>
        val absN = (lgMicro - graft.queries.SketchOps.lgJvm(tMicro)) *
          693147L / eps
        val noise = if (u >= 500000L) absN else -absN
        val bound = lgMicro * 693147L / eps
        (et, eps, n, u, noise, n * 1000000L + noise, bound,
          absN <= bound)
      }
    }
    val got = SparkEntry.queries("dp_histogram_release")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getBoolean(7))).toSeq
    assert(got == expected)
    val rows = SparkEntry.queries("dp_histogram_release")(spark, dir)
      .collect()
    // every row passes both pinned laws
    assert(rows.forall(_.getAs[Boolean]("bound_ok")))
    assert(rows.forall(_.getAs[Boolean]("mono_ok")))
    // the mechanism genuinely calibrates: per bin, |noise| at ε = 0.1 is
    // strictly larger than at ε = 2.0 (20× budget), same draw
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val byEps = rs.map(r => r.getLong(1) -> math.abs(r.getLong(4))).toMap
      assert(byEps(100L) > byEps(2000L),
        s"noise did not shrink with budget: $byEps")
    }
    // the release moved every count (noise is never exactly 0 on these
    // draws — the mechanism demonstrably fired)
    assert(rows.forall(r =>
      r.getLong(5) != r.getLong(2) * 1000000L))
  }

  test("dp_topk_release ≡ plain-Scala Gumbel/exponential-mechanism " +
    "replay; probabilities sum to ~1 and concentrate with budget") {
    val dir = "/root/testdata/sf0.001"
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def u32(x: String): Long =
      java.lang.Long.parseLong(md5hex(x).take(8), 16)
    val lg = graft.queries.SketchOps.lgJvm _
    val lgMicro = lg(1000000L)
    val lgNano = lg(1000000000L)
    val hist = spark.read.parquet(s"$dir/events.parquet")
      .selectExpr("coalesce(event_type, '') AS et").collect()
      .groupBy(_.getString(0)).view.mapValues(_.length.toLong).toMap
    val expected = PrivacyOps.dpEpsGrid.flatMap { eps =>
      val nMax = hist.values.max
      val rows = hist.toSeq.map { case (et, n) =>
        val u = math.max(1L, u32(s"dptk:$et") % 1000000L)
        val lnu = math.max(1L, (lgMicro - lg(u)) * 693147L)
        val g = (lgNano - lg(lnu)) * 693147L
        val score = eps * n * 500L + (g + PrivacyOps.gumbelShiftNano) / 1000L
        val mag = eps * (nMax - n) * 500L
        val l2 = mag * 1000L / 693147L
        val w = if (l2 >= 20000L) 0L
          else 1000000000L / ((1000L + l2 % 1000L) * (1L << (l2 / 1000L).toInt))
        (et, n, u, g, score, w)
      }
      val wSum = rows.map(_._6).sum
      val ranked = rows.sortBy { case (et, _, _, _, score, _) => (-score, et) }
        .zipWithIndex.map { case (r, i) => (r, i + 1L) }
      ranked.sortBy(_._1._1).map { case ((et, n, u, g, score, w), rk) =>
        (et, eps, n, u, g, score,
          if (rk <= PrivacyOps.dpTopK) Some(rk) else None,
          w, w * 1000000L / wSum)
      }
    }
    val got = SparkEntry.queries("dp_topk_release")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getLong(6)),
        r.getLong(7), r.getLong(8))).toSeq
    assert(got == expected)
    val rows = SparkEntry.queries("dp_topk_release")(spark, dir).collect()
    assert(rows.forall(_.getAs[Boolean]("prob_sum_ok")))
    assert(rows.forall(_.getAs[Boolean]("mono_ok")))
    assert(rows.forall(_.getAs[Boolean]("g_ok")))
    // exactly k selected per ε, ranks 1..k
    rows.groupBy(_.getLong(1)).foreach { case (_, rs) =>
      val sel = rs.filter(!_.isNullAt(6)).map(_.getLong(6)).sorted
      assert(sel.toSeq == (1L to PrivacyOps.dpTopK).toSeq)
    }
    // the mechanism concentrates: the argmax-count bin's selection
    // probability is strictly larger at ε = 2.0 than at ε = 0.1
    val nMax = rows.map(_.getLong(2)).max
    val topByEps = rows.filter(_.getLong(2) == nMax)
      .groupBy(_.getLong(1)).view.mapValues(_.head.getLong(8)).toMap
    assert(topByEps(2000L) > topByEps(100L),
      s"selection probability did not concentrate: $topByEps")
    // probabilities are a genuine distribution: every bin got mass > 0
    // at the smallest ε (weights under-resolve only past l2 >= 20000)
    assert(rows.filter(_.getLong(1) == 100L).forall(_.getLong(8) >= 0L))
  }
}
