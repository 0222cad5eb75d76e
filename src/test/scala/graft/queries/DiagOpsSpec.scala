package graft.queries

import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}

/** Hand-computed semantics for the diagnostics/sampling operators:
  * equi-depth tie handling, skew shares, debounce adjacency, stratum
  * rates, and per-group k caps. */
class DiagOpsSpec extends SparkSpec {

  private def writeEvents(rows: Seq[(Long, String, String)]): String = {
    val dir = tempDir("diagops").toString
    import spark.implicits._
    rows.zipWithIndex.map { case ((uid, et, ts), i) =>
      (i.toLong, Timestamp.valueOf(ts).getTime * 1000000L, uid, et, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  private def writeOrders(prices: Seq[Double]): String = {
    val dir = tempDir("diagops").toString
    import spark.implicits._
    prices.zipWithIndex.map { case (p, i) =>
      (i.toLong, i.toLong, "O", p, Timestamp.valueOf("2024-01-01 00:00:00"),
        "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    dir
  }

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val dir = tempDir("diagops").toString
    import spark.implicits._
    rows.map { case (id, lang) =>
      (id, s"doc $id", Option(lang).orNull, "src", 6L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("equi_depth_histogram: ties land in one bucket; counts conserve") {
    // 5×1.00 + 2.00 + 3.00 + 4.00 → n=8, B=8: value 1 has rank_before 0 →
    // bucket 0 (all 5 tied rows); 2.00 → rank 5 → bucket 5; 3 → 6; 4 → 7
    val dir = writeOrders(Seq(1.0, 1.0, 1.0, 1.0, 1.0, 2.0, 3.0, 4.0))
    val r = SparkEntry.queries("equi_depth_histogram")(spark, dir).collect()
      .map(x => (x.getAs[Long]("bucket"), x.getAs[Long]("lo_cents"),
        x.getAs[Long]("hi_cents"), x.getAs[Long]("n_rows")))
    assert(r.toSeq == Seq((0L, 100L, 100L, 5L), (5L, 200L, 200L, 1L),
      (6L, 300L, 300L, 1L), (7L, 400L, 400L, 1L)))
    assert(r.map(_._4).sum == 8L)
  }

  test("skew_profile: exact milli shares, heaviest first, key tiebreak") {
    val dir = writeEvents(
      Seq.fill(5)((1L, "view", "2024-01-01 09:00:00")) ++
        Seq.fill(3)((2L, "view", "2024-01-01 09:00:00")) ++
        Seq.fill(2)((3L, "view", "2024-01-01 09:00:00")))
    val r = SparkEntry.queries("skew_profile")(spark, dir).collect()
      .map(x => (x.getAs[Int]("rnk"), x.getAs[Long]("user_id"),
        x.getAs[Long]("n"), x.getAs[Long]("share_milli"),
        x.getAs[Long]("n_keys"), x.getAs[Long]("n_rows")))
    assert(r.toSeq == Seq((1, 1L, 5L, 500L, 3L, 10L),
      (2, 2L, 3L, 300L, 3L, 10L), (3, 3L, 2L, 200L, 3L, 10L)))
  }

  test("event_debounce: drops within 5 min of the PREVIOUS event, per (user,type)") {
    val dir = writeEvents(Seq(
      (1L, "view", "2024-01-01 09:00:00"), // keep (first)
      (1L, "view", "2024-01-01 09:02:00"), // drop (2 min after prev)
      (1L, "view", "2024-01-01 09:07:00"), // keep (5 min after PREV, kept or not)
      (1L, "click", "2024-01-01 09:02:30"), // keep (different type)
      (2L, "view", "2024-01-01 09:00:00"), // keep (different user)
      (2L, "view", "2024-01-01 09:00:00"))) // drop (duplicate ts, 0 < 5 min)
    val kept = SparkEntry.queries("event_debounce")(spark, dir).collect()
      .map(_.getAs[Long]("event_id")).toSeq
    assert(kept == Seq(0L, 2L, 3L, 4L))
  }

  test("event_debounce is idempotent: survivors are pairwise ≥ 5 min apart") {
    val dir = writeEvents((0 until 40).map(i =>
      (1L, "view", f"2024-01-01 09:${i % 60}%02d:${(i * 7) % 60}%02d")))
    val once = SparkEntry.queries("event_debounce")(spark, dir).collect()
      .map(_.getAs[Long]("event_id")).toSeq
    // re-apply on the survivors: write them back and debounce again
    val dir2 = tempDir("diagops").toString
    val surv = SparkEntry.queries("event_debounce")(spark, dir)
    import org.apache.spark.sql.functions._
    surv.select(col("event_id"),
        (unix_micros(col("ts")) * 1000).as("ts"), col("user_id"),
        col("event_type"), lit(1.0).as("value"), lit("{}").as("props"))
      .write.parquet(s"$dir2/events.parquet")
    val twice = SparkEntry.queries("event_debounce")(spark, dir2).collect()
      .map(_.getAs[Long]("event_id")).toSeq
    assert(once == twice)
  }

  test("stratified_sample: per-stratum rates; NULL lang takes the non-en rate") {
    val dir = writeDocs(
      (0L until 600L).map(i => (i, "en")) ++
        (600L until 800L).map(i => (i, "fr")) ++
        (800L until 900L).map(i => (i, null)))
    val r = SparkEntry.queries("stratified_sample")(spark, dir).collect()
      .map(x => (x.getAs[String]("lang"), x.getAs[Long]("n_total"),
        x.getAs[Long]("n_kept"), x.getAs[Long]("kept_milli"))).toSeq
    val byLang = r.map(x => x._1 -> x).toMap
    assert(r.map(_._2).sum == 900L)
    assert(byLang.keySet == Set("en", "fr", "??"))
    // md5 is uniform: en targets 4/16 = 250 milli, others 8/16 = 500 milli
    val en = byLang("en"); val fr = byLang("fr"); val nn = byLang("??")
    assert(en._4 > 150 && en._4 < 350, s"en rate ${en._4}")
    assert(fr._4 > 400 && fr._4 < 600, s"fr rate ${fr._4}")
    assert(nn._4 > 350 && nn._4 < 650, s"null-lang rate ${nn._4}")
    r.foreach { case (_, tot, kept, milli) =>
      assert(milli == kept * 1000 / tot)
    }
  }

  test("group_sample_k: exactly min(k, group size) rows per group, ranks 1..k") {
    val dir = writeDocs(
      (0L until 5L).map(i => (i, "en")) ++ (10L until 12L).map(i => (i, "fr")))
    val r = SparkEntry.queries("group_sample_k")(spark, dir).collect()
      .map(x => (x.getAs[String]("lang"), x.getAs[Long]("doc_id"),
        x.getAs[Int]("rk"))).toSeq
    assert(r.count(_._1 == "en") == 3)
    assert(r.count(_._1 == "fr") == 2)
    assert(r.filter(_._1 == "en").map(_._3).sorted == Seq(1, 2, 3))
    assert(r.filter(_._1 == "en").forall(_._2 < 5L))
    assert(r.filter(_._1 == "fr").forall(_._2 >= 10L))
  }

  test("error_zscore_hours: a planted spike flags; steady noise and warm-up hours don't") {
    // 30 hours: hours 0-28 at a steady 1-in-10 error rate (100 milli,
    // zero variance), hour 29 spikes to 6-in-10 — any deviation from a
    // constant history must flag under the strict > with sigma = 0
    val rows = (0 until 30).flatMap { h =>
      val errs = if (h == 29) 6 else 1
      (0 until 10).map { k =>
        (k.toLong, if (k < errs) "error" else "click",
          f"2024-01-01 ${h % 24}%02d:0${k % 6}:00") // wraps days via h/24
      }.map { case (u, et, _) =>
        (u, et, s"2024-01-0${1 + h / 24} ${"%02d".format(h % 24)}:00:0${u % 6}")
      }
    }
    val dir = writeEvents(rows)
    val out = SparkEntry.queries("error_zscore_hours")(spark, dir).collect()
    assert(out.length == 30)
    val flagged = out.filter(_.getAs[Boolean]("is_anomaly"))
      .map(_.getAs[Timestamp]("hour").toString).toSeq
    assert(flagged == Seq("2024-01-02 05:00:00.0"), s"flagged: $flagged")
    // warm-up: the first 12 hours can never flag (n_hist < 12)
    out.sortBy(_.getAs[Timestamp]("hour").getTime).take(12).foreach(r =>
      assert(!r.getAs[Boolean]("is_anomaly")))
  }

  test("join_size_probe: every prediction equals the join it predicts (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val spark0 = spark
    import spark0.implicits._
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val l = spark.read.parquet(s"$dir/lineitem.parquet")
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val actual = Map(
      "lineitem*orders" ->
        l.join(o, l("l_orderkey") === o("o_orderkey")).count(),
      "orders*customer" ->
        o.join(c, o("o_custkey") === c("c_custkey")).count(),
      "lineitem*lineitem_by_part" ->
        l.as("x").join(l.as("y"), $"x.l_partkey" === $"y.l_partkey").count())
    SparkEntry.queries("join_size_probe")(spark, dir).collect().foreach { r =>
      val rel = r.getAs[String]("relationship")
      assert(r.getAs[Long]("join_rows") == actual(rel),
        s"$rel: predicted ${r.getAs[Long]("join_rows")} != actual ${actual(rel)}")
      assert(r.getAs[Long]("max_key_rows") <= r.getAs[Long]("join_rows"))
    }
  }
}
