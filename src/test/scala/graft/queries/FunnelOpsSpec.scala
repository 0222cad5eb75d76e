package graft.queries

import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}

/** Hand-computed semantics for the event-analytics operators: funnel step
  * ordering (strictly-after contract) and weekly cohort/offset math. */
class FunnelOpsSpec extends SparkSpec {

  // events.ts is int64 nanoseconds in the driver layout (see PrivacyOpsSpec)
  private def writeEvents(rows: Seq[(Long, String, String)]): String = {
    val dir = tempDir("funnelops").toString
    import spark.implicits._
    rows.zipWithIndex.map { case ((uid, et, ts), i) =>
      (i.toLong, Timestamp.valueOf(ts).getTime * 1000000L, uid, et, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("event_funnel: steps count only strictly-after first occurrences") {
    val dir = writeEvents(Seq(
      // user 1: full ordered funnel
      (1L, "signup", "2024-01-01 09:00:00"),
      (1L, "view", "2024-01-01 10:00:00"),
      (1L, "click", "2024-01-01 11:00:00"),
      (1L, "purchase", "2024-01-01 12:00:00"),
      // user 2: view BEFORE signup only → stops at signup
      (2L, "view", "2024-01-01 08:00:00"),
      (2L, "signup", "2024-01-01 09:00:00"),
      // user 3: signup → view → purchase (no click) → stops at view
      (3L, "signup", "2024-01-01 09:00:00"),
      (3L, "view", "2024-01-01 10:00:00"),
      (3L, "purchase", "2024-01-01 11:00:00")))
    val r = SparkEntry.queries("event_funnel")(spark, dir).collect()
      .map(x => (x.getAs[String]("step"), x.getAs[Long]("n_users"),
        x.getAs[Long]("conv_milli")))
    assert(r.toSeq == Seq(("1_signup", 3L, 1000L), ("2_view", 2L, 666L),
      ("3_click", 1L, 333L), ("4_purchase", 1L, 333L)))
  }

  test("scd2_intervals: gaps-and-islands runs, duplicate-ts tiebreak, current flag") {
    val dir = writeEvents(Seq(
      // user 1: A A B A → runs [A×2][B][A]; the return to A is a NEW run
      (1L, "A", "2024-01-01 09:00:00"),
      (1L, "A", "2024-01-01 10:00:00"),
      (1L, "B", "2024-01-01 11:00:00"),
      (1L, "A", "2024-01-01 12:00:00"),
      // user 2: two runs starting at the SAME ts (duplicate timestamps) —
      // event_id order decides run order deterministically
      (2L, "X", "2024-01-02 09:00:00"),
      (2L, "Y", "2024-01-02 09:00:00")))
    val r = SparkEntry.queries("scd2_intervals")(spark, dir).collect()
      .map(x => (x.getAs[Long]("user_id"), x.getAs[String]("event_type"),
        x.getAs[Timestamp]("valid_from").toString.take(19),
        Option(x.getAs[Timestamp]("valid_to")).map(_.toString.take(19)),
        x.getAs[Long]("n_events"), x.getAs[Boolean]("is_current")))
    val u1 = r.filter(_._1 == 1L).toSeq
    assert(u1 == Seq(
      (1L, "A", "2024-01-01 09:00:00", Some("2024-01-01 11:00:00"), 2L, false),
      (1L, "B", "2024-01-01 11:00:00", Some("2024-01-01 12:00:00"), 1L, false),
      (1L, "A", "2024-01-01 12:00:00", None, 1L, true)))
    val u2 = r.filter(_._1 == 2L).map(x => (x._2, x._4, x._6)).toSet
    // X (earlier event_id) closes at Y's start; Y is current
    assert(u2 == Set(("X", Some("2024-01-02 09:00:00"), false),
      ("Y", None, true)))
  }

  test("cohort_retention: Monday-week cohorts, floored 7-day offsets") {
    val dir = writeEvents(Seq(
      // user 1 first event Wed Jan 3 → cohort week Mon Jan 1;
      // active again Jan 12 → 11 days from week start → offset 1
      (1L, "view", "2024-01-03 10:00:00"),
      (1L, "click", "2024-01-12 10:00:00"),
      // user 2 first event Wed Jan 10 → cohort week Mon Jan 8, offset 0
      (2L, "view", "2024-01-10 10:00:00")))
    val r = SparkEntry.queries("cohort_retention")(spark, dir).collect()
      .map(x => (x.getAs[Timestamp]("cohort_week").toString.take(10),
        x.getAs[Long]("week_offset"), x.getAs[Long]("n_users")))
    assert(r.toSeq == Seq(("2024-01-01", 0L, 1L), ("2024-01-01", 1L, 1L),
      ("2024-01-08", 0L, 1L)))
  }
}
