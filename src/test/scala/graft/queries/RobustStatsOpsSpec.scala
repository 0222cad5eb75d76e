package graft.queries

import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}

/** Hand-computed semantics for the robust-statistics operators: the
  * explicit percentile_cont interpolation formula and the median/MAD
  * outlier gate (including the MAD = 0 degenerate case). */
class RobustStatsOpsSpec extends SparkSpec {

  test("quartiles_cont: pos = 1 + q(n-1), boundary-value interpolation") {
    val dir = tempDir("quartcont").toString
    import spark.implicits._
    // priority P: cents 100..400 (n=4); priority Q: singleton 500
    (Seq((1L, 1.00, "P"), (2L, 2.00, "P"), (3L, 3.00, "P"), (4L, 4.00, "P"),
      (5L, 5.00, "Q")))
      .toDF("o_orderkey", "o_totalprice", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("quartiles_cont")(spark, dir).collect()
      .map(x => (x.getAs[String]("o_orderpriority"), x.getAs[Double]("q")) ->
        x.getAs[Double]("quantile_cents")).toMap
    // n=4: q=.25 → pos 1.75 → 100 + 100·0.75 = 175; q=.5 → 250; q=.75 → 325
    assert(r(("P", 0.25)) == 175.0)
    assert(r(("P", 0.5)) == 250.0)
    assert(r(("P", 0.75)) == 325.0)
    // singleton group: pos = 1, frac = 0, all quartiles the value itself
    assert(r(("Q", 0.25)) == 500.0 && r(("Q", 0.5)) == 500.0 &&
      r(("Q", 0.75)) == 500.0)
  }

  test("outlier_mad: lower-median MAD, 5x gate, MAD=0 degenerate group") {
    val dir = tempDir("outliermad").toString
    import spark.implicits._
    val ts = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000000L
    // type t: four identical values + one spike → MAD 0, spike flagged;
    // type u: symmetric spread → MAD 100, nothing beyond 5·MAD
    (Seq((1L, 1.00, "t"), (2L, 1.00, "t"), (3L, 1.00, "t"), (4L, 1.00, "t"),
      (5L, 10.00, "t"),
      (6L, 1.00, "u"), (7L, 2.00, "u"), (8L, 3.00, "u")))
      .map { case (id, v, et) => (id, ts, 1L, et, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("outlier_mad")(spark, dir).collect()
      .map(x => x.getAs[Long]("event_id") ->
        ((x.getAs[Long]("med_cents"), x.getAs[Long]("mad_cents"),
          x.getAs[Boolean]("is_outlier")))).toMap
    assert(r(1L) == ((100L, 0L, false)))
    assert(r(5L) == ((100L, 0L, true)))   // |1000-100| > 5·0
    assert(r(6L) == ((200L, 100L, false))) // |100-200| = 100 ≤ 500
    assert(r(7L) == ((200L, 100L, false)))
    assert(r(8L) == ((200L, 100L, false)))
  }
}
