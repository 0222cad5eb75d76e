package graft.queries

import graft.{SparkEntry, SparkSpec}

/** ANSI-mode poison battery for the events-table query surface — the
  * DocPoisonSpec treatment applied to the log side: a real event stream
  * carries NULL values/props/types/timestamps/users, duplicate ids,
  * negative and huge amounts, unicode types, and malformed JSON. Every
  * operator must return (any rows) rather than throw under Spark 4's ANSI
  * default. Values stay inside the cents-representable range on purpose:
  * a 1e17 amount overflows the BIGINT cents cast in BOTH engines
  * identically (ANSI error here, CAST error in the oracle), which is
  * engine-faithful behavior, not a robustness gap. */
class EventsPoisonSpec extends SparkSpec {

  private val eventQueries = Seq(
    "dedup_latest", "conditional_merge", "json_extract", "window_tumbling",
    "sessionize", "asof_join", "range_join_count", "salted_agg",
    "gap_fill_hours", "pii_anonymize", "k_anonymity_audit",
    "l_diversity_audit", "t_closeness_audit", "outlier_mad",
    "event_funnel", "cohort_retention", "scd2_intervals",
    "event_debounce", "skew_profile", "dau_wau", "error_zscore_hours")

  test("every events-table query survives a poison log under ANSI") {
    val dir = tempDir("eventspoison").toString
    import spark.implicits._
    def ns(s: String): java.lang.Long =
      java.sql.Timestamp.valueOf(s).getTime * 1000000L
    Seq[(java.lang.Long, java.lang.Long, java.lang.Long, String,
        java.lang.Double, String)](
      // a normal funnel pair so join/funnel paths have matches
      (1L, ns("2024-01-01 10:00:00"), 1L, "click", 10.0, """{"k": 1}"""),
      (2L, ns("2024-01-01 10:05:00"), 1L, "purchase", 20.0, """{"k": 2}"""),
      (3L, ns("2024-01-01 09:00:00"), 1L, "signup", 1.0, "{}"),
      (4L, ns("2024-01-01 09:30:00"), 1L, "view", 1.0, "{}"),
      // NULL value / props / type / ts / user
      (10L, ns("2024-01-02 00:00:00"), 2L, "click", null, null),
      (11L, ns("2024-01-02 01:00:00"), 2L, null, 5.0, "{}"),
      (12L, null, 2L, "view", 5.0, "{}"),
      (13L, ns("2024-01-02 02:00:00"), null, "view", 5.0, "{}"),
      // duplicate event_id, negative + large-but-representable amounts
      (10L, ns("2024-01-02 03:00:00"), 3L, "error", -185.22, "{}"),
      (20L, ns("2024-01-03 00:00:00"), 3L, "purchase", 1.0e9, "{}"),
      // unicode + empty type, malformed + empty JSON
      (21L, ns("2024-01-03 01:00:00"), 4L, "点击🚀", 1.0, "{not json"),
      (22L, ns("2024-01-03 02:00:00"), 4L, "", 2.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val failures = eventQueries.flatMap { name =>
        try { SparkEntry.queries(name)(spark, dir).collect(); None }
        catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(200)}") }
      }
      assert(failures.isEmpty, "poison log broke:\n" + failures.mkString("\n"))
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }
}
