package graft.queries

import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}

/** ANSI-mode poison battery for the star-schema (TPC-H-ish) query surface
  * — completing the trilogy with DocPoisonSpec (documents) and
  * EventsPoisonSpec (events): NULL foreign keys and orphans, NULL
  * dates/prices, negative and huge amounts, duplicate primary keys,
  * unicode and empty strings across region/nation/customer/supplier/
  * part/orders/lineitem. Every query over these tables must return rather
  * than throw under Spark 4's ANSI default. Benign baseline rows ride
  * along so aggregate-driven scaffolding (histogram bounds, date spines)
  * has real values to work from — a 100% poison table tests a different
  * (and unrealistic) failure than a poisoned real table. */
class StarPoisonSpec extends SparkSpec {

  private val starQueries = Seq(
    // EtlQueries
    "profile_columns", "ref_integrity_audit", "anti_join", "semi_join",
    "parse_dates_roundtrip", "parse_decimals_localized", "nfe_key_gate",
    "lineage_file_counts", "backfill_render", "archive_audit",
    "dedup_latest", "conditional_merge",
    // Relational
    "q1_agg", "revenue_by_nation", "group_topk", "distinct_agg", "set_ops",
    "topk_orders", "window_running", "rollup_agg", "cube_agg",
    "json_extract", "window_tumbling", "sessionize", "string_funcs",
    "having_filter", "union_dedup",
    // Relational2
    "exact_median", "stats_agg", "window_ranks", "date_funcs",
    "pivot_status", "grouping_sets", "array_funcs", "cond_funcs",
    // Relational3
    "approx_sketches", "mode_per_group", "quartiles_disc",
    "fuzzy_match_levenshtein", "window_range_rolling", "unpivot_metrics",
    "gap_fill_hours", "histogram_totalprice", "asof_join",
    "range_join_count", "subquery_battery", "string_agg_group", "minmax_by",
    "regexp_battery", "hash_sample", "window_values", "salted_agg",
    // RobustStatsOps + FunnelOps
    "quartiles_cont", "outlier_mad", "event_funnel", "cohort_retention",
    "scd2_intervals",
    // round-9 graph / diagnostics / reconciliation
    "pagerank_links", "part_cooccurrence", "triangle_count",
    "snapshot_diff", "equi_depth_histogram", "label_centroids",
    "join_size_probe", "degree_histogram", "semantic_dedup", "zorder_pack",
    "retrieval_quality_audit")

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val dir: String = {
    val d = tempDir("starpoison").toString
    import spark.implicits._

    Seq[(java.lang.Integer, String)](
      (0, "AMERICA"), (1, null), (1, "dup🚀region"))
      .toDF("r_regionkey", "r_name").write.parquet(s"$d/region.parquet")

    Seq[(java.lang.Integer, String, java.lang.Integer)](
      (0, "BRAZIL", 0), (1, null, null), (2, "NO REGION", 99))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$d/nation.parquet")

    Seq[(java.lang.Long, String, java.lang.Integer, java.lang.Double, String)](
      (1L, "Alice", 0, 100.0, "BUILDING"),
      (2L, null, null, null, ""),             // NULL name/nation/balance
      (3L, "Bob", 2, -50.25, "AUTO"),         // negative balance
      // orphan nation + large balance BELOW the documented Σc² int64
      // bound (~30M units): stats_agg overflows identically in both
      // engines past it — engine-faithful, not a robustness gap
      (4L, "名前🚀", 99, 1.0e6, "AUTO"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$d/customer.parquet")

    Seq[(java.lang.Long, String, java.lang.Integer, java.lang.Double)](
      (1L, "S1", 0, 10.0), (2L, null, 99, null))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.parquet(s"$d/supplier.parquet")

    Seq[(java.lang.Long, String, String, String, java.lang.Integer, java.lang.Double)](
      (1L, "green metallic thing", "B1", "TYPE A", 5, 10.0),
      (2L, null, null, null, null, null))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.parquet(s"$d/part.parquet")

    Seq[(java.lang.Long, java.lang.Long, String, java.lang.Double, Timestamp, String)](
      (1L, 1L, "F", 100.50, ts("2024-01-05 00:00:00"), "1-URGENT"),
      (2L, 1L, "O", 200.00, ts("2024-02-10 00:00:00"), "5-LOW"),
      (3L, 3L, "F", 300.25, ts("2024-01-20 00:00:00"), "1-URGENT"),
      (4L, null, null, null, null, null),      // NULL everything but key
      (4L, 4L, "P", -99.99, ts("2024-03-01 00:00:00"), "dup-key 🚀"),
      (5L, 99L, "", 1.0e9, ts("1990-01-01 00:00:00"), ""))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$d/orders.parquet")

    Seq[(java.lang.Long, java.lang.Long, java.lang.Long, java.lang.Integer,
        java.lang.Double, java.lang.Double, java.lang.Double, java.lang.Double,
        String, String, Timestamp)](
      (1L, 1L, 1L, 1, 2.0, 50.0, 0.1, 0.05, "N", "O", ts("2024-01-06 00:00:00")),
      (1L, 2L, 2L, 2, 3.0, 60.0, 0.0, 0.0, "R", "F", ts("2024-01-07 00:00:00")),
      (2L, null, null, null, null, null, null, null, null, null, null),
      (99L, 1L, 1L, 1, 1.0, 10.0, 0.5, 0.5, "A", "F", ts("2024-01-08 00:00:00")),
      (1L, 1L, 1L, 1, -5.0, -50.0, 1.5, -0.1, "漢", "", null)) // dup line id
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.parquet(s"$d/lineitem.parquet")

    Seq[(java.lang.Long, Array[Float], java.lang.Integer)](
      (1L, Array(0.1f, -0.2f, 0.3f), 0),
      (2L, null, null),                        // NULL vector
      (3L, Array.empty[Float], 1))             // degenerate empty vector
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$d/embeddings.parquet")

    // light events poison (EventsPoisonSpec stress-tests this table); the
    // mixed-source queries need it present
    Seq[(java.lang.Long, java.lang.Long, java.lang.Long, String,
        java.lang.Double, String)](
      (1L, ts("2024-01-01 10:00:00").getTime * 1000000L, 1L, "click", 10.0, "{}"),
      (2L, ts("2024-01-01 10:05:00").getTime * 1000000L, 1L, "purchase", 20.0, "{}"),
      (3L, ts("2024-01-01 09:00:00").getTime * 1000000L, 1L, "signup", 1.0, "{}"),
      (4L, null, 2L, null, null, null))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    d
  }

  test("every star-schema query survives a poisoned warehouse under ANSI") {
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val failures = starQueries.flatMap { name =>
        try { SparkEntry.queries(name)(spark, dir).collect(); None }
        catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(200)}") }
      }
      assert(failures.isEmpty, "poisoned warehouse broke:\n" + failures.mkString("\n"))
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }
}
