package graft.etl

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

import graft.SparkSpec

/** Merge's scale note claims: persist the DW bucketed by the merge key and
  * the DW side's exchange disappears — only the (small) update batch
  * shuffles. This spec SHOWS it: the same conditional merge against a
  * `bucketBy(chave_nfe)` table plans a SortMergeJoin whose DW side reads
  * the bucketed scan directly (zero exchanges) while the updates side
  * carries the single shuffle. At 100 TB that is the difference between
  * re-shuffling the fact table every 2-hour cycle and shuffling only the
  * increment. */
class BucketedMergeSpec extends SparkSpec {

  test("bucketed DW: merge join reads buckets directly; only updates shuffle") {
    // a realistic fatSchema-shaped DW: the flagship entry result,
    // materialized to parquet so both merge inputs are plain scans (the
    // claim under test is about the MERGE plan, not entry's pipeline)
    val tmp = tempDir("bucketmerge").toString
    graft.SparkEntry.entry(spark).write.parquet(s"$tmp/dw")
    val dw = spark.read.parquet(s"$tmp/dw")
    spark.sql("DROP TABLE IF EXISTS dw_bucketed")
    dw.write.bucketBy(8, "chave_nfe").sortBy("chave_nfe")
      .mode("overwrite").saveAsTable("dw_bucketed")
    val dwB = spark.table("dw_bucketed")
    dw.limit(100).write.parquet(s"$tmp/updates")
    val updates = spark.read.parquet(s"$tmp/updates") // small increment

    // AQE off for a stable plan-shape assertion (the claim is about the
    // static plan; AQE only ever removes more work)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val merged = Merge.mergePedidos(dwB, updates)
      val plan = merged.queryExecution.executedPlan
      val smj = plan.collectFirst { case j: SortMergeJoinExec => j }
        .getOrElse(fail(s"expected SortMergeJoin, got:\n$plan"))

      def exchanges(p: org.apache.spark.sql.execution.SparkPlan) =
        p.collect { case e: ShuffleExchangeExec => e }
      def bucketedScans(p: org.apache.spark.sql.execution.SparkPlan) =
        p.collect { case s: FileSourceScanExec if s.bucketedScan => s }

      // dw side: bucketed scan feeds the join with NO exchange
      assert(bucketedScans(smj.left).nonEmpty,
        s"DW side did not use the bucketed scan:\n${smj.left}")
      assert(exchanges(smj.left).isEmpty,
        s"DW side still shuffles despite bucketing:\n${smj.left}")
      // updates side: exactly the one increment shuffle
      assert(exchanges(smj.right).size == 1,
        s"expected exactly one updates-side exchange:\n${smj.right}")

      // and the merge result is still correct: every key present once
      assert(merged.count() == dw.count())
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS dw_bucketed")
      ()
    }
  }
}
