package graft.etl

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Scale evidence for data layout: a DW table written `partitionBy(col)`
  * prunes non-matching partition directories at planning time
  * (PartitionFilters), and data-column predicates reach the parquet reader
  * (PushedFilters) — at 100 TB the difference between scanning one
  * partition and scanning the lake. */
class PartitionPruningSpec extends SparkSpec {

  private def scan(df: org.apache.spark.sql.DataFrame): FileSourceScanExec =
    df.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }.head

  test("partitionBy write + equality filter prunes to one partition; data filter pushes down") {
    val root = tempDir("prune").resolve("events").toString
    graft.queries.Util.t(spark, "/root/testdata/sf0.001", "events")
      .write.partitionBy("event_type").parquet(root)
    val nTypes = spark.read.parquet(root).select("event_type").distinct().count()
    assert(nTypes >= 3)

    val pruned = spark.read.parquet(root)
      .filter(col("event_type") === "click" && col("value") > 50.0)
      .select("event_id", "value")
    val f = scan(pruned)
    // partition pruning: only the click/ directory is selected
    assert(f.partitionFilters.nonEmpty, "expected PartitionFilters on event_type")
    assert(f.selectedPartitions.partitionCount == 1,
      s"expected 1 selected partition, got ${f.selectedPartitions.partitionCount}")
    // predicate pushdown: the value filter reaches the parquet reader
    val pushed = f.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThan(value,50.0)"), s"PushedFilters was: $pushed")
    // column pruning: only the projected + filtered columns are read
    val readSchema = f.metadata.getOrElse("ReadSchema", "")
    assert(!readSchema.contains("props"), s"props should be pruned; ReadSchema: $readSchema")
    // and the result matches an unpruned plan
    val expected = spark.read.parquet(root)
      .filter(col("value") > 50.0 && col("event_type") === "click").count()
    assert(pruned.count() == expected)
  }
}
