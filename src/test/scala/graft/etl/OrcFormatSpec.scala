package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The engine's source/sink surface is not parquet-only: ORC ships in
  * spark-sql and round-trips the same frames. Pins (a) a lossless
  * documents round-trip including NULL handling, and (b) that a query
  * produces identical results over an ORC copy of its input — the
  * format is a storage decision, never a semantics one. */
class OrcFormatSpec extends SparkSpec {

  test("documents round-trip parquet -> orc -> frame, value-identical") {
    val dir = tempDir("orc")
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src.write.orc(dir.resolve("documents.orc").toString)
    val back = spark.read.orc(dir.resolve("documents.orc").toString)
    assert(back.schema == src.schema)
    val a = src.orderBy("doc_id").collect()
    val b = back.orderBy("doc_id").collect()
    assert(a.sameElements(b))
  }

  test("a query over the ORC copy matches the parquet original") {
    val dir = tempDir("orcq")
    val pq = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    pq.write.orc(dir.resolve("lineitem.orc").toString)
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
        .orderBy("l_returnflag").collect().toSeq
    assert(agg(spark.read.orc(dir.resolve("lineitem.orc").toString)) == agg(pq))
  }
}
