package graft

import java.nio.file.Paths

import org.apache.spark.sql.functions.{expr, lit, map}

/** The session factory's scan settings and the full-row action. */
class SessionSpec extends SparkSpec {

  test("fullRow hashes every column that holds no map, in one pass") {
    val df = spark.range(50).select(
      expr("id"),
      expr("cast(id % 7 AS string)").as("s"),
      expr("array(id, id + 1)").as("arr"),
      expr("named_struct('a', id)").as("st"),
      map(lit("k"), expr("id")).as("m"),
      expr("array(map('k', id))").as("arr_m"),
      expr("named_struct('m', map('k', id))").as("st_m"))
    val agg = Session.fullRowAgg(df)
    assert(agg.columns.toSeq == Seq("h", "n"))
    val Array(r) = agg.collect()
    val expected = df.selectExpr("bit_xor(xxhash64(id, s, arr, st))").head().getLong(0)
    assert(r.getLong(0) == expected, "hash covers exactly the map-free columns")
    assert(r.getLong(1) == 50L)
    // a change in any hashed column moves the hash
    Seq("id", "s", "arr", "st").foreach { c =>
      val changed = df.withColumn(c, expr(s"CASE WHEN id = 3 THEN NULL ELSE $c END"))
      assert(Session.fullRowAgg(changed).head().getLong(0) != r.getLong(0), c)
    }
    assert(Session.fullRow(df) == 50L)
  }

  test("fullRow quotes a column name that contains a backtick") {
    val df = spark.range(5).toDF("we`ird").withColumn("x`", expr("`we``ird` * 2"))
    val Array(r) = Session.fullRowAgg(df).collect()
    assert(r.getLong(0) == df.selectExpr("bit_xor(xxhash64(`we``ird`, `x```))")
      .head().getLong(0))
    assert(Session.fullRow(df) == 5L)
  }

  test("fullRow falls back to count() on an all-map schema") {
    val df = spark.range(7).select(map(lit("k"), expr("id")).as("m"))
    assert(Session.fullRowAgg(df).columns.toSeq == Seq("n"))
    assert(Session.fullRow(df) == 7L)
  }

  test("fullRow keeps the join a count() plan drops") {
    // decontaminate_ngrams is on ProbePlan's collapsed list: its count()
    // plan loses every join (ProbePlanGateSpec)
    val df = SparkEntry.queries("decontaminate_ngrams")(spark, "/root/testdata/sf0.001")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def joins(d: org.apache.spark.sql.DataFrame) =
        graft.tools.ProbePlan.joins(d.queryExecution.executedPlan)
      val full = joins(df)
      assert(full > 0)
      assert(joins(df.groupBy().count()) == 0)
      assert(joins(Session.fullRowAgg(df)) == full)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("register is idempotent: one copy of each rule and strategy") {
    graft.functions.GraftFunctions.register(spark)
    graft.functions.GraftFunctions.register(spark)
    val exp = spark.experimental
    assert(exp.extraOptimizations.count(_ == graft.functions.RewriteSizeOfIntersect) == 1)
    assert(exp.extraOptimizations.count(_ == graft.functions.RewriteCanonNorm) == 1)
    assert(exp.extraStrategies.count(_ == graft.plans.AsOfJoinStrategy) == 1)
  }

  test("local[8]: minPartitionNum adds nothing, the 512 KB open cost makes the scan floor") {
    // a second SparkContext cannot share this JVM, so the local[8] session
    // runs in a child JVM on this test's classpath
    val out = tempDir("scanfloor")
    val jvm = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val opts = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib"))
    import scala.jdk.CollectionConverters._
    val cmd = (Seq(jvm) ++ opts ++ Seq("-Xmx1g", "-cp",
      System.getProperty("java.class.path"), "graft.ScanFloorProbe", out.toString)).asJava
    val p = new ProcessBuilder(cmd).redirectErrorStream(true).start()
    val log = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 0, log)
    val counts = "scan_partitions (\\w+)=(\\d+)".r.findAllMatchIn(log)
      .map(m => m.group(1) -> m.group(2).toInt).toMap
    assert(counts.keySet == Set("default_open_cost", "factory", "factory_min8"), log)
    assert(counts("factory") == counts("factory_min8"), log)
    assert(counts("factory") > counts("default_open_cost"), log)
  }
}

/** Child-JVM half of the scan-floor spec: prints the scan partition count
  * of one multi-MB parquet file on a `local[8]` factory session, as built,
  * with `minPartitionNum` = 8, and at Spark's default 4 MB open cost. */
object ScanFloorProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(8)
    val path = s"${args(0)}/t.parquet"
    spark.range(150000).selectExpr("id", "sha2(cast(id AS string), 256) AS s")
      .coalesce(1).write.parquet(path)
    val bytes = java.nio.file.Files.walk(Paths.get(path)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".parquet")).map(java.nio.file.Files.size).sum
    require(bytes > 2L * 1024 * 1024, s"test file too small: $bytes B")
    def parts(): Int = spark.read.parquet(path).rdd.getNumPartitions
    println(s"scan_partitions factory=${parts()}")
    spark.conf.set("spark.sql.files.minPartitionNum", "8")
    println(s"scan_partitions factory_min8=${parts()}")
    spark.conf.unset("spark.sql.files.minPartitionNum")
    spark.conf.set("spark.sql.files.openCostInBytes", (4 * 1024 * 1024).toString)
    println(s"scan_partitions default_open_cost=${parts()}")
    spark.stop()
  }
}
