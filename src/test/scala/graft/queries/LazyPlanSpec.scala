package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Query CONSTRUCTION must be job-free: schema/explain-only callers (IDE
  * introspection, plan audits, the Explain tool) must not trigger Spark
  * jobs. Guards against the round-3 regression class where an eager
  * persist+count inside a query builder ran a full materialization at
  * plan-construction time (ADVICE r03 item 2). */
class LazyPlanSpec extends SparkSpec {

  test("ann_lsh_cosine (and its shared caches) run no job for schema/explain") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        sites.add(js.stageInfos.map(_.name).mkString("|"))
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // forces a fresh (session, dir) cache entry in quantizedBase/lshState:
      // sf0.001 may be shared with other suites, so flush pending events and
      // count relative to a settled baseline
      spark.sparkContext.range(0, 1).count()
      Thread.sleep(300) // let async listener events settle
      val before = jobs.get()

      val df = SparkEntry.queries("ann_lsh_cosine")(spark, "/root/testdata/sf0.001")
      assert(df.schema.fieldNames.toSeq ==
        Seq("a_id", "b_id", "n_shared_bands", "cos"))
      assert(df.queryExecution.executedPlan != null) // full planning, no exec
      val neardup =
        SparkEntry.queries("dedup_embedding_neardup")(spark, "/root/testdata/sf0.001")
      assert(neardup.schema.fieldNames.nonEmpty)

      // sentinel action: once its job event is visible, any job the
      // construction had started would be visible too (listener bus is FIFO)
      spark.sparkContext.range(0, 1).count()
      val deadline = System.currentTimeMillis() + 10000
      while (jobs.get() <= before && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      Thread.sleep(200)
      // the ONLY permissible non-sentinel job is parquet footer reading —
      // Spark's schema inference for a schema-less spark.read.parquet, a
      // metadata job every parquet query pays at analysis, not an eager
      // materialization. Anything touching data (shuffle, aggregate,
      // checkpoint, persist count) must NOT appear.
      import scala.jdk.CollectionConverters._
      val extras = sites.iterator().asScala.toSeq
        .filterNot(_.contains("count at LazyPlanSpec"))
      assert(extras.forall(_.startsWith("parquet at")),
        s"construction ran non-metadata jobs: $extras")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
