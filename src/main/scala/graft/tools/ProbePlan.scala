package graft.tools
import org.apache.spark.sql.SparkSession
/** Bench-honesty probe: for each query, compare the physical plan a
  * `.count()` action gets (after Catalyst join/column elimination) with
  * the plan full-row evaluation gets. A query whose count-plan loses ALL
  * its joins while the full plan has some is under-measured by a
  * count-based bench (Catalyst can delete left joins against
  * grouped-by-key relations when no column is consumed). */
object ProbePlan {
  /** Join operators in `plan`, subqueries included. */
  def joins(plan: org.apache.spark.sql.execution.SparkPlan): Int =
    plan.collectWithSubqueries {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.size

  /** (full-plan joins, count-plan joins) for one query, AQE pinned OFF
    * for the comparison so both plans are the static Catalyst output
    * (AQE re-plans at runtime; the probe is about what the optimizer
    * deletes, which is decided statically). Callable from the gate spec
    * ([[graft.queries.ProbePlanGateSpec]]) as well as this CLI. */
  def joinCounts(spark: SparkSession, dir: String, name: String)
      : (Int, Int) = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      (joins(df.queryExecution.executedPlan),
        joins(df.groupBy().count().queryExecution.executedPlan))
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local(graft.Session.cpus,
      "spark.sql.adaptive.enabled" -> "false")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.length > 1) args.drop(1).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      try {
        val (full, cnt) = joinCounts(spark, dir, name)
        if (cnt < full)
          println(s"[probe] $name full_joins=$full count_joins=$cnt" +
            (if (cnt == 0 && full > 0) " COLLAPSED" else ""))
      } catch { case e: Throwable =>
        println(s"[probe] $name ERROR ${e.getClass.getSimpleName}")
      }
    }
    spark.stop()
  }
}
