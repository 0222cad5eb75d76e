package graft.tools

import graft.SparkEntry

/** Plan inspector: prints the formatted physical plan of selected queries
  * (all when no names given). Usage:
  *   runMain graft.tools.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.Session.local(graft.Session.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      // connected_components materializes its edge discovery EAGERLY (the
      // iterative loop runs at construction), so the final frame's plan is
      // just window-over-checkpoint — print the edge-discovery subplan
      // first: it is the scale-critical part of the query
      if (name == "connected_components") {
        println("---- edge discovery (runs eagerly inside the iterative query) ----")
        val (bl, edges0) = graft.queries.DedupOps.ccEdgeDiscovery(spark, sfDir)
        edges0.explain("formatted")
        bl.unpersist()
        println("---- final frame (labels after min-label propagation) ----")
      }
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
