package graft

/** Driver benchmark harness: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query wall seconds.
  * Queries run in sorted name order after a small uncounted JVM warm-up so
  * first-query JIT noise doesn't land on an arbitrary query; each is timed
  * by [[Session.fullRow]] on a [[Session.local]] session. */
object Bench {

  /** The release schedule: query-name prefix → cache-name prefixes. The
    * caches on a row are consumed ONLY inside that prefix's wave of the
    * sorted walk, so once the walk leaves the wave they have no future
    * reader this run, and [[graft.queries.Util.releaseFamily]] frees them
    * outside any query's timed window (the r15 finding: resident hanf
    * register levels displaced pagerank_links' warm state, 2.6 → 5.6 s
    * in-suite, with zero code change). A cache released too early would
    * silently rebuild inside a later query's timed window: SparkEntrySpec
    * walks the queries in this order, applies this schedule, and fails on
    * such a rebuild, on a row that matches no query and on a row that
    * releases nothing. */
  val releaseSchedule: Seq[(String, Seq[String])] = Seq(
    // the serve graphs, their hop-1 pool and the checkpointed builds; the
    // quantized base stays: kmeans/knn/pq/ivf consumers sort later
    "ann_graph_" -> Seq("greedyGraph", "graphHop1", "hnsw"),
    // the batch insert gate is the candidate pool's only consumer
    "ann_insert_gate" -> Seq("insGateCand"),
    "bloom_fpr_sweep" -> Seq("bloomSweep"),
    // rankValCounts/BySrc feed only the two cms_rank_* audits
    "cms_rank_" -> Seq("rankValCounts"),
    "coverage_" -> Seq("covDocGram"),
    // the increment chain's token/map caches end with dup_span_incremental
    "dup_" -> Seq("dupDblInc"),
    "dsir_" -> Seq("dsirOcc"),
    "epoch_" -> Seq("epochSlices"),
    // the HyperANF register levels; hanfEdges is edge-list-sized and kept
    "graph_" -> Seq("hanfRegs", "hanfPacked", "hanfSwar"),
    // full + sampled signature relations and the recall-audit bands:
    // last consumers are minhash_band_sweep / minhash_estimate_audit
    "minhash_" -> Seq("minhashSigs", "recallAudit"),
    "pagerank_links" -> Seq("pagerankEdges"),
    // the PQ codebooks end with pq_residual_gain
    "pq_" -> Seq("pqEncoded", "pqResidualEncoded"),
    // knFrame/selfFrame span ccnet→rho_excess_select (LmOps)
    "rho_excess_select" -> Seq("knPplFrame", "knTrainCounts"),
    // the IVF serve index: prototype_prune and semdedup_prune read it
    // after the pq_ wave
    "semdedup_" -> Seq("semanticDedupAssigned", "ivfServeAssigned"),
    // last embedding-family consumer in the sorted walk
    "sq8_" -> Seq("quantizedBase", "lshState", "knnBrute"),
    // span-doubling levels + apply segments end with substring_dedup_*
    "substring_" -> Seq("dupDbl", "dupApply"),
    "tfidf_topk" -> Seq("tfRelation"),
    "word_bigram_surprisal" -> Seq("bigramSurprisal"))

  /** The schedule rows whose wave ends at `sorted(i)`. */
  def releasesAfter(sorted: Seq[String], i: Int): Seq[(String, Seq[String])] =
    releaseSchedule.filter { case (prefix, _) =>
      sorted(i).startsWith(prefix) &&
        sorted.lift(i + 1).forall(!_.startsWith(prefix))
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.cpus)

    // Uncounted JIT/codegen warm-up: exercise the hot code paths (hash agg,
    // parquet scan, window, join) on tiny sf0.001 data so one-time class
    // loading + whole-stage-codegen compilation doesn't land on whichever
    // benchmarked query happens to run first. The benchmarked sfDir's data
    // is NOT touched here.
    spark.range(1000000).selectExpr("sum(id)").collect()
    try {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      // never warm the benchmarked dataset itself: pick the SMALLEST sibling
      // sf dir of sfDir (derived from its parent, not hardcoded) so
      // page/file-listing caches stay cold for the measured queries
      // toRealPath: a symlinked or non-canonical sfDir must not match as
      // its own "sibling" and warm the measured dataset
      val sfPath = java.nio.file.Paths.get(sfDir).toRealPath()
      val warmDir = {
        import scala.jdk.CollectionConverters._
        val st = java.nio.file.Files.list(sfPath.getParent)
        val siblings =
          try st.iterator().asScala.filter(p =>
            java.nio.file.Files.isDirectory(p) &&
              p.toRealPath() != sfPath &&
              java.nio.file.Files.exists(p.resolve("orders.parquet"))).toSeq
          finally st.close()
        // recursive regular-file sum: orders.parquet may be a Spark-written
        // DIRECTORY of part files, where Files.size returns the inode size
        // (~4 KB) for every candidate and the "smallest sibling" pick
        // silently degenerates to directory order
        def dataSize(p: java.nio.file.Path): Long =
          if (!java.nio.file.Files.isDirectory(p)) java.nio.file.Files.size(p)
          else {
            val w = java.nio.file.Files.walk(p)
            try w.iterator().asScala
              .filter(java.nio.file.Files.isRegularFile(_))
              .map(java.nio.file.Files.size).sum
            finally w.close()
          }
        siblings.sortBy(p => dataSize(p.resolve("orders.parquet")))
          .headOption.getOrElse(
            throw new java.io.FileNotFoundException(
              s"no sibling sf dir of $sfDir with orders.parquet"))
      }
      val o = spark.read.parquet(s"$warmDir/orders.parquet").limit(1000)
      o.withColumn("rn",
          row_number().over(Window.partitionBy("o_orderstatus").orderBy("o_orderkey")))
        .join(o.select("o_orderkey"), "o_orderkey")
        .groupBy("o_orderstatus").agg(sum("o_totalprice")).collect()
    } catch { case e: Throwable =>
      // a skipped warm-up must be VISIBLE: first-query JIT cost lands on a
      // measured query, so flag it in the bench log
      System.err.println(s"[bench] WARM-UP SKIPPED (${e.getMessage}) — " +
        "first-query timing will include JIT/codegen cost")
    }

    // A failed query is reported as NEGATIVE elapsed seconds (not a normal
    // measurement) and forces a nonzero exit, so breakage can't masquerade
    // as a fast run.
    // SPARK_GRAFT_BENCH_ONLY=a,b,c scopes the run to named queries (local
    // A/B iteration on one family); unknown names fail loudly. The driver
    // never sets it, so round captures stay full-surface.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"SPARK_GRAFT_BENCH_ONLY unknown: $unknown")
    }
    val sortedQs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val sortedNames = sortedQs.map(_._1)
    val results = sortedQs.zipWithIndex.map { case ((name, fn), i) =>
      val t0 = System.nanoTime()
      val ok =
        try { Session.fullRow(fn(spark, sfDir)); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
        }
      val secs = (System.nanoTime() - t0) / 1e9
      releasesAfter(sortedNames, i).foreach { case (prefix, caches) =>
        val n = graft.queries.Util.releaseFamily(spark, caches: _*)
        System.err.println(s"[bench] family boundary after $name: " +
          s"released $n '$prefix' cached relations")
      }
      name -> (if (ok) secs else -secs)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.count(_._2 < 0)
    val total = results.map(_._2).filter(_ >= 0).sum
    // sfDir is env-supplied: escape it so a quote/backslash in the path
    // can't produce malformed JSON (same encoder as ScaleCheck)
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"sf":${graft.tools.ScaleCheck.jsonString(sfDir)}}"""
    println(json)
    // also persist to a file: a truncated stdout capture (seen when the
    // harness logs clip the tail) must not lose the per-query record
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_last_run.json"), json + "\n")
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write BENCH_last_run.json: $e")
    }
    spark.stop()
    // The harness records only the LAST 2000 chars of this process's output
    // (BENCH_r09.json: "tail" len 2000, "parsed": null — the full per-query
    // line is ~3.6 KB at 131 queries, so its head fell outside the window
    // and nothing parsed). Emit a SHORT self-contained JSON line as the
    // final stdout — same shape ("metric"/"value"/"unit"/"queries"/"sf"),
    // queries trimmed to the slowest 25 plus every failure, seconds at 3 dp
    // — sized to fit the window with room for sbt's closing lines. The full
    // record stays in the long line above and BENCH_last_run.json.
    val headline = results
      .sortBy { case (_, v) => (v >= 0, -math.abs(v)) } // failures first, then slowest
      .take(25).sortBy(_._1)
      // Double.toString, not %f: %f is default-locale (a comma decimal
      // separator would corrupt the JSON); Double.toString is always '.'
      .map { case (k, v) =>
        s""""$k":${math.round(v * 1000.0) / 1000.0}""" }.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$headline,"failed":$failed,"n_queries":${results.size},"queries_shown":${math.min(25, results.size)},"full":"BENCH_last_run.json","sf":${graft.tools.ScaleCheck.jsonString(sfDir)}}""")
    System.out.flush()
    if (failed > 0) sys.exit(1)
  }
}
