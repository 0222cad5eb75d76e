package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional 3rd arg: comma-separated query subset for scoped re-runs
    // (the driver always passes exactly two args → full surface). Unknown
    // names fail FAST: a typo that silently matched nothing would let a
    // broken query pass a scoped re-check with exit 0.
    val subset: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    subset.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    }
    // Bench's session, so the oracle checks the configuration Bench times.
    // PIN the LSH signature width to the oracle twin's generation width:
    // the DuckDB SQL for ann_lsh_cosine is emitted at 16 bits, while the
    // Spark side otherwise derives width from corpus size — a larger
    // verify corpus would silently flip Spark to 18 bits and fail the
    // hash compare confusingly. Correctness runs must never depend on
    // the size heuristic.
    val spark = Session.local(Session.cpus, "graft.lsh.bits" -> "16")
    require(graft.queries.SimilarityOps.lshBitsFor(spark, sfDir) == 16,
      "verify contract: graft.lsh.bits must resolve to the oracle width (16)")
    // The DuckDB oracle twins are STATIC SQL interpolating each cap/knob's
    // DEFAULT (the driver's oracleSql contract is session-free), so a
    // session override of any oracle-pinned knob makes dual-replay report
    // spurious drift on the capped queries. Refuse loudly instead of
    // dumping oracles that no longer describe the engine's output.
    Seq("graft.cap.lshBucket", "graft.cap.semCluster",
      "graft.cap.simhashBucket", "graft.cap.tokenDf", "graft.cap.ccBucket",
      "graft.cap.basket", "graft.cap.kmvExactDf", "graft.cap.ivfCentroids",
      "graft.bloom.log2bits", "graft.bloom.sweepGrid",
      "graft.knn.probeMod",
      "graft.lsh.probeMod", "graft.minSupport").foreach { k =>
      require(spark.conf.getOption(k).isEmpty,
        s"verify contract: $k is session-overridden but the DuckDB oracles " +
          "interpolate its default; unset it for oracle replay")
    }
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => subset.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
