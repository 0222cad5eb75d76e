package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The engine's one session factory and its one measured action. Every
  * main (Bench, Verify, the tools) and the test trait build their session
  * here, so what the oracle checks and what the profiles measure is the
  * configuration Bench times. */
object Session {

  /** Core count of a `local[n]` session: `$SPARK_GRAFT_CPUS`, else every
    * core of the host. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with the engine functions registered.
    *
    * Scan floor: the test tables are single parquet files of a few MB, far
    * below maxPartitionBytes (128 MB). Spark sizes a split as
    * max(openCostInBytes, bytesPerCore), where bytesPerCore divides the
    * scan's bytes by the core count (`minPartitionNum`, which defaults to
    * the `local[n]` parallelism). At the default 4 MB open cost a 5 MB table
    * plans as two tasks on any core count, so scan + expand + partial
    * aggregate, the bulk of most queries, ran nearly single-threaded (a
    * round-19 profile: approx_sketches spent 8 s in 18 tasks on 32 cores).
    * A 512 KB open cost lowers that floor, so a multi-MB table splits into
    * up to one task per core, none smaller than 512 KB, while genuinely
    * tiny tables still plan as one task. At production scale splits
    * abound and the setting changes nothing.
    *
    * `confs` are the caller's own settings, applied after these. */
  def local(cpus: Int, confs: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.openCostInBytes", (512 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = confs.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** The aggregate [[fullRow]] runs: `h` = bit_xor of xxhash64 over every
    * column, `n` = the row count, in one pass. A bare `count()` is not an
    * honest measure: Catalyst deletes left joins against grouped-by-key
    * relations (and the columns feeding them) when no output column is
    * consumed. A round-17 probe found 47 of 248 queries lose joins under
    * count(), 15 of them collapsing to a bare scan (dup_span_incremental's
    * count plan was one parquet scan of doc_id, so a 22 s query would have
    * been reported as 2.4 s); [[graft.tools.ProbePlan]] lists them.
    * xxhash64 rejects MapType, so columns holding a map are left out; with
    * nothing hashable the aggregate is `count(*)` alone. Backticks inside a
    * name are doubled so the quoted identifier cannot end early. bit_xor,
    * not sum: an int64 sum of row hashes overflows under ANSI. */
  def fullRowAgg(df: DataFrame): DataFrame = {
    val hashable = df.schema.fields.toSeq
      .filterNot(f => hasMap(f.dataType))
      .map(f => s"`${f.name.replace("`", "``")}`")
    val h =
      if (hashable.isEmpty) Nil
      else Seq(s"bit_xor(xxhash64(${hashable.mkString(", ")})) AS h")
    df.selectExpr(h :+ "count(*) AS n": _*)
  }

  /** The measured action: evaluate every row of `df` in full and return
    * the row count. */
  def fullRow(df: DataFrame): Long = {
    val r = fullRowAgg(df).collect().head
    r.getLong(r.fieldIndex("n"))
  }
}
