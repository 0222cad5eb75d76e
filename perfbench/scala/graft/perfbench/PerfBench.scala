package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.etl.Pipeline
import graft.ingest.SftpStager

/** Benchmark body: one workload in one JVM, one client in a closed loop.
  *
  * Set-up (untimed, reported as `setup_s` from JVM start): session
  * creation, a backfill cycle that seeds the DW and `--warmup` discarded
  * cycles; beside them, in a thread of its own, a Bench-style warm-up plus
  * one discarded pass over the query sample (with `--passes` above 0) or
  * `sideCycles` discarded cycles on a pipeline root of their own. Then the
  * timed phase, a fixed amount of work, so that a faster program times
  * the same drops against the same DW:
  *
  *  - cycles, each landing one pre-generated CSV drop on the "remote" side
  *    and running the paper's cron cycle through each layer's public call
  *    (`SftpStager.stage` → `loadStageReport` → `upsertDw` →
  *    `compactStaging` → `archive`), followed by consumer reads against the
  *    DW (`readDwMonth`, key lookups over `readDw`, a full per-month
  *    aggregate), one cycle for each drop left after the warm-up;
  *  - `--passes` passes over a fixed sample of the sorted
  *    `SparkEntry.queries` surface, each query forced with Bench's full-row
  *    action.
  *
  * Everything measured is written to `<work>/result.json`; the caller
  * checks it against its own model of the inputs.
  */
object PerfBench {
  /** Every `stride`-th name of the sorted query surface is walked ... */
  val stride = 125
  /** ... plus a member of two iterative-loop families. (An ann_graph_*
    * query would cost more than the rest of the sample together: 5-7 s
    * warm, 10-12 s cold on 4 vCPUs, which does not fit a run's budget.) */
  val iterative = Seq("cc_incremental", "kmeans_step")
  /** Discarded cycles beside the set-up of a workload without a walk. */
  val sideCycles = 3

  def walkSample(names: Iterable[String]): Seq[String] = {
    val sorted = names.toSeq.sorted
    val strided = sorted.zipWithIndex.collect { case (n, i) if i % stride == 0 => n }
    (strided ++ iterative.filter(sorted.contains)).distinct.sorted
  }

  /** The session of a run: `local[<cores>]` with the settings of
    * `graft.Bench`, its scratch and warehouse under `work`. */
  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.minPartitionNum", cpus.toString)
      .config("spark.sql.files.openCostInBytes", (512 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    val spark = session(work)
    try new PerfBench(spark, work, Runtime.getRuntime.availableProcessors,
      warmup = opts("warmup").toInt,
      walkPasses = opts("passes").toInt,
      traced = opts("trace") == "1").run()
    finally spark.stop()
  }
}

/** The class-loading run behind the build's class-data-sharing archive:
  * a run's session and two cron cycles through the pipeline's public calls
  * on a two-row drop, then a hashed read of the DW, all under `args(0)`,
  * so the archive holds the classes every run loads. */
object ArchiveTraining {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val spark = PerfBench.session(work)
    try {
      val pipe = new Pipe(spark, work.resolve("pipe"))
      val p = pipe.pipeline
      val header = "ID;Chave NFe;Data Nfe;Data Última Ocr.;Data Inserção;Transportador;" +
        "Pedido;Tipo Entrega;Serie Nfe;Número Nfe;Valor Nfe;Peso;UF"
      for (round <- 1 to 2) {
        val rows = (1 to 2).map(k => s"$k;35${"0" * 41}$k;1$k/01/2024;" +
          s"1$k/01/2024 1$round:00:00;1$k/01/2024 09:00:00;Correios;P$k;NORMAL;1;" +
          s"10000$k;1.234,5$k;12,5;SP")
        Files.writeString(pipe.inbox.resolve(s"t$round.csv"), (header +: rows).mkString("\n"))
        SftpStager.stage(new SftpStager.LocalStore(pipe.remote), "inbox", pipe.novos)
        p.loadStageReport(pipe.novos, pipe.lidos, pipe.erros)
        p.upsertDw()
        p.compactStaging()
        p.archive()
      }
      p.readDwMonth("2024-01").union(p.readDw())
        .agg(count(lit(1)), bit_xor(xxhash64(col("chave_nfe")))).collect()
    } finally spark.stop()
  }
}

/** One pipeline root: the remote drop box, the landing and routing
  * directories, and the staging / DW / hist tables. */
final class Pipe(spark: SparkSession, val root: Path) {
  val remote: Path = root.resolve("remote")
  val inbox: Path = Files.createDirectories(remote.resolve("inbox"))
  val novos: Path = root.resolve("novos")
  val lidos: Path = root.resolve("lidos")
  val erros: Path = root.resolve("erros")
  val staging: Path = root.resolve("staging")
  val dw: Path = root.resolve("dw")
  val hist: Path = root.resolve("hist")
  val pipeline = new Pipeline(spark, staging.toString, dw.toString, hist.toString)
}

/** JVM and host counters sampled between timed operations. */
object Host {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean

  def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
  def jitMs: Long = jit.getTotalCompilationTime

  /** (steal, total) jiffies over all CPUs from /proc/stat; zeros where
    * the file does not exist. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      val v = f.drop(1).take(8).map(_.toLong) // user..steal; guest is in user
      (v(7), v.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Live heap in MB after a full collection, and the collection's own
    * milliseconds (so they can be kept out of `jvm.gc_s`). */
  def liveHeapMb(): (Double, Long) = {
    val g0 = gcMs
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    (used / 1048576.0, gcMs - g0)
  }
}

final class PerfBench(spark: SparkSession, work: Path, cores: Int,
    warmup: Int, walkPasses: Int, traced: Boolean) {
  private val walk = walkPasses > 0
  private val tracer = new Tracer(spark.sparkContext, traced)
  private val drops = work.resolve("drops")
  private val tables = work.resolve("tables").toString
  private val pipe = new Pipe(spark, work.resolve("pipe"))
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private def add(name: String, v: Double): Unit =
    layer(name) = layer.getOrElse(name, 0.0) + v
  private var forcedGcMs = 0L
  private var heapPeakMb = 0.0

  private def sampleHeap(): Unit = {
    val (mb, ms) = Host.liveHeapMb()
    forcedGcMs += ms
    heapPeakMb = math.max(heapPeakMb, mb)
  }

  def run(): Unit = {
    val readPlan = readPlanByRound()
    val cycles = mutable.ArrayBuffer.empty[String]
    val reads = mutable.ArrayBuffer.empty[String]
    var round = 0
    var broken = false
    def drop(i: Int) = drops.resolve(f"cycle_$i%03d")
    def oneCycle(timed: Boolean): Unit = {
      val (fields, ok) = cycle(pipe, drop(round), timed)
      broken = !ok
      // reads follow the timed cycles and the last warm-up cycle
      val rs = if (ok && round >= warmup - 1) readPlan.get(round).toSeq.flatMap {
        case (ms, ks) => consumerReads(round, ms, ks, timed) } else Nil
      val (steal, total) = Host.cpuJiffies()
      cycles += Json.obj(Seq("round" -> Json.num(round), "timed" -> Json.bool(timed),
        "steal_jiffies" -> Json.num(steal), "cpu_jiffies" -> Json.num(total),
        "jit_ms" -> Json.num(Host.jitMs)) ++ fields: _*)
      reads ++= rs
      round += 1
    }

    // ---- set-up: the backfill and the warm-up cycles in this thread.
    // Beside them, in a thread of its own, the walk's warm-up, or without
    // a walk, discarded cycles on a pipeline root of their own over copies
    // of the warm-up drops: the JIT then sees the pipeline's code about
    // twice as often while the set-up lasts, and the timed cycles start
    // nearer their plateau.
    tracer.active = false
    val setupPhases = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally setupPhases.synchronized {
        setupPhases(name) = (System.nanoTime() - t0) / 1e9
      }
    }
    val sample = PerfBench.walkSample(SparkEntry.queries.keys)
    val sideDrops = if (walk) Nil else (0 until PerfBench.sideCycles).map { i =>
      val d = Files.createDirectories(work.resolve(f"side-drops/s$i%02d"))
      list(drop(i % warmup)).foreach(f => Files.copy(f, d.resolve(s"s${i}_${f.getFileName}")))
      d
    }
    val beside = new Thread(() =>
      if (walk) phase("walk_warmup_s") {
        benchWarmUp()
        walkPass(sample, timed = false)
      } else phase("side_warmup_s") {
        val side = new Pipe(spark, work.resolve("side"))
        sideDrops.foreach(d => cycle(side, d, timed = false))
      })
    beside.start()
    val (_, backfillOk) = phase("backfill_s") {
      cycle(pipe, drops.resolve("setup"), timed = false) }
    require(backfillOk, "the backfill cycle failed")
    phase("warmup_cycles_s") { while (!broken && round < warmup) oneCycle(timed = false) }
    phase("beside_wait_s") { beside.join() }
    tracer.drain()
    tracer.active = true

    // ---- timed phase
    val setupS = System.currentTimeMillis() / 1e3 -
      ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val (steal0, total0) = Host.cpuJiffies()
    val gc0 = Host.gcMs - forcedGcMs
    val jit0 = Host.jitMs
    val bytes0 = tracer.bytesWritten
    val firstTimed = round
    while (!broken && Files.isDirectory(drop(round))) oneCycle(timed = true)
    val timedCycles = round - firstTimed
    sampleHeap()
    tracer.drain()
    val cycleBytes = tracer.bytesWritten - bytes0
    val passes = mutable.ArrayBuffer.empty[Seq[String]]
    if (!broken) while (passes.size < walkPasses) passes += walkPass(sample, timed = true)
    val (steal1, total1) = Host.cpuJiffies()
    val gcS = (Host.gcMs - forcedGcMs - gc0) / 1e3
    val jitS = (Host.jitMs - jit0) / 1e3
    tracer.drain()
    if (traced) summarizeSpans(timedCycles, passes.size)
    val dwFiles = parquetFiles(pipe.dw)
    val out = Json.obj(
      "setup_s" -> Json.num(setupS),
      "setup_phases" -> Json.obj(setupPhases.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "cores" -> Json.num(cores),
      "steal_jiffies" -> Json.num(steal1 - steal0),
      "cpu_jiffies" -> Json.num(total1 - total0),
      "gc_s" -> Json.num(gcS),
      "jit_s" -> Json.num(jitS),
      "live_heap_mb" -> Json.num(heapPeakMb),
      "cycle_bytes_written" -> Json.num(cycleBytes.toDouble),
      "cycles" -> Json.arr(cycles.toSeq),
      "reads" -> Json.arr(reads.toSeq),
      "passes" -> Json.arr(passes.toSeq.map(Json.arr)),
      "oracle" -> Json.obj(sample.map(n =>
        n -> SparkEntry.oracleSql.get(n).map(Json.str).getOrElse("null")): _*),
      "dw_files" -> Json.num(dwFiles.size),
      "dw_bytes" -> Json.num(dwFiles.map(Files.size).sum.toDouble),
      "pipe" -> Json.str(pipe.root.toString),
      "layers" -> Json.obj(layer.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "spans" -> Json.arr(tracer.all.map(s => Json.obj(
        "id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "name" -> Json.str(s.name), "start_ns" -> Json.num(s.startNs),
        "end_ns" -> Json.num(s.endNs)))))
    Files.writeString(work.resolve("result.json"), out)
  }

  /** Land `drop` on the remote side of `on` (the external system's step,
    * not timed), then run one cron cycle there. Returns the cycle record
    * and whether every stage returned. */
  private def cycle(on: Pipe, drop: Path, timed: Boolean): (Seq[(String, String)], Boolean) = {
    list(drop).foreach(f => Files.move(f, on.inbox.resolve(f.getFileName)))
    val p = on.pipeline
    try {
      val t0 = System.nanoTime()
      var fresh = 0.0
      // file-system snapshots feed the per-layer counters; the untraced
      // run takes none
      val snap = traced && timed
      val rec = tracer.span("cycle") {
        val stagingBefore = if (snap) parquetFiles(on.staging).size else 0
        val rep = tracer.span("ingest") {
          SftpStager.stage(new SftpStager.LocalStore(on.remote), "inbox", on.novos)
        }
        val loads = tracer.span("load") {
          p.loadStageReport(on.novos, on.lidos, on.erros)
        }
        val stagingAfter = if (snap) parquetFiles(on.staging).size else 0
        val dwBefore = if (snap) parquetFiles(on.dw).toSet else Set.empty[Path]
        tracer.span("upsert") { p.upsertDw() }
        fresh = (System.nanoTime() - t0) / 1e9
        val rewritten = if (snap) {
          // Spark names every file it writes anew: a partition holding a
          // new name was rewritten
          parquetFiles(on.dw).filterNot(dwBefore)
            .map(f => on.dw.relativize(f).getName(0).toString).distinct.sorted
        } else Nil
        val compact = tracer.span("compact") { p.compactStaging() }
        val arch = tracer.span("archive") { p.archive() }
        val loaded = loads.filter(_.status == "loaded")
        if (snap) {
          add("ingest.files", rep.downloaded.size)
          add("ingest.bytes",
            rep.downloaded.map(n => Files.size(on.novos.resolve(n))).sum.toDouble)
          add("load.files", loads.size)
          add("load.rows", loaded.map(_.rows).sum.toDouble)
          add("load.files_quarantined", loads.count(_.status == "quarantined"))
          add("load.staging_files_written", (stagingAfter - stagingBefore).toDouble)
          add("upsert.partitions_rewritten", rewritten.size)
          if (!compact.skipped) add("compact.bytes_rewritten", compact.bytesBefore.toDouble)
          add("compact.files_before", compact.filesBefore)
          add("archive.rows_moved", arch.moved.toDouble)
        }
        Seq(
          "downloaded" -> Json.arr(rep.downloaded.map(Json.str)),
          "loaded" -> Json.arr(loaded.map(r => Json.str(r.file))),
          "quarantined" -> Json.arr(loads.filter(_.status == "quarantined").map(r => Json.str(r.file))),
          "load_rows" -> Json.num(loaded.map(_.rows).sum.toDouble),
          "archived" -> Json.num(arch.moved.toDouble),
          "partitions_rewritten" -> Json.arr(rewritten.map(Json.str)),
          "lock_busy" -> Json.bool(arch.lockBusy || loads.exists(_.status == "lock_busy")))
      }
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] ${if (timed) "cycle" else "warm-up cycle"} " +
        f"${drop.getFileName}: $secs%.2f s")
      (rec ++ Seq("cycle_s" -> Json.num(secs), "freshness_s" -> Json.num(fresh),
        "ok" -> Json.bool(true)), true)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] cycle on $drop failed: $e")
        (Seq("ok" -> Json.bool(false), "error" -> Json.str(e.toString)), false)
    }
  }

  /** `reads.tsv`: round, months, keys — chosen by the input generator from
    * the months and keys the DW holds after that round. */
  private def readPlanByRound(): Map[Int, (Seq[String], Seq[String])] =
    Files.readAllLines(work.resolve("reads.tsv")).asScala.filter(_.nonEmpty).map { l =>
      val Array(r, ms, ks) = l.split("\t", -1)
      r.toInt -> (ms.split(",").toSeq.filter(_.nonEmpty), ks.split(",").toSeq.filter(_.nonEmpty))
    }.toMap

  private val fullRow = graft.etl.Schemas.fatSchema.fieldNames.toSeq.map(col)

  /** The consumer reads after one round; each hashes every column of the
    * rows it selects and returns, per group, the row count and the newest
    * event. */
  private def consumerReads(round: Int, months: Seq[String], keys: Seq[String],
      timed: Boolean): Seq[String] = {
    val p = pipe.pipeline
    def one(kind: String, arg: String, df: => DataFrame, grouped: Boolean): String = {
      val t0 = System.nanoTime()
      val common = Seq("round" -> Json.num(round), "timed" -> Json.bool(timed),
        "kind" -> Json.str(kind), "arg" -> Json.str(arg))
      try {
        val (rows, a) = tracer.span("read") {
          val base = df
          val g = if (grouped) date_format(col("data_nfe"), "yyyy-MM") else lit("")
          val a = base.groupBy(g.as("m")).agg(count(lit(1)).as("n"),
            max(unix_timestamp(col("data_ultima_ocr"))).as("ev"),
            bit_xor(xxhash64(fullRow: _*)).as("h"))
          (a.collect().toSeq, a)
        }
        val secs = (System.nanoTime() - t0) / 1e9
        if (traced && timed) scanMetrics(a, rows.map(_.getLong(1)).sum)
        Json.obj(common ++ Seq("s" -> Json.num(secs), "ok" -> Json.bool(true),
          "groups" -> Json.arr(rows.map(r => Json.arr(Seq(
            Json.str(r.getString(0)), Json.num(r.getLong(1)),
            if (r.isNullAt(2)) "null" else Json.num(r.getLong(2))))))): _*)
      } catch {
        case e: Exception =>
          Json.obj(common ++ Seq("s" -> Json.num((System.nanoTime() - t0) / 1e9),
            "ok" -> Json.bool(false), "error" -> Json.str(e.toString)): _*)
      }
    }
    months.map(m => one("month", m, p.readDwMonth(m), grouped = false)) ++
      keys.map(k => one("key", k,
        p.readDw().filter(col("chave_nfe") === k), grouped = false)) :+
      one("full", "", p.readDw(), grouped = true)
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private def scanMetrics(df: DataFrame, rowsReturned: Long): Unit = {
    val scans = Plans.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    add("read.files_scanned", scans.map(m(_, "numFiles")).sum.toDouble)
    add("read.rows_scanned", scans.map(m(_, "numOutputRows")).sum.toDouble)
    add("read.rows_returned", rowsReturned.toDouble)
  }

  /** Bench's warm-up: a range aggregate and a window + join + aggregate
    * over a slice of the walk's own orders table. */
  private def benchWarmUp(): Unit = {
    import org.apache.spark.sql.expressions.Window
    spark.range(1000000).selectExpr("sum(id)").collect()
    val o = spark.read.parquet(s"$tables/orders.parquet").limit(1000)
    o.withColumn("rn",
        row_number().over(Window.partitionBy("o_orderstatus").orderBy("o_orderkey")))
      .join(o.select("o_orderkey"), "o_orderkey")
      .groupBy("o_orderstatus").agg(sum("o_totalprice")).collect()
  }

  /** The query groups, mapped through each object's public `.all`. */
  private val groupOf: Map[String, String] = {
    import graft.queries._
    Seq("EtlQueries" -> EtlQueries.all, "Relational" -> Relational.all,
      "Relational2" -> Relational2.all, "Relational3" -> Relational3.all,
      "TextOps" -> TextOps.all, "DedupOps" -> DedupOps.all,
      "SimilarityOps" -> SimilarityOps.all, "MultimodalOps" -> MultimodalOps.all,
      "CorpusOps" -> CorpusOps.all, "PrivacyOps" -> PrivacyOps.all,
      "FunnelOps" -> FunnelOps.all, "RobustStatsOps" -> RobustStatsOps.all,
      "DiagOps" -> DiagOps.all, "GraphOps" -> GraphOps.all, "PqOps" -> PqOps.all,
      "CatalogOps" -> CatalogOps.all, "UnigramOps" -> UnigramOps.all,
      "LmOps" -> LmOps.all, "CurationOps" -> CurationOps.all,
      "SketchOps" -> SketchOps.all, "CorpusStatsOps" -> CorpusStatsOps.all)
      .flatMap { case (g, qs) => qs.map(_.name -> g) }.toMap
  }

  /** One pass over the sample, each query forced with the full-row action;
    * the session cache registry is released after it, so every pass does
    * the same work. */
  private def walkPass(sample: Seq[String], timed: Boolean): Seq[String] = {
    val out = sample.map { name =>
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      var t1 = t0
      val res = scala.util.Try {
        tracer.span(s"query:$name") {
          val df = tracer.span("build") { fn(spark, tables) }
          t1 = System.nanoTime()
          tracer.span("action") { FullRow.force(df) }
        }
      }
      val t2 = System.nanoTime()
      val (build, action) = ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
      val common = Seq("name" -> Json.str(name), "group" -> Json.str(groupOf(name)),
        "build_s" -> Json.num(build), "action_s" -> Json.num(action))
      res match {
        case scala.util.Success((rows, forced)) =>
          if (traced && timed) {
            add("q.build_s", build)
            add("q.action_s", action)
            add("q.plan_nodes", Plans.collect(forced.queryExecution.executedPlan) {
              case n => n }.size)
            val cached = spark.sparkContext.getRDDStorageInfo
              .map(i => i.memSize + i.diskSize).sum.toDouble
            layer("q.cache_bytes") = math.max(layer.getOrElse("q.cache_bytes", 0.0), cached)
          }
          Json.obj(common ++ Seq("rows" -> Json.num(rows), "ok" -> Json.bool(true)): _*)
        case scala.util.Failure(e) =>
          System.err.println(s"[perfbench] query $name failed: $e")
          Json.obj(common ++ Seq("ok" -> Json.bool(false), "error" -> Json.str(e.toString)): _*)
      }
    }
    if (timed) sampleHeap()
    graft.queries.Util.releaseCaches(spark)
    System.err.println(f"[perfbench] ${if (timed) "walk" else "warm-up walk"}: " +
      f"${out.size} queries")
    out
  }

  /** Per-layer busy time and Spark counters from the recorded spans,
    * per timed cycle for the pipeline layers and per pass for the walk. */
  private def summarizeSpans(cycles: Int, passes: Int): Unit = {
    val perCycle = 1.0 / math.max(1, cycles)
    val perPass = 1.0 / math.max(1, passes)
    for ((k, v) <- layer.toSeq if !k.startsWith("q.") && !k.startsWith("read."))
      layer(k) = v * perCycle
    for (k <- Seq("q.build_s", "q.action_s", "q.plan_nodes"))
      layer(k) = layer.getOrElse(k, 0.0) * perPass
    val stages = Set("ingest", "load", "upsert", "compact", "archive", "read")
    val wall = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val runNs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    tracer.all.foreach { s =>
      val stage = if (stages(s.name)) Some(s.name)
        else if (s.name.startsWith("query:")) Some("q") else None
      stage.foreach { l =>
        val c = tracer.countersUnder(s)
        val per = if (l == "q") perPass else perCycle
        if (l == "q") add(s"q.${groupOf(s.name.stripPrefix("query:"))}.busy_s",
          s.seconds * per)
        else add(s"$l.busy_s", s.seconds * per)
        wall(l) += s.seconds
        runNs(l) += c.runMs / 1e3
        add(s"$l.jobs", c.jobs * per)
        if (l == "upsert") {
          add("upsert.driver_s", math.max(0.0, s.seconds - c.jobNs / 1e9) * per)
          add("upsert.shuffle_bytes", c.shuffleBytes * per)
          add("upsert.spill_bytes", c.spillBytes * per)
          add("upsert.bytes_written", c.bytesWritten * per)
          add("upsert.records_written", c.recordsWritten * per)
        }
        if (l == "archive") add("archive.bytes_written", c.bytesWritten * per)
        if (l == "q") {
          add("q.tasks", c.tasks * per)
          add("q.shuffle_bytes", c.shuffleBytes * per)
          add("q.spill_bytes", c.spillBytes * per)
        }
      }
    }
    for (l <- Seq("load", "upsert", "q"))
      layer(s"$l.task_util") = runNs(l) / math.max(1e-9, wall(l) * cores)
    layer("trace.overhead_s") = tracer.overheadSeconds
  }

  private def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
  }

  private def parquetFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && n.endsWith(".parquet") && !n.startsWith(".")
      }.toSeq finally s.close()
    }
}

/** Bench's measured action: hash every column of every row into one
  * aggregate, so no column or join can be pruned away. Map columns cannot
  * be hashed; with nothing hashable the action falls back to count(). */
object FullRow {
  private def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
  }

  /** Returns the row count and the DataFrame whose plan ran. */
  def force(df: DataFrame): (Long, DataFrame) = {
    val hashable = df.schema.fields.filterNot(f => hasMap(f.dataType))
      .map(f => s"`${f.name.replace("`", "``")}`")
    if (hashable.isEmpty) (df.count(), df)
    else {
      val a = df.selectExpr(s"bit_xor(xxhash64(${hashable.mkString(", ")})) AS h",
        "count(*) AS n")
      (a.collect().head.getLong(1), a)
    }
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(l: Long): String = l.toString
  def num(i: Int): String = i.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
