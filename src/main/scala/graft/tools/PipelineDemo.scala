package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{col, date_format}

import graft.etl._
import graft.ingest.SftpStager

/** Runnable end-to-end demo of the engine's ETL surface:
  * stage remote CSVs → load to staging → typed dedup upsert into DW →
  * archive. Usage: runMain graft.tools.PipelineDemo <workdir> [--stream]
  * where <workdir>/remote contains input CSVs. Prints the DW state.
  * With --stream, remote/ is staged into landing/ (same input layout as
  * batch mode) and consumed by the Structured Streaming pipeline
  * (checkpoint as the processed-file ledger) instead of the batch loader;
  * CSVs must then be staging-shaped (41 canonical columns — the static
  * stream schema can't do per-file header sniffing, so display-header
  * files flow through as all-NULL rows and are dropped by the key gate). */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    if (args.contains("--stream")) { streamMain(args.filterNot(_ == "--stream")); return }
    val work = Paths.get(args.headOption.getOrElse("/tmp/graft-demo"))
    val spark = graft.Session.local(graft.Session.cpus)

    val landing = work.resolve("novos")
    val report = SftpStager.stage(new SftpStager.LocalStore(work), "remote", landing)
    println(s"[stager] downloaded=${report.downloaded} skipped=${report.skipped} failed=${report.failed}")

    val pipeline = new Pipeline(spark,
      work.resolve("staging").toString,
      work.resolve("dw").toString,
      work.resolve("hist").toString)
    val (ok, bad) = pipeline.loadStage(landing, work.resolve("lidos"), work.resolve("erros"))
    println(s"[stage-load] loaded=$ok quarantined=$bad")

    val stagingRows =
      if (Files.exists(work.resolve("staging")))
        spark.read.schema(Schemas.stagingSchema).parquet(work.resolve("staging").toString).count()
      else 0L
    println(s"[staging] rows=$stagingRows")

    pipeline.upsertDw()
    val dw = pipeline.readDw()
    println(s"[dw] rows=${dw.count()}")
    // the partitioned layout's payoff: a month read prunes to its directory
    val months = dw.select(date_format(col("data_nfe"), "yyyy-MM").as("m"))
      .filter(col("m").isNotNull).distinct().orderBy("m")
      .collect().map(_.getString(0))
    months.headOption.foreach { m =>
      println(s"[dw] month $m rows=${pipeline.readDwMonth(m).count()} (pruned scan)")
    }
    dw.select("chave_nfe", "id", "pedido", "valor_nfe", "peso", "uf",
      "data_nfe", "data_ultima_ocr", "qtd_volumes", "arquivo_origem")
      .orderBy("chave_nfe").show(20, truncate = false)

    // the SQL-side addressing: namespaces registered over the same dirs
    GraftCatalog.register(spark, work.resolve("staging").toString,
      work.resolve("dw").toString, work.resolve("hist").toString)
    val viaCatalog = spark.sql(
      s"SELECT COUNT(*) AS n FROM ${GraftCatalog.dwTable}").collect()(0).getLong(0)
    println(s"[catalog] spark.table(${GraftCatalog.dwTable}) rows=$viaCatalog")

    // staging small-files maintenance (one parquet file set per loaded CSV)
    val comp = pipeline.compactStaging()
    println(s"[compact] files=${comp.filesBefore}->${comp.filesAfter} " +
      s"skipped=${comp.skipped}")

    val audit = pipeline.archive()
    println(s"[archive] moved=${audit.moved} batch_id=${audit.batchId}")
    // archive() creates the hist dir even when it moves 0 rows (an
    // all-quarantined run) — an empty dir must read as 0, not crash the
    // demo with UNABLE_TO_INFER_SCHEMA
    val histHasFiles = Files.exists(work.resolve("hist")) && {
      val st = Files.list(work.resolve("hist"))
      try st.anyMatch(p => p.toString.endsWith(".parquet"))
      finally st.close()
    }
    val histRows =
      if (histHasFiles)
        spark.read.parquet(work.resolve("hist").toString).count()
      else 0L
    println(s"[hist] rows=$histRows")
    spark.stop()
  }

  private def streamMain(args: Array[String]): Unit = {
    val work = Paths.get(args.headOption.getOrElse("/tmp/graft-demo-stream"))
    val spark = graft.Session.local(graft.Session.cpus)
    val dw = work.resolve("dw").toString
    // stage remote/ → landing/ like batch mode does, so the two CLIs take
    // the same input layout; an absent remote/ just means an empty landing
    // (the file stream needs the DIRECTORY to exist either way — Spark's
    // file source throws PATH_NOT_FOUND on a missing watch dir)
    val landing = work.resolve("landing")
    java.nio.file.Files.createDirectories(landing)
    if (java.nio.file.Files.isDirectory(work.resolve("remote"))) {
      val report = SftpStager.stage(new SftpStager.LocalStore(work), "remote", landing)
      println(s"[stager] downloaded=${report.downloaded} skipped=${report.skipped} " +
        s"failed=${report.failed}")
    }
    val q = graft.streaming.StreamingPipeline.pedidosStream(
      spark, landing.toString, dw,
      work.resolve("ckpt").toString)
    q.awaitTermination()
    val dwDf = Pipeline.readDw(spark, dw)
    println(s"[stream-dw] rows=${dwDf.count()}")
    dwDf.select("chave_nfe", "id", "valor_nfe", "data_ultima_ocr")
      .orderBy("chave_nfe").show(10, truncate = false)
    spark.stop()
  }
}
