package graft.etl

import java.nio.file.{Files, Path}

import org.apache.spark.sql.execution.FileSourceScanExec

import graft.SparkSpec

/** The DW fat table is written partitioned by `nfe_month` (yyyy-MM of
  * data_nfe) — the engine's analog of the reference's date index on
  * fat_pedidos (sql/ddl_fat_pedidos). This spec proves the 100 TB read
  * pattern: a month-filtered read carries a non-empty PartitionFilters in
  * the physical scan (directory pruning, not a full-table read), and the
  * canonical readDw round-trips the fatSchema shape unchanged, NULL
  * data_nfe rows included. */
class DwPartitionSpec extends SparkSpec {

  private val header =
    "ID;Pedido;Chave NFe;Valor Nfe;Peso;UF;Data Nfe;Data Última Ocr.;Qtd. Volumes;CD;Data Inserção"
  private val k1 = "1" * 44
  private val k2 = "2" * 44
  private val k3 = "3" * 44

  private def writeCsv(dir: Path, name: String, rows: String*): Unit =
    Files.write(dir.resolve(name),
      (header + "\n" + rows.mkString("\n") + "\n").getBytes("UTF-8"))

  test("upsertDw writes month partitions; month read prunes; readDw keeps fatSchema") {
    val root = tempDir("dwpart")
    val novos = Files.createDirectories(root.resolve("novos"))
    val pipeline = new Pipeline(spark,
      root.resolve("staging").toString, root.resolve("dw").toString,
      root.resolve("hist").toString)
    // two months + one NULL data_nfe row
    writeCsv(novos, "f1.csv",
      s"1;P1;$k1;1,00;1,0;SP;31/12/2024;01/01/2024 10:00:00;1;CD1;01/01/2024 09:00:00",
      s"2;P2;$k2;2,00;1,0;RJ;15/11/2024;01/01/2024 10:00:00;1;CD1;01/01/2024 09:00:00",
      s"3;P3;$k3;3,00;1,0;MG;;01/01/2024 10:00:00;1;CD1;01/01/2024 09:00:00")
    val (ok, bad) = pipeline.loadStage(novos,
      root.resolve("lidos"), root.resolve("erros"))
    assert(ok == 1 && bad == 0)
    pipeline.upsertDw()

    // physical layout: one directory per month + the Hive default
    // partition for the NULL date
    val dirs = Files.list(root.resolve("dw")).iterator()
    val parts = scala.jdk.CollectionConverters.IteratorHasAsScala(dirs)
      .asScala.map(_.getFileName.toString)
      .filter(_.startsWith("nfe_month=")).toSet
    assert(parts.contains("nfe_month=2024-12"), parts)
    assert(parts.contains("nfe_month=2024-11"), parts)
    assert(parts.contains("nfe_month=__HIVE_DEFAULT_PARTITION__"), parts)

    // canonical read: fatSchema shape, all three rows (NULL month included)
    val dw = pipeline.readDw()
    assert(dw.schema.fieldNames.toSeq == Schemas.fatSchema.fieldNames.toSeq)
    assert(dw.count() == 3)

    // pruned read: PartitionFilters non-empty, only that month's files scanned
    val pruned = pipeline.readDwMonth("2024-12")
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScanExec in the pruned plan"))
    assert(scan.partitionFilters.nonEmpty,
      s"expected partition pruning, plan:\n${pruned.queryExecution.executedPlan}")
    val rows = pruned.collect()
    assert(rows.length == 1 && rows.head.getAs[String]("chave_nfe") == k1)
    // the scan actually read one partition directory, not three
    assert(scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .map(_.files.size).sum == 1)
  }

  test("readDwMonth on a legacy unpartitioned DW falls back to data_nfe (not empty)") {
    val root = tempDir("dwlegacy")
    val novos = Files.createDirectories(root.resolve("novos"))
    val dwDir = root.resolve("dw").toString
    val pipeline = new Pipeline(spark,
      root.resolve("staging").toString, dwDir, root.resolve("hist").toString)
    writeCsv(novos, "f1.csv",
      s"1;P1;$k1;1,00;1,0;SP;31/12/2024;01/01/2024 10:00:00;1;CD1;01/01/2024 09:00:00",
      s"2;P2;$k2;2,00;1,0;RJ;15/11/2024;01/01/2024 10:00:00;1;CD1;01/01/2024 09:00:00")
    pipeline.loadStage(novos, root.resolve("lidos"), root.resolve("erros"))
    pipeline.upsertDw()

    // rewrite the DW as a flat (pre-partitioning) layout: same rows, no
    // nfe_month= directories
    val rows = pipeline.readDw()
    val flat = tempDir("dwflat").toString
    rows.write.mode("overwrite").parquet(flat)
    val legacy = new Pipeline(spark,
      root.resolve("staging2").toString, flat, root.resolve("hist2").toString)

    assert(Pipeline.isLegacyUnpartitionedDw(flat))
    assert(!Pipeline.isLegacyUnpartitionedDw(dwDir))
    assert(!Pipeline.isLegacyUnpartitionedDw(root.resolve("absent").toString))

    // the month read must return the December row, not a silent empty frame
    val dec = legacy.readDwMonth("2024-12").collect()
    assert(dec.length == 1 && dec.head.getAs[String]("chave_nfe") == k1)
    assert(legacy.readDwMonth("2024-11").count() == 1)
    assert(legacy.readDwMonth("2024-10").count() == 0)
    // schema parity with the partitioned fast path
    assert(legacy.readDwMonth("2024-12").schema.fieldNames.toSeq ==
      pipeline.readDwMonth("2024-12").schema.fieldNames.toSeq)
  }
}
