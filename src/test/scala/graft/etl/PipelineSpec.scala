package graft.etl

import graft.SparkSpec
import graft.ingest.SftpStager
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** End-to-end golden pipeline test (SURVEY §5.4): stage CSVs → staging →
  * typed dedup upsert → DW → archive → hist; plus stager behavior. */
class PipelineSpec extends SparkSpec {

  private val header =
    "ID;Pedido;Chave NFe;Valor Nfe;Peso;UF;Data Nfe;Data Última Ocr.;Qtd. Volumes;CD;Data Inserção"
  private val k1 = "1" * 44
  private val k2 = "2" * 44

  private def writeCsv(dir: Path, name: String, rows: String*): Unit =
    Files.write(dir.resolve(name), (header + "\n" + rows.mkString("\n") + "\n").getBytes("UTF-8"))

  test("full pipeline: load → upsert (dedup + merge) → archive") {
    val root = tempDir("pipe")
    val novos = Files.createDirectories(root.resolve("novos"))
    val lidos = root.resolve("lidos"); val erros = root.resolve("erros")
    val pipeline = new Pipeline(spark,
      root.resolve("staging").toString, root.resolve("dw").toString,
      root.resolve("hist").toString)

    // file 1: two occurrences of k1 (older + newer event) and one k2
    writeCsv(novos, "f1.csv",
      s"1;P1;$k1;1.234,56;1,5;SP;31/12/2024;01/01/2024 10:00:00;3;CD1;01/01/2024 09:00:00",
      s"2;P1;$k1;;2,0;sp;31/12/2024;02/01/2024 10:00:00;;CD1;02/01/2024 09:00:00",
      s"3;P2;$k2;10,0;0,5;RJ;2024-11-30;02/01/2024 08:00:00;1;CD2;02/01/2024 09:00:00")
    // a quarantine file: unknown header
    Files.write(novos.resolve("junk.csv"), "a;b\n1;2\n".getBytes)

    val (ok, bad) = pipeline.loadStage(novos, lidos, erros)
    assert(ok == 1 && bad == 1)
    assert(Files.exists(lidos.resolve("f1.csv")))
    assert(Files.exists(erros.resolve("junk.csv")))

    pipeline.upsertDw()
    val dw1 = pipeline.readDw().orderBy("chave_nfe").collect()
    assert(dw1.length == 2)
    val r1 = dw1(0)
    // newest occurrence of k1 won (id=2), but valor_nfe coalesced from within
    // the batch? No — dedup keeps only the newest row; its null valor stays null
    // on first insert (no prior DW row to coalesce against).
    assert(r1.getAs[String]("id") == "2")
    assert(r1.getAs[java.math.BigDecimal]("valor_nfe") == null)
    assert(r1.getAs[String]("uf") == "SP")

    // archive drains staging between cycles (the reference cadence runs
    // stage 4 after stage 3 every 2 h)
    val audit1 = pipeline.archive()
    assert(audit1.moved == 3)

    // second batch: older event for k1 (must NOT replace event cols, but its
    // non-null valor_nfe fills via COALESCE)
    writeCsv(novos, "f2.csv",
      s"9;P1;$k1;99,90;;SP;31/12/2024;01/01/2023 00:00:00;7;CD1;03/01/2024 09:00:00")
    val (ok2, _) = pipeline.loadStage(novos, lidos, erros)
    assert(ok2 == 1)
    pipeline.upsertDw()
    val dw2 = pipeline.readDw().orderBy("chave_nfe").collect()
    assert(dw2.length == 2)
    val r2 = dw2(0)
    assert(r2.getAs[java.sql.Timestamp]("data_ultima_ocr") ==
      java.sql.Timestamp.valueOf("2024-01-02 10:00:00")) // kept newer event
    assert(r2.getAs[java.math.BigDecimal]("valor_nfe")
      .compareTo(new java.math.BigDecimal("99.90")) == 0) // coalesce filled
    assert(r2.getAs[Integer]("qtd_volumes") == 7)

    // archive: staging drained into hist, one batch_id per run
    val audit2 = pipeline.archive()
    assert(audit2.moved == 1)
    val hist = spark.read.parquet(root.resolve("hist").toString)
    assert(hist.count() == 4)
    assert(hist.select("batch_id").distinct().count() == 2)
    val stagingAfter = spark.read.schema(Schemas.stagingSchema)
      .parquet(root.resolve("staging").toString)
    assert(stagingAfter.count() == 0)
  }

  test("catalog: register + write-then-refresh keeps spark.table in sync " +
      "with the path-addressed pipeline") {
    val root = tempDir("pipecat")
    val novos = Files.createDirectories(root.resolve("novos"))
    val lidos = root.resolve("lidos"); val erros = root.resolve("erros")
    val stagingP = root.resolve("staging").toString
    val dwP = root.resolve("dw").toString
    val histP = root.resolve("hist").toString
    val pipeline = new Pipeline(spark, stagingP, dwP, histP)

    // registration before any data exists: tables resolve and read empty
    GraftCatalog.register(spark, stagingP, dwP, histP)
    assert(spark.table(GraftCatalog.dwTable).count() == 0)
    assert(spark.table(GraftCatalog.stagingTable).count() == 0)

    writeCsv(novos, "f1.csv",
      s"1;P1;$k1;1.234,56;1,5;SP;31/12/2024;01/01/2024 10:00:00;3;CD1;01/01/2024 09:00:00",
      s"3;P2;$k2;10,0;0,5;RJ;2024-11-30;02/01/2024 08:00:00;1;CD2;02/01/2024 09:00:00")
    pipeline.loadStage(novos, lidos, erros)
    pipeline.upsertDw()
    pipeline.archive()
    GraftCatalog.refresh(spark)

    // catalog reads ≡ path reads, per table
    val dwCat = spark.table(GraftCatalog.dwTable)
      .drop(Pipeline.dwPartitionCol)
      .orderBy("chave_nfe").collect().toSeq
    val dwPath = pipeline.readDw().orderBy("chave_nfe").collect().toSeq
    assert(dwCat.nonEmpty && dwCat == dwPath)
    assert(spark.table(GraftCatalog.histTable).count() == 2)
    assert(spark.table(GraftCatalog.stagingTable).count() == 0)

    // month predicate on the catalog table ≡ the pruned path read
    val m1 = spark.table(GraftCatalog.dwTable)
      .filter(org.apache.spark.sql.functions
        .col(Pipeline.dwPartitionCol) === "2024-12")
      .drop(Pipeline.dwPartitionCol).collect().toSeq
    val m2 = pipeline.readDwMonth("2024-12").collect().toSeq
    assert(m1.map(_.getAs[String]("chave_nfe")).sorted ==
      m2.map(_.getAs[String]("chave_nfe")).sorted)
    assert(m1.length == 1)

    // second write cycle: the DW directory is atomically SWAPPED —
    // refresh must pick up the new generation and re-sync partitions
    writeCsv(novos, "f2.csv",
      s"9;P3;${"3" * 44};50,0;1,0;MG;15/06/2024;05/01/2024 10:00:00;2;CD3;05/01/2024 09:00:00")
    pipeline.loadStage(novos, lidos, erros)
    pipeline.upsertDw()
    GraftCatalog.refresh(spark)
    val dwCat2 = spark.table(GraftCatalog.dwTable)
    assert(dwCat2.count() == 3)
    // the NEW month partition is discovered by the sync
    assert(dwCat2.filter(org.apache.spark.sql.functions
      .col(Pipeline.dwPartitionCol) === "2024-06").count() == 1)
  }

  test("archive dedupOnReplay: crash between append and truncate does not double-archive") {
    val root = tempDir("archive-replay")
    val stagingPath = root.resolve("staging").toString
    val histPath = root.resolve("hist").toString
    val rows = Seq(("10", k1), ("11", k2)).map { case (id, key) =>
      org.apache.spark.sql.Row.fromSeq(Schemas.stagingSchema.fieldNames.map {
        case "id" => id
        case "chave_nfe" => key
        case _ => ""
      }.toIndexedSeq)
    }
    def writeStaging(): Unit = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Schemas.stagingSchema)
      .write.mode("overwrite").parquet(stagingPath)

    writeStaging()
    val a1 = Archive.run(spark, stagingPath, histPath)
    assert(a1.moved == 2)
    // simulate the crash window: hist append succeeded but the staging
    // truncate was lost — the same rows are back in staging
    writeStaging()
    val a2 = Archive.run(spark, stagingPath, histPath, dedupOnReplay = true)
    assert(a2.moved == 0) // already in hist — not re-archived
    assert(spark.read.parquet(histPath).count() == 2)
    assert(spark.read.schema(Schemas.stagingSchema).parquet(stagingPath).count() == 0) // still truncated
    // a genuinely new row on replay IS archived
    val rows3 = rows :+ org.apache.spark.sql.Row.fromSeq(
      Schemas.stagingSchema.fieldNames.map {
        case "id" => "12"
        case "chave_nfe" => k1
        case _ => ""
      }.toIndexedSeq)
    spark.createDataFrame(spark.sparkContext.parallelize(rows3), Schemas.stagingSchema)
      .write.mode("overwrite").parquet(stagingPath)
    val a3 = Archive.run(spark, stagingPath, histPath, dedupOnReplay = true)
    assert(a3.moved == 1)
    assert(spark.read.parquet(histPath).count() == 3)
  }

  test("run lock: concurrent archive/loadStage no-op cleanly while held, succeed after release") {
    val root = tempDir("runlock")
    val stagingPath = root.resolve("staging").toString
    val pipeline = new Pipeline(spark, stagingPath,
      root.resolve("dw").toString, root.resolve("hist").toString,
      lockWaitMs = 200)
    // stage one row so a successful archive has something to move
    val row = org.apache.spark.sql.Row.fromSeq(
      Schemas.stagingSchema.fieldNames.map {
        case "id" => "1"; case "chave_nfe" => k1; case _ => ""
      }.toIndexedSeq)
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(row)),
      Schemas.stagingSchema).write.mode("overwrite").parquet(stagingPath)

    // hold the pipeline's lock like a concurrent runner would
    val lockFile = java.nio.file.Paths.get(stagingPath + ".runlock")
    val ch = java.nio.channels.FileChannel.open(lockFile,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
    val held = ch.lock()
    try {
      val busy = pipeline.archive()
      assert(busy.lockBusy && busy.moved == 0)
      // staging untouched by the busy run
      assert(spark.read.schema(Schemas.stagingSchema).parquet(stagingPath).count() == 1)
      val report = pipeline.loadStageReport(
        Files.createDirectories(root.resolve("novos")),
        root.resolve("lidos"), root.resolve("erros"))
      assert(report.map(_.status) == Seq("lock_busy"))
    } finally { held.release(); ch.close() }

    // lock released → the same archive call proceeds
    val audit = pipeline.archive()
    assert(!audit.lockBusy && audit.moved == 1)
    assert(spark.read.schema(Schemas.stagingSchema).parquet(stagingPath).count() == 0)
  }

  test("run lock: a SECOND PROCESS holding the lock file blocks archive (true inter-process semantics)") {
    val root = tempDir("runlock-xproc")
    val stagingPath = root.resolve("staging").toString
    val pipeline = new Pipeline(spark, stagingPath,
      root.resolve("dw").toString, root.resolve("hist").toString,
      lockWaitMs = 300)
    val row = org.apache.spark.sql.Row.fromSeq(
      Schemas.stagingSchema.fieldNames.map {
        case "id" => "7"; case "chave_nfe" => k2; case _ => ""
      }.toIndexedSeq)
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(row)),
      Schemas.stagingSchema).write.mode("overwrite").parquet(stagingPath)

    // compile + run a tiny foreign JVM that holds an OS lock on the file
    val src = root.resolve("LockHolder.java")
    Files.write(src,
      """import java.nio.channels.FileChannel;
        |import java.nio.file.*;
        |public class LockHolder {
        |  public static void main(String[] a) throws Exception {
        |    FileChannel ch = FileChannel.open(Paths.get(a[0]),
        |      StandardOpenOption.CREATE, StandardOpenOption.WRITE);
        |    ch.lock();
        |    System.out.println("HELD");
        |    System.out.flush();
        |    Thread.sleep(60000);
        |  }
        |}
        |""".stripMargin.getBytes("UTF-8"))
    val javac = new ProcessBuilder("javac", src.toString).inheritIO().start()
    assert(javac.waitFor() == 0, "javac failed")
    val lockFile = stagingPath + ".runlock"
    val holder = new ProcessBuilder(
      "java", "-cp", root.toString, "LockHolder", lockFile).start()
    try {
      // wait until the foreign process reports the lock held
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(holder.getInputStream))
      assert(r.readLine() == "HELD")
      val busy = pipeline.archive()
      assert(busy.lockBusy && busy.moved == 0)
    } finally holder.destroyForcibly().waitFor()
    // foreign holder gone → archive proceeds
    val audit = pipeline.archive()
    assert(!audit.lockBusy && audit.moved == 1)
  }

  private val fakeSftp =
    """#!/bin/sh
      |# scripted sftp(1) stand-in: serves batch-mode ls/get against a local
      |# root dir (last argv), echoing commands like the real client
      |while [ "$1" != "-b" ] && [ $# -gt 0 ]; do shift; done
      |batch="$2"
      |root="$3"
      |while IFS= read -r line; do
      |  [ -z "$line" ] && continue
      |  echo "sftp> $line"
      |  set -- $line
      |  case "$1" in
      |    ls)
      |      p=$3; p=${p#\"}; p=${p%\"}
      |      ls -l "$root/$p" || exit 1
      |      ;;
      |    get)
      |      src=$2; src=${src#\"}; src=${src%\"}
      |      dst=$3; dst=${dst#\"}; dst=${dst%\"}
      |      cp "$root/$src" "$dst" || exit 1
      |      ;;
      |  esac
      |done < "$batch"
      |""".stripMargin

  test("SftpBatchStore: list/size/get and verified staging through a scripted sftp transport") {
    val root = tempDir("sftpwire")
    val remote = Files.createDirectories(root.resolve("remote"))
    val landing = Files.createDirectories(root.resolve("landing"))
    Files.write(remote.resolve("A.CSV"), "alpha".getBytes)
    Files.write(remote.resolve("b.csv"), "bb".getBytes)
    Files.createDirectories(remote.resolve("subdir"))
    Files.write(remote.resolve("notes.txt"), "n".getBytes)
    val script = root.resolve("fake_sftp.sh")
    Files.write(script, fakeSftp.getBytes("UTF-8"))

    val store = new SftpStager.SftpBatchStore(root.toString,
      command = Seq("/bin/sh", script.toString))
    val ls = store.list("remote").sortBy(_.name)
    assert(ls.map(f => (f.name, f.isDir)) ==
      Seq(("A.CSV", false), ("b.csv", false), ("notes.txt", false), ("subdir", true)))
    assert(ls.filter(!_.isDir).map(f => (f.name, f.size)) ==
      Seq(("A.CSV", 5L), ("b.csv", 2L), ("notes.txt", 1L)))
    assert(store.size("remote/A.CSV") == 5L)

    // the full staging run — downloadWithVerify exercised through the wire
    // store: CSV filter, temp .part, size check, atomic rename
    val report = SftpStager.stage(store, "remote", landing)
    assert(report.downloaded == Seq("A.CSV", "b.csv"))
    assert(report.failed.isEmpty)
    assert(new String(Files.readAllBytes(landing.resolve("A.CSV"))) == "alpha")
    assert(Files.list(landing).iterator().asScala
      .forall(!_.getFileName.toString.endsWith(".part")))

    // transport failure (missing remote) → retried 3×, clean false, no file
    val missing = SftpStager.RemoteFile("ghost.csv", "remote/ghost.csv", 7L, isDir = false)
    assert(!SftpStager.downloadWithVerify(store, missing, landing, _ => ()))
    assert(!Files.exists(landing.resolve("ghost.csv")))
  }

  test("stager: size-verified download, skip existing, retry then fail") {
    val root = tempDir("sftp")
    val remote = Files.createDirectories(root.resolve("remote"))
    val landing = Files.createDirectories(root.resolve("landing"))
    Files.write(remote.resolve("A.CSV"), "aaa".getBytes)
    Files.write(remote.resolve("b.csv"), "bbb".getBytes)
    Files.write(remote.resolve("skip.txt"), "no".getBytes)
    Files.write(landing.resolve("b.csv"), "old".getBytes) // already present
    Files.write(landing.resolve("stale.part"), "zz".getBytes)

    val store = new SftpStager.LocalStore(root)
    val report = SftpStager.stage(store, "remote", landing)
    assert(report.downloaded == Seq("A.CSV"))
    assert(report.skipped == Seq("b.csv"))
    assert(report.failed.isEmpty)
    assert(!Files.exists(landing.resolve("stale.part")))
    assert(new String(Files.readAllBytes(landing.resolve("A.CSV"))) == "aaa")

    // a store that always truncates → size mismatch → 3 attempts, failure
    var attempts = 0
    val bad = new SftpStager.RemoteStore {
      def list(dir: String) = Seq.empty
      def size(path: String) = 999L
      def get(path: String, tmp: Path): Unit = {
        attempts += 1; Files.write(tmp, "short".getBytes)
      }
    }
    val okDl = SftpStager.downloadWithVerify(bad,
      SftpStager.RemoteFile("x.csv", "x.csv", 999L, isDir = false), landing, _ => ())
    assert(!okDl && attempts == 3)
    assert(!Files.exists(landing.resolve("x.csv")))
  }
}
