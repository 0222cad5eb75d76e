package graft.etl

import graft.SparkSpec
import java.nio.file.{Files, Path}
import java.nio.charset.Charset

/** Dialect sniffing, ragged-row parity, header gate, mapping — fixture
  * shapes from FIXTURES.md §A.1 / reference 02_load_stage_pedidos.py. */
class StageLoadSpec extends SparkSpec {

  private def tmpFile(name: String, content: String, charset: String = "UTF-8"): Path = {
    val dir = tempDir("stageload")
    val p = dir.resolve(name)
    Files.write(p, content.getBytes(Charset.forName(charset)))
    p
  }

  private val header10 =
    "ID;Pedido;Chave NFe;Valor Nfe;Peso;UF;Data Nfe;Data Última Ocr.;Qtd. Volumes;CD"

  test("detectSep picks majority separator over the window (ref :115-124)") {
    assert(StageLoad.detectSep(Seq("a;b;c", "1;2;3")) == ";")
    assert(StageLoad.detectSep(Seq("a,b,c", "1,2,3")) == ",")
    assert(StageLoad.detectSep(Seq("a|b|c;x", "1|2|3")) == "|")
    assert(StageLoad.detectSep(Seq("a\tb\tc", "")) == "\t")
  }

  test("sniffDialect: cp1252 vs utf-8 with accented headers") {
    val cp = tmpFile("cp.csv", "Nome Destinatário;Endereço\nJosé;Rua São João\n", "windows-1252")
    val d1 = StageLoad.sniffDialect(cp)
    assert(d1.sep == ";")
    assert(d1.encoding == "windows-1252") // 0xE9 'é' is invalid UTF-8
    val utf = tmpFile("utf.csv", "Nome Destinatário,Endereço\nJosé,Rua\n", "UTF-8")
    val d2 = StageLoad.sniffDialect(utf)
    assert(d2.sep == ",")
    assert(d2.encoding == "UTF-8")
  }

  test("cp1252 file loads end-to-end on BOTH read paths (SPARK-46841 charset gate)") {
    // Spark 4 rejects windows-1252 at CSV analysis unless
    // spark.sql.legacy.javaCharsets is on — without ensureCharsetReadable
    // every cp1252 report (the reference's primary encoding) would throw
    // and be silently quarantined by the router.
    val csv = header10 + "\nJosé;P1;" + ("1" * 44) +
      ";10,5;1,250;SP;31/12/2024;31/12/2024 10:00:00;2;São Paulo\n"
    for (ragged <- Seq(false, true)) {
      val p = tmpFile(s"cp1252_$ragged.csv", csv, "windows-1252")
      val d = StageLoad.sniffDialect(p)
      assert(d.encoding == "windows-1252")
      val df = StageLoad.loadFile(spark, p, raggedParity = ragged)
        .getOrElse(fail(s"cp1252 file failed the header gate (ragged=$ragged)"))
      val r = df.collect().head
      // accented DATA cells decode correctly too (not just the header)
      assert(r.getAs[String]("id") == "José", s"ragged=$ragged")
      assert(r.getAs[String]("cd") == "São Paulo", s"ragged=$ragged")
    }
  }

  test("headerValido: ≥10 known headers accepts; fewer rejects (ref :163-167)") {
    assert(StageLoad.headerValido(header10.split(";").toSeq))
    assert(!StageLoad.headerValido(Seq("ID", "Pedido", "bogus1", "bogus2")))
    assert(!StageLoad.headerValido(Seq.empty))
  }

  test("BOM-stripped header counts as valid (ref :145,166)") {
    assert(StageLoad.headerValido(("﻿ID" +: header10.split(";").toSeq.drop(1))))
  }

  test("ragged parity: overflow cells rejoin into last column; short rows pad (ref :150-156)") {
    val csv = header10 + "\n" +
      "1;P1;k;10,5;1;SP;31/12/2024;31/12/2024 10:00:00;2;CD1;EXTRA1;EXTRA2\n" + // 12 cells > 10
      "2;P2;k2;3,4\n" // 4 cells < 10
    val p = tmpFile("ragged.csv", csv)
    val df = StageLoad.readCsvRaggedParity(spark, p.toString, StageLoad.Dialect("UTF-8", ";"))
    val rows = df.orderBy("ID").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("CD") == "CD1;EXTRA1;EXTRA2") // rejoined with sep
    assert(rows(1).getAs[String]("CD") == "") // padded
  }

  test("splitCsvLine honors quotes, doublequote, escapechar (ref :133-136)") {
    assert(StageLoad.splitCsvLine("a;\"b;c\";d", ';') == Seq("a", "b;c", "d"))
    assert(StageLoad.splitCsvLine("a;\"he said \"\"hi\"\"\";c", ';') == Seq("a", "he said \"hi\"", "c"))
    assert(StageLoad.splitCsvLine("a\\;b;c", ';') == Seq("a;b", "c"))
  }

  test("aplicarMapeamento: rename, fill missing with empty, fixed order (ref :169-177)") {
    import spark.implicits._
    val df = Seq(("1", "P-9", "SP", "zzz")).toDF("ID", "Pedido", "UF", "Unknown Col")
    val out = StageLoad.aplicarMapeamento(df)
    assert(out.columns.toSeq == Schemas.colunasDestino.filterNot(_ == "arquivo_origem"))
    val r = out.collect().head
    assert(r.getAs[String]("id") == "1")
    assert(r.getAs[String]("pedido") == "P-9")
    assert(r.getAs[String]("uf") == "SP")
    assert(r.getAs[String]("valor_nfe") == "") // filled
  }

  test("loadFile end-to-end: valid file maps + stamps lineage; bad header → None") {
    val good = tmpFile("pedidos_ok.csv",
      header10 + "\n1;P1;" + "9" * 44 + ";1.234,56;12,3;SP;31/12/2024;31/12/2024 10:00:00;3;CD1\n")
    val some = StageLoad.loadFile(spark, good)
    assert(some.isDefined)
    val row = some.get.collect().head
    assert(row.getAs[String]("arquivo_origem") == "pedidos_ok.csv")
    assert(row.getAs[String]("valor_nfe") == "1.234,56") // still raw string in bronze
    val bad = tmpFile("bad.csv", "a;b;c\n1;2;3\n")
    assert(StageLoad.loadFile(spark, bad).isEmpty)
  }

  test("listarCsvNovos anti-joins against lidos ∪ erros, sorted (ref :107-113)") {
    val root = tempDir("queue")
    val novos = Files.createDirectories(root.resolve("novos"))
    val lidos = Files.createDirectories(root.resolve("lidos"))
    val erros = Files.createDirectories(root.resolve("erros"))
    Files.write(novos.resolve("b.csv"), "x".getBytes)
    Files.write(novos.resolve("a.csv"), "x".getBytes)
    Files.write(novos.resolve("c.csv"), "x".getBytes)
    Files.write(lidos.resolve("B.csv"), "x".getBytes) // case-insensitive match
    Files.write(erros.resolve("c.csv"), "x".getBytes)
    val got = StageLoad.listarCsvNovos(novos, lidos, erros).map(_.getFileName.toString)
    assert(got == Seq("a.csv"))
  }

  test("safeCopy suffixes __dup_<ts> on collision (ref :96-105)") {
    val root = tempDir("dup")
    val src = root.resolve("f.csv"); Files.write(src, "x".getBytes)
    val dst = Files.createDirectories(root.resolve("out"))
    val first = StageLoad.safeCopy(src, dst)
    val second = StageLoad.safeCopy(src, dst)
    assert(first.getFileName.toString == "f.csv")
    assert(second.getFileName.toString.matches("f__dup_\\d{14}\\.csv"))
  }
}
