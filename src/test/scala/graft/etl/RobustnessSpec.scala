package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Regression guards for the review findings: the never-fail-a-batch
  * contract under Spark 4 default ANSI mode, the two insert-only merge
  * columns, duplicate header variants, and empty-bootstrap paths. */
class RobustnessSpec extends SparkSpec {
  import spark.implicits._

  private def withAnsi[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try body finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("parsers yield NULL, never throw, under ANSI mode") {
    withAnsi {
      // regex-valid but calendar-invalid / overflowing / garbage inputs
      val rows = Seq(
        "31/02/2024", // invalid calendar date, matches dd/MM/yyyy
        "99-99-2024", // invalid dd-MM-yyyy
        "20241399", // invalid yyyyMMdd
        "2024-02-31T25:61", // invalid ISO
        "abc", "N/A", "1-2", // garbage → decimal fallback strips to "", "-"...
        "99999999999999999999", // overflows decimal(15,2) integer branch
        "123456789012345678901 vol" // digits overflow int
      ).toDF("x")
      val out = rows.select(col("x"),
        Parsers.parseBrDate(col("x")).as("d"),
        Parsers.parseBrTimestamp(col("x")).as("ts"),
        Parsers.parseBrTimestampStrictIso(col("x")).as("ts2"),
        Parsers.parseValor(col("x")).as("v"),
        Parsers.parsePeso(col("x")).as("p"),
        Parsers.digitsToInt(col("x")).as("i")).collect()
      assert(out.length == 9) // no exception = the contract
      // all date/timestamp results are NULL for these inputs
      assert(out.forall(r => (1 to 3).forall(r.isNullAt)))
      val byInput = out.map(r => r.getString(0) -> r).toMap
      // decimals: NULL for garbage and precision overflow (the reference's
      // fallback DOES digit-strip date-shaped strings — that path is exact
      // parity, not checked here)
      Seq("abc", "N/A", "1-2", "99999999999999999999").foreach { in =>
        assert(byInput(in).isNullAt(4) && byInput(in).isNullAt(5), in)
      }
      assert(byInput("99999999999999999999").isNullAt(6)) // int overflow → null
      assert(byInput("123456789012345678901 vol").isNullAt(6))
    }
  }

  test("typed projection survives a poison batch under ANSI") {
    withAnsi {
      val poison = Schemas.colunasDestino.map {
        case "chave_nfe" => "9" * 44
        case "data_nfe" => "31/02/2024"
        case "valor_nfe" => "R$ N/A"
        case "qtd_volumes" => "999999999999999"
        case "data_ultima_ocr" => "2024-13-99 99:99"
        case _ => "x"
      }
      val df = spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(poison: _*)),
        Schemas.stagingSchema)
      val row = Typed.project(df).collect().head
      assert(row.getAs[String]("chave_nfe") == "9" * 44)
      assert(row.isNullAt(row.fieldIndex("data_nfe")))
      assert(row.isNullAt(row.fieldIndex("valor_nfe")))
      assert(row.isNullAt(row.fieldIndex("qtd_volumes")))
      assert(row.isNullAt(row.fieldIndex("data_ultima_ocr")))
    }
  }

  test("merge keeps data_nfe and data_prev_entrega_original untouched on conflict") {
    import java.sql.{Date, Timestamp}
    def fat(key: String, dataNfe: Date, ev: Timestamp) =
      org.apache.spark.sql.Row(Schemas.fatSchema.fields.map { f =>
        f.name match {
          case "chave_nfe" => key
          case "data_nfe" => dataNfe
          case "data_prev_entrega_original" => dataNfe
          case "data_ultima_ocr" => ev
          case _ => null
        }
      }.toIndexedSeq: _*)
    val key = "3" * 44
    val cur = spark.createDataFrame(java.util.List.of(
      fat(key, Date.valueOf("2024-01-01"), Timestamp.valueOf("2024-01-01 00:00:00"))),
      Schemas.fatSchema)
    // newer event AND non-null values on the update side — both must lose
    val upd = spark.createDataFrame(java.util.List.of(
      fat(key, Date.valueOf("2024-05-05"), Timestamp.valueOf("2024-06-01 00:00:00"))),
      Schemas.fatSchema)
    val r = Merge.mergePedidos(cur, upd).collect().head
    assert(r.getAs[Date]("data_nfe") == Date.valueOf("2024-01-01"))
    assert(r.getAs[Date]("data_prev_entrega_original") == Date.valueOf("2024-01-01"))
    assert(r.getAs[Timestamp]("data_ultima_ocr") == Timestamp.valueOf("2024-06-01 00:00:00"))
    // and a fresh key still inserts them
    val ins = spark.createDataFrame(java.util.List.of(
      fat("4" * 44, Date.valueOf("2024-07-07"), Timestamp.valueOf("2024-07-07 00:00:00"))),
      Schemas.fatSchema)
    val both = Merge.mergePedidos(cur, ins).orderBy("chave_nfe").collect()
    assert(both(1).getAs[Date]("data_nfe") == Date.valueOf("2024-07-07"))
  }

  test("TopKByScore buffer never exceeds k with NaN scores") {
    val agg = new graft.functions.TopKByScore(3)
    val items = Seq((1L, 0.9), (2L, Double.NaN), (3L, 0.5), (4L, Double.NaN),
      (5L, 0.7), (6L, 0.8), (7L, Double.NaN))
    val buf = items.foldLeft(agg.zero)(agg.reduce)
    assert(buf.size <= 3)
    assert(buf.map(_._1) == Seq(1L, 6L, 5L)) // NaN never displaces real scores
    val merged = agg.merge(buf, items.reverse.foldLeft(agg.zero)(agg.reduce))
    assert(merged.size <= 3)
  }

  test("duplicate accepted header variants keep the first occurrence") {
    val df = Seq(("1", "02/01/2024", "05/01/2024"))
      .toDF("ID", "Data Prev. Entrega Original", "Data Prev. Entrega (Original)")
    val out = StageLoad.aplicarMapeamento(df)
    assert(out.columns.count(_ == "data_prev_entrega_original") == 1)
    assert(out.collect().head.getAs[String]("data_prev_entrega_original") == "02/01/2024")
  }

  test("upsert and archive are no-ops before anything was staged") {
    val root = tempDir("bootstrap")
    val pipeline = new Pipeline(spark,
      root.resolve("staging").toString, root.resolve("dw").toString,
      root.resolve("hist").toString)
    pipeline.upsertDw() // must not throw on missing staging dir
    assert(pipeline.readDw().count() == 0)
    val audit = pipeline.archive()
    assert(audit.moved == 0)
  }
}
