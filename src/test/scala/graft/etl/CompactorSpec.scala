package graft.etl

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Small-files compaction: rewrites preserve every row, no-op when
  * already healthy, respect the run lock, and keep z-order pruning
  * alive through the layout-preserving variant. */
class CompactorSpec extends SparkSpec {
  import spark.implicits._

  test("compact: many tiny appends → one healthy file, rows identical, idempotent") {
    val dir = tempDir("compact").toString + "/t"
    // 12 separate appends = ≥12 small files (the loadStage shape)
    (0 until 12).foreach { i =>
      Seq((i.toLong, s"batch_$i")).toDF("id", "tag")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val before = Compactor.dataFiles(java.nio.file.Paths.get(dir))
    assert(before.size >= 12)
    val rowsBefore = spark.read.parquet(dir).orderBy("id").collect().toSeq

    val audit = Compactor.compact(spark, dir)
    assert(!audit.skipped && audit.filesBefore == before.size)
    assert(audit.filesAfter == 1, s"tiny table must compact to one file: $audit")
    assert(audit.rows == 12)
    assert(spark.read.parquet(dir).orderBy("id").collect().toSeq == rowsBefore)

    // idempotent: a second run is a cheap no-op
    val again = Compactor.compact(spark, dir)
    assert(again.skipped && again.filesBefore == 1)
  }

  test("compactStaging runs under the run lock: busy → skipped no-op") {
    val root = tempDir("compactlock")
    val staging = root.resolve("staging").toString
    (0 until 3).foreach { i =>
      Seq((i.toLong, "x")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(staging)
    }
    val pipeline = new Pipeline(spark, staging, root.resolve("dw").toString,
      root.resolve("hist").toString, lockWaitMs = 200)
    // hold the pipeline's lock from "another runner"
    RunLock.tryWithLock(java.nio.file.Paths.get(staging + ".runlock"), 200) {
      val busy = pipeline.compactStaging()
      assert(busy.skipped && busy.filesBefore == 0,
        s"lock-busy compaction must no-op: $busy")
    }.getOrElse(fail("outer lock acquisition failed"))
    // lock released → real compaction proceeds
    val audit = pipeline.compactStaging()
    assert(!audit.skipped && audit.rows == 3 && audit.filesAfter == 1)
  }

  test("ZOrderWriter.compact: fewer files, manifest regenerated, pruning intact") {
    val dir = "/root/testdata/sf0.001"
    val out = tempDir("zcompact").toString + "/z"
    val d1 = expr("CAST(((o_custkey % 256) + 256) % 256 AS INT)")
    val d2 = expr("CAST(floor(((dayofyear(o_orderdate) - 1) * 256) / 366.0) AS INT)")
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    ZOrderWriter.write(orders, out, d1, d2, numFiles = 16)
    val full = spark.read.parquet(out).count()

    // force an ~8-file target (halve the file count; at 4 files the z
    // granularity over the skewed sf0.001 custkey range no longer
    // separates the probe's d1 octave, so 8 keeps the pruning assertion
    // meaningful rather than vacuous)
    val bytes = Compactor.dataFiles(java.nio.file.Paths.get(out))
      .map(Files.size).sum
    val (fb, fa) = ZOrderWriter.compact(spark, out, d1, d2,
      targetBytes = bytes / 8 + 1)
    assert(fb == 16 && fa <= 9 && fa >= 6, s"expected ~8 files, got $fb -> $fa")

    // manifest matches the new layout and still prunes the d1 probe
    val man = ZOrderWriter.manifest(spark, out).collect()
    assert(man.length == fa)
    assert(man.map(_.getAs[Long]("n_rows")).sum == full)
    val pruned = ZOrderWriter.prunedFiles(spark, out, Some((64, 79)), None)
    assert(pruned.size < fa, "z-order pruning must survive compaction")
    val pred = d1.between(64, 79)
    val viaPruned = ZOrderWriter.readPruned(spark, out, Some((64, 79)), None)
      .filter(pred).count()
    assert(viaPruned == spark.read.parquet(out).filter(pred).count())
  }
}
