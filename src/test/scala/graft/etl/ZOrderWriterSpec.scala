package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The z-order WRITE path delivers the pruning zorder_pack measures:
  * manifest-predicted file counts bound the files a probe actually
  * touches, on BOTH dimensions, and beat the linear layout on the
  * non-sort dimension. */
class ZOrderWriterSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def d1 = expr("CAST(((o_custkey % 256) + 256) % 256 AS INT)")
  private def d2 =
    expr("CAST(floor(((dayofyear(o_orderdate) - 1) * 256) / 366.0) AS INT)")
  private val probe = (64, 79)

  private def orders = spark.read.parquet(s"$dir/orders.parquet")

  private def distinctFiles(df: org.apache.spark.sql.DataFrame): Long =
    df.select(input_file_name()).distinct().count()

  test("zorder write: 16 files, manifest complete, pruned reads correct and bounded") {
    val out = tempDir("zw").toString + "/z"
    ZOrderWriter.write(orders, out, d1, d2, numFiles = 16)

    val man = ZOrderWriter.manifest(spark, out).collect()
    assert(man.length == 16, s"expected 16 files, got ${man.length}")
    assert(man.map(_.getAs[Long]("n_rows")).sum == orders.count(),
      "manifest covers every row — the writer drops nothing")

    for ((d1R, d2R) <- Seq((Some(probe), None), (None, Some(probe)))) {
      val predicted = ZOrderWriter.prunedFiles(spark, out, d1R, d2R)
      assert(predicted.nonEmpty && predicted.size < 16,
        s"probe $d1R/$d2R must prune: ${predicted.size} of 16")
      val prunedRead = ZOrderWriter.readPruned(spark, out, d1R, d2R)
      // the read touches no more files than the manifest predicted
      assert(distinctFiles(prunedRead) <= predicted.size)
      // and misses nothing: exact predicate over pruned ≡ over full scan
      val pred = d1R.map { case (lo, hi) => d1.between(lo, hi) }
        .orElse(d2R.map { case (lo, hi) => d2.between(lo, hi) }).get
      val viaPruned = prunedRead.filter(pred)
        .agg(count(lit(1)), coalesce(sum("o_orderkey"), lit(0L))).collect()(0)
      val viaFull = spark.read.parquet(out).filter(pred)
        .agg(count(lit(1)), coalesce(sum("o_orderkey"), lit(0L))).collect()(0)
      assert(viaPruned == viaFull, s"pruned read lost rows for $d1R/$d2R")
      assert(viaPruned.getLong(0) > 0, "probe must actually select rows")
    }
  }

  test("zorder beats linear on the non-sort dimension; linear wins only its own") {
    val root = tempDir("zwcmp").toString
    ZOrderWriter.write(orders, s"$root/z", d1, d2, 16, ZOrderWriter.ZOrder)
    ZOrderWriter.write(orders, s"$root/lin", d1, d2, 16, ZOrderWriter.Linear)

    def files(path: String, d1R: Option[(Int, Int)], d2R: Option[(Int, Int)]) =
      ZOrderWriter.prunedFiles(spark, path, d1R, d2R).size

    // linear sorts by d2: its d2 probe prunes hard, but d1 hits ~all files
    val linD1 = files(s"$root/lin", Some(probe), None)
    val linD2 = files(s"$root/lin", None, Some(probe))
    val zD1 = files(s"$root/z", Some(probe), None)
    val zD2 = files(s"$root/z", None, Some(probe))
    assert(linD1 >= 15, s"linear layout cannot prune the d1 probe (got $linD1)")
    assert(zD1 < linD1,
      s"z-order must beat linear on the non-sort dim: z=$zD1 vs lin=$linD1")
    assert(zD2 < 16, s"z-order still prunes the time dim (got $zD2)")
    // the classic trade: z gives up a little d2 selectivity to win d1
    assert(linD2 <= zD2, s"linear owns its sort dim: lin=$linD2 z=$zD2")
  }

  test("property: pruning is SOUND for random dirty dims and random probes " +
      "(negatives, out-of-range, NULLs, skew)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val params = Gen.Parameters.default
    def sample[T](g: Gen[T], n: Int, seed0: Long): Seq[T] =
      (0 until n).flatMap(i => g.apply(params, Seed(seed0 + i)))
    // dirty dimension values: in-range, negative, > 255, NULL, hot value
    val genDim: Gen[Option[Int]] = Gen.frequency(
      6 -> Gen.choose(0, 255).map(Some(_)),
      1 -> Gen.choose(-500, -1).map(Some(_)),
      1 -> Gen.choose(256, 1000).map(Some(_)),
      1 -> Gen.const(Some(42)), // skewed hot value
      1 -> Gen.const(None))
    for (seed <- Seq(7L, 8L)) {
      val rows = sample(Gen.zip(genDim, genDim), 400, seed * 1000)
        .zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
      val out = tempDir(s"zwprop$seed").toString + "/z"
      ZOrderWriter.write(rows.toDF("id", "a", "b"), out,
        col("a"), col("b"), numFiles = 8)
      assert(spark.read.parquet(out).count() == 400, "no rows lost")
      val probes = sample(
        Gen.zip(Gen.choose(-100, 300), Gen.choose(0, 200)), 6, seed * 7777)
        .map { case (lo, w) => (lo, lo + w) }
      for ((lo, hi) <- probes; dimIsA <- Seq(true, false)) {
        val (d1R, d2R) =
          if (dimIsA) (Some((lo, hi)), None) else (None, Some((lo, hi)))
        val cPred = (if (dimIsA) col("a") else col("b")).between(lo, hi)
        val viaPruned = ZOrderWriter.readPruned(spark, out, d1R, d2R)
          .filter(cPred).select("id").collect().map(_.getLong(0)).toSet
        val viaFull = spark.read.parquet(out)
          .filter(cPred).select("id").collect().map(_.getLong(0)).toSet
        assert(viaPruned == viaFull,
          s"seed=$seed probe=[$lo,$hi] dimIsA=$dimIsA: pruning dropped " +
            s"${(viaFull -- viaPruned).size} matching rows")
      }
    }
  }

  test("NULL dims: rows are kept, never matched by a range probe, never lost") {
    import spark.implicits._
    val out = tempDir("zwnull").toString + "/z"
    val df = Seq(
      (1L, Some(10), Some(20)), (2L, None, Some(70)),
      (3L, Some(70), None), (4L, None, None), (5L, Some(70), Some(70)))
      .toDF("id", "a", "b")
    ZOrderWriter.write(df, out, col("a"), col("b"), numFiles = 2)
    assert(spark.read.parquet(out).count() == 5, "no rows dropped")
    val hit = ZOrderWriter.readPruned(spark, out, Some((64, 79)), Some((64, 79)))
      .filter(col("a").between(64, 79) && col("b").between(64, 79))
      .collect().map(_.getAs[Long]("id")).toSet
    assert(hit == Set(5L))
  }
}
