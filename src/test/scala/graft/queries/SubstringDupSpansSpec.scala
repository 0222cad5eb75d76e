package graft.queries

import graft.{SparkEntry, SparkSpec}

/** `substring_dup_spans` contract tests: planted duplicated regions must
  * come back with EXACT token extents (the maximal-span merge rule at the
  * gap ≤ 8 boundary included), and the full output must equal an
  * independent in-memory recount on a real corpus — the InvariantSpec
  * pattern (never compare the query to itself). */
class SubstringDupSpansSpec extends SparkSpec {

  private val k = 8

  /** Straight-line recount: stride-1 k-grams, occ ≥ 2, per-doc islands
    * ordered by (pos, gram) with merge at gap ≤ k. */
  private def brute(docs: Seq[(Long, String)]): Set[(Long, Long, Long, Long, Long, Long)] = {
    val grams = docs.flatMap { case (id, text) =>
      val toks = Option(text).getOrElse("").split(" ").filter(_.nonEmpty)
      (0 to toks.length - k).map(p => (id, p.toLong, toks.slice(p, p + k).mkString(" ")))
    }
    val occ = grams.groupBy(_._3).collect { case (g, v) if v.size >= 2 => g -> v.size.toLong }
    grams.filter(g => occ.contains(g._3)).groupBy(_._1).toSeq.flatMap { case (id, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._3))
      val islands = sorted.tail.scanLeft((sorted.head, 0L)) { case ((prev, isl), cur) =>
        (cur, if (cur._2 - prev._2 <= k) isl else isl + 1)
      }
      islands.groupBy(_._2).values.map { members =>
        val ps = members.map(_._1._2)
        val occs = members.map(m => occ(m._1._3))
        (id, ps.min, ps.max + k - 1, ps.max + k - ps.min, members.size.toLong, occs.max)
      }
    }.toSet
  }

  private def run(dir: String): Set[(Long, Long, Long, Long, Long, Long)] =
    SparkEntry.queries("substring_dup_spans")(spark, dir).collect().map { r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("span_tokens"),
        r.getAs[Long]("n_windows"), r.getAs[Long]("max_occ"))
    }.toSet

  test("planted spans: cross-doc run, self-repeat split at gap > 8, merge at gap = 8") {
    val dir = tempDir("dupspans").toString
    import spark.implicits._
    val sRun = (1 to 10).map(i => s"s$i").mkString(" ")
    val xRun = (1 to 8).map(i => s"x$i").mkString(" ")
    Seq(
      (1L, s"u1 u2 u3 $sRun v1 v2 v3", "en", "src", 0L),
      (2L, s"w1 $sRun z1 z2 z3 z4 z5", "en", "src", 0L),
      (3L, s"$xRun y1 $xRun", "en", "src", 0L), // gap 9 > 8: two spans
      (4L, (1 to 20).map(i => s"q$i").mkString(" "), "en", "src", 0L), // no dups
      (5L, s"$xRun $xRun", "en", "src", 0L)) // hits at 0 and 8: one merged span
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run(dir)
    // doc 3's x-run also matches doc 5's two occurrences → occ(x-gram) = 4
    val expected = Set(
      (1L, 3L, 12L, 10L, 3L, 2L),
      (2L, 1L, 10L, 10L, 3L, 2L),
      (3L, 0L, 7L, 8L, 1L, 4L),
      (3L, 9L, 16L, 8L, 1L, 4L),
      (5L, 0L, 15L, 16L, 2L, 4L))
    assert(got == expected)
    assert(got == brute(Seq(
      1L -> s"u1 u2 u3 $sRun v1 v2 v3",
      2L -> s"w1 $sRun z1 z2 z3 z4 z5",
      3L -> s"$xRun y1 $xRun",
      4L -> (1 to 20).map(i => s"q$i").mkString(" "),
      5L -> s"$xRun $xRun")))
  }

  test("full output equals the in-memory recount on the real sf0.001 corpus") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toSeq
    val expected = brute(docs)
    val got = run(dir)
    assert(got == expected)
    assert(got.nonEmpty, "real corpus yielded no duplicated spans — test proves nothing")
  }
}
