package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Semantics of the per-source adaptive quality thresholds: cutoffs are
  * discrete rank statistics of each source's OWN distribution (the oracle
  * gate proves engine-equivalence; this pins the meaning against an
  * independent in-memory recount). */
class AdaptiveCutoffSpec extends SparkSpec {

  // n stopwords ("the") followed by m filler tokens — n_words = n + m,
  // stop_ratio_milli = floor(1000 n / (n + m))
  private def doc(nStop: Int, nFill: Int): String =
    (Seq.fill(nStop)("the") ++ Seq.fill(nFill)("zzz")).mkString(" ")

  test("adaptive_quality_cutoff: per-source cutoffs match a rank-statistic recount") {
    val dir = tempDir("adaptcut").toString
    import spark.implicits._
    // source A: 20 docs, stoppy and short; source B: 15 docs, sparse and
    // long — the same doc would pass one source's gate and fail the other's
    val rows =
      (0 until 20).map { i =>
        (i.toLong, doc(nStop = 2 + i, nFill = 10 + i), "en", "A", 0L)
      } ++ (0 until 15).map { i =>
        (100L + i, doc(nStop = 1, nFill = 40 + 5 * i), "en", "B", 0L)
      }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")

    // independent recount of the contract
    case class S(id: Long, src: String, nWords: Long, stopMilli: Long)
    val scored = rows.map { case (id, text, _, src, _) =>
      val w = text.split(" ")
      val ns = w.count(_ == "the")
      S(id, src, w.length.toLong, math.floor(1000.0 * ns / w.length).toLong)
    }
    val expected = scored.groupBy(_.src).flatMap { case (_, ds) =>
      val n = ds.size
      val posLo = (n + 9) / 10
      val posHi = (9 * n + 9) / 10
      val stopCut = ds.sortBy(d => (d.stopMilli, d.id)).apply(posLo - 1).stopMilli
      val wordsCap = ds.sortBy(d => (d.nWords, d.id)).apply(posHi - 1).nWords
      ds.map(d => d.id ->
        ((stopCut, wordsCap, d.stopMilli >= stopCut && d.nWords <= wordsCap)))
    }

    val got = SparkEntry.queries("adaptive_quality_cutoff")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("stop_cutoff"), r.getAs[Long]("words_cap"),
          r.getAs[Boolean]("keep_adaptive")))).toMap
    assert(got.size == rows.size)
    expected.foreach { case (id, e) =>
      assert(got(id) == e, s"doc $id: got ${got(id)}, expected $e")
    }
    // adaptivity: the two sources derived different cutoffs
    val cutA = got(0L)._1 -> got(0L)._2
    val cutB = got(100L)._1 -> got(100L)._2
    assert(cutA != cutB)
    // each source trims something and keeps most
    Seq("A" -> (0 until 20).map(_.toLong), "B" -> (0 until 15).map(100L + _))
      .foreach { case (_, ids) =>
        val kept = ids.count(got(_)._3)
        assert(kept < ids.size && kept >= ids.size / 2)
      }
  }
}
