package graft.queries

import java.security.MessageDigest

import graft.{SparkEntry, SparkSpec}

/** `lsh_recall_audit` vs a from-scratch recount of the WHOLE audit —
  * md5-based MinHash signatures, band bucketing, candidate pairs, exact
  * word Jaccard — in plain Scala (java MessageDigest, no Spark code
  * shared). The fixture plants exact copies (J=1000 — banding must catch
  * every one) and light mutations (high J) among random docs. */
class LshRecallAuditSpec extends SparkSpec {

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("lsh_recall_audit matches an exact in-memory recount; J=1000 recall is total") {
    val rnd = new scala.util.Random(2718)
    val vocab = (1 to 30).map(i => s"w$i")
    // sampled ids only (doc_id % 10 == 0) so every doc participates
    val docs = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    (0 until 60).foreach { k =>
      val id = k * 10L
      val text =
        if (k % 4 == 1) docs(id - 10) // exact copy of the previous doc
        else if (k % 7 == 3) { // light mutation: drop one word
          val w = docs(id - 10).split(" ")
          (w.take(w.length - 1) ++ w.drop(w.length)).mkString(" ")
        } else {
          val n = 8 + rnd.nextInt(20)
          val start = rnd.nextInt(vocab.length)
          (0 until n).map(j => vocab((start + j) % vocab.length)).mkString(" ")
        }
      docs(id) = text
    }
    val dir = tempDir("recall").toString
    import spark.implicits._
    docs.toSeq.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")

    // ---- recount, sharing no Spark code ----
    val wordSets = docs.map { case (id, t) =>
      id -> t.split(" ").filter(_.nonEmpty).toSet
    }.toMap
    // signature universe: distinct split tokens INCLUDING empties
    val sigSets = docs.map { case (id, t) => id -> t.split(" ", -1).toSet }.toMap
    def bands(id: Long): Seq[String] = {
      val mins = (0 until 16).map(i =>
        sigSets(id).map(shv => md5hex(s"$i:$shv")).min)
      (0 until 4).map(b =>
        md5hex((b * 4 until (b + 1) * 4).map(s => f"$s%02d:" + mins(s))
          .mkString("|")))
    }
    val bandMap = docs.keys.map(id => id -> bands(id)).toMap
    val ids = docs.keys.toSeq
    val cand = (for {
      a <- ids; b <- ids if a < b
      if (0 until 4).exists(m => bandMap(a)(m) == bandMap(b)(m))
    } yield (a, b)).toSet
    val exact = for {
      a <- ids; b <- ids if a < b
      i = (wordSets(a) & wordSets(b)).size if i > 0
      u = wordSets(a).size + wordSets(b).size - i
      jm = math.floor(1000.0 * i / u).toLong if jm >= 500
    } yield (a, b, jm)
    val expected = exact.groupBy { case (_, _, jm) => jm - jm % 100 }
      .map { case (bkt, ps) =>
        val hits = ps.count { case (a, b, _) => cand((a, b)) }
        (bkt, ps.size.toLong, hits.toLong,
          math.floor(1000.0 * hits / ps.size).toLong)
      }.toSeq.sortBy(_._1)
    assert(expected.map(_._1).contains(1000L),
      "fixture must plant identical pairs (J=1000 bucket)")

    val got = SparkEntry.queries("lsh_recall_audit")(spark, dir).collect()
      .map(r => (r.getAs[Long]("j_bucket"), r.getAs[Long]("n_exact"),
        r.getAs[Long]("n_lsh_hit"), r.getAs[Long]("recall_milli"))).toSeq
    assert(got == expected, s"got ${got.mkString(",")} expected ${expected.mkString(",")}")
    // identical docs share every band deterministically — recall MUST be total
    val b1000 = got.find(_._1 == 1000L).get
    assert(b1000._4 == 1000L)
    // hits never exceed exact, recall in [0, 1000]
    got.foreach { case (_, ne, nh, rm) =>
      assert(nh <= ne && rm >= 0L && rm <= 1000L)
    }
  }
}
