package graft.queries

import graft.{SparkEntry, SparkSpec}

/** `decontaminate_minhash` contract tests: the full pipeline (trigram
  * shingles → 16-seed MinHash → 4×4 banding → band-collision candidates →
  * exact trigram-Jaccard verify) recomputed in straight-line Scala, on a
  * planted fixture where every verdict is derivable by hand AND on the
  * real sf0.001 corpus. */
class DecontaminateMinhashSpec extends SparkSpec {
  import spark.implicits._

  private def md5hex(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def trigrams(text: String): Set[String] = {
    val w = Option(text).getOrElse("").split(" ", -1)
    if (w.length < 3) Set.empty
    else (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
  }

  /** 4 band signatures of a shingle set (empty set → no signature). */
  private def bandSigs(sh: Set[String]): Option[Seq[String]] =
    if (sh.isEmpty) None
    else Some((0 until 4).map { b =>
      val mins = (b * 4 until (b + 1) * 4)
        .map(seed => f"$seed%02d:" + sh.map(x => md5hex(s"$seed:$x")).min)
      md5hex(mins.mkString("|"))
    })

  private case class Row(nCands: Long, bestJ: Option[Long],
      nearest: Option[Long], contaminated: Boolean)

  /** Independent full-pipeline recount. */
  private def recount(docs: Seq[(Long, String)]): Map[Long, Row] = {
    val bench = docs.filter(_._1 % 97 == 0)
    val train = docs.filter(_._1 % 97 != 0)
    val bSigs = bench.flatMap { case (id, t) =>
      bandSigs(trigrams(t)).map(id -> _)
    }
    train.map { case (id, t) =>
      val sh = trigrams(t)
      val scored = bandSigs(sh).toSeq.flatMap { sigs =>
        bSigs.filter { case (_, bs) =>
          sigs.zip(bs).exists { case (a, b) => a == b }
        }.map { case (bid, _) =>
          val bsh = trigrams(bench.find(_._1 == bid).get._2)
          val i = (sh & bsh).size
          (bid, i, sh.size + bsh.size - i)
        }.filter(_._2 >= 1)
          .map { case (bid, i, u) =>
            (bid, math.floor(1000.0 * i / u).toLong)
          }
      }
      val best = if (scored.isEmpty) None else Some(scored.map(_._2).max)
      val nearest = best.map(b => scored.filter(_._2 == b).map(_._1).min)
      id -> Row(scored.size.toLong, best, nearest,
        best.exists(_ >= CorpusOps.deconJaccardMilli))
    }.toMap
  }

  private def run(dir: String): Map[Long, Row] =
    SparkEntry.queries("decontaminate_minhash")(spark, dir).collect().map { r =>
      r.getLong(0) -> Row(r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getBoolean(4))
    }.toMap

  test("planted fixture: near-dup of a bench doc flagged, rest clean") {
    val d = tempDir("deconmh").toString
    // 97 is the bench doc (97 % 97 == 0); 10 is a light edit of it (last
    // word changed: shares 17 of 18+1 distinct trigrams → J = 17/19 ≈ 894);
    // 11 shares a few words but no trigram run; 12 is sub-3-word; 13 NULL
    val benchText = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12 t13 t14 t15 t16 t17 t18 t19"
    val editText = benchText.split(" ").init.mkString(" ") + " zz"
    Seq(
      (97L, benchText), (10L, editText),
      (11L, "t0 x t1 y t2 z t3 q t4 r"),
      (12L, "t0 t1"), (13L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'s' AS source",
        "CAST(0 AS BIGINT) AS n_chars")
      .write.parquet(s"$d/documents.parquet")
    val got = run(d)
    val exp = recount(Seq((97L, benchText), (10L, editText),
      (11L, "t0 x t1 y t2 z t3 q t4 r"), (12L, "t0 t1"), (13L, null)))
    assert(got == exp)
    assert(got(10L).contaminated && got(10L).nearest.contains(97L))
    // hand value: 18 trigrams per side, 17 shared (only the last word
    // differs) → floor(1000·17/19) = 894
    assert(got(10L).bestJ.contains(894L))
    assert(!got(11L).contaminated && !got(12L).contaminated &&
      !got(13L).contaminated)
    assert(got(12L).nCands == 0L && got(13L).nCands == 0L)
  }

  test("sf0.001: full-pipeline recount parity") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .filter(r => !r.isNullAt(0))
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
      .toSeq
    assert(run(dir) == recount(docs))
  }
}
