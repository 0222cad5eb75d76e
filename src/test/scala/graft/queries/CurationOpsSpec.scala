package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Contract tests for the curation wave: the shuffle-shard manifest and
  * the DSIR hashed-n-gram weights are recomputed INDEPENDENTLY in plain
  * Scala (java MessageDigest md5, integer arithmetic) on the real
  * sf0.001 corpus and on planted fixtures — the InvariantSpec pattern
  * (never compare the query to itself). */
class CurationOpsSpec extends SparkSpec {

  private val M = CurationOps.ordMod

  private def md5hex(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(x: String): Long =
    java.lang.Long.parseLong(md5hex(x).take(8), 16)

  private def docs(dir: String): Seq[(Long, String, String)] =
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "text", "lang").collect().toSeq
      .filter(!_.isNullAt(0))
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2)))

  test("coverage_greedy_rounds ≡ plain-Scala greedy; gains non-increasing") {
    val dir = "/root/testdata/sf0.001"
    val byDoc = docs(dir).map { case (id, text, _) =>
      val w = Option(text).getOrElse("").split(" ", -1)
      id -> (if (w.length < 3) Set.empty[String]
             else w.sliding(3).map(_.mkString(" ")).toSet)
    }.groupBy(_._1).map { case (id, gs) => id -> gs.flatMap(_._2).toSet }
    val df = byDoc.values.flatten.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val total = df.values.sum
    var covered = Set.empty[String]
    val expected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long, Option[Long],
        Option[Long], Boolean)]
    var cum = 0L
    var stop = false
    var prevGains: Map[Long, Long] = null
    for (round <- 1 to CurationOps.covK if !stop) {
      val gains = byDoc.toSeq.map { case (id, gs) =>
        val fresh = gs -- covered
        (id, fresh.toSeq.map(df).sum, fresh.size.toLong)
      }.filter(_._2 > 0L)
      if (gains.isEmpty) stop = true
      else {
        val (id, gain, nNew) = gains.minBy { case (d, g, _) => (-g, d) }
        cum += gain
        // CELF columns: the winner's stale (previous-round) gain and the
        // candidates whose stale gain already rules them out
        val (bound, nSkip) = if (prevGains == null) (None, None)
          else (prevGains.get(id),
            Some(prevGains.values.count(_ < gain).toLong))
        expected += ((round.toLong, id, gain, nNew, cum,
          1000L * cum / total, bound, nSkip,
          bound.forall(_ >= gain)))
        covered ++= byDoc(id)
        prevGains = gains.map(t => t._1 -> t._2).toMap
      }
    }
    val got = SparkEntry.queries("coverage_greedy_rounds")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getLong(6)),
        if (r.isNullAt(7)) None else Some(r.getLong(7)),
        r.getBoolean(8))).toSeq
    assert(got == expected.toSeq, s"got $got\nexpected $expected")
    // submodularity: greedy marginal gains never increase across rounds
    assert(got.map(_._3) == got.map(_._3).sortBy(-_),
      "marginal gains must be non-increasing")
    // a doc is picked at most once, coverage is monotone and ≤ 1000‰
    assert(got.map(_._2).distinct.size == got.size)
    assert(got.map(_._6) == got.map(_._6).sorted && got.last._6 <= 1000L)
    assert(got.nonEmpty && got.head._3 > 0L)
    // the lazy-greedy bound law holds on every row (vacuous at round 1),
    // and rounds past the first carry both CELF columns
    assert(got.forall(_._9))
    assert(got.head._7.isEmpty && got.head._8.isEmpty)
    assert(got.tail.forall(r => r._7.nonEmpty && r._8.nonEmpty))
  }

  test("coverage_stochastic_rounds ≡ plain-Scala stochastic greedy; picks in slice") {
    val dir = "/root/testdata/sf0.001"
    def u24(x: String): Long = java.lang.Long.parseLong(md5hex(x).take(6), 16)
    val byDoc = docs(dir).map { case (id, text, _) =>
      val w = Option(text).getOrElse("").split(" ", -1)
      id -> (if (w.length < 3) Set.empty[String]
             else w.sliding(3).map(_.mkString(" ")).toSet)
    }.groupBy(_._1).map { case (id, gs) => id -> gs.flatMap(_._2).toSet }
    val df = byDoc.values.flatten.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val total = df.values.sum
    var covered = Set.empty[String]
    val expected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long, Long)]
    var cum = 0L
    for (round <- 1 to CurationOps.covK) {
      val gains = byDoc.toSeq
        .filter { case (id, _) =>
          u24(s"$round:$id") % 1000L < CurationOps.covSampleMilli }
        .map { case (id, gs) =>
          val fresh = gs -- covered
          (id, fresh.toSeq.map(df).sum, fresh.size.toLong)
        }.filter(_._2 > 0L)
      if (gains.nonEmpty) {
        val (id, gain, nNew) = gains.minBy { case (d, g, _) => (-g, d) }
        cum += gain
        expected += ((round.toLong, id, gain, nNew, cum, 1000L * cum / total,
          gains.size.toLong))
        covered ++= byDoc(id)
      }
    }
    val got = SparkEntry.queries("coverage_stochastic_rounds")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expected.toSeq, s"got $got\nexpected $expected")
    assert(got.nonEmpty && got.map(_._2).distinct.size == got.size)
    // every pick really was inside its round's candidate slice
    got.foreach { r =>
      assert(u24(s"${r._1}:${r._2}") % 1000L < CurationOps.covSampleMilli)
    }
    // coverage monotone, bounded, and never above the full greedy's at
    // the same number of picks is NOT a theorem — only the bound is
    assert(got.map(_._6) == got.map(_._6).sorted && got.last._6 <= 1000L)
  }

  test("global_shuffle_shards ≡ straight-line recount on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val byShard = docs(dir)
      .map { case (id, text, _) =>
        val toks = Option(text).getOrElse("").split(" ").count(_.nonEmpty)
        (h32(id.toString), id, toks.toLong)
      }
      .groupBy(_._1 % CurationOps.shuffleShards)
    val expected = byShard.map { case (shard, members) =>
      val ordered = members.sortBy(m => (m._1, m._2))
      val ord = ordered.zipWithIndex
        .map { case ((h, _, _), i) => ((i + 1).toLong % M) * (h % M) % M }
        .sum % M
      (shard, members.size.toLong, members.map(_._3).sum,
        members.map(_._1).min, members.map(_._1).max,
        members.map(_._1 % M).sum % M, ord)
    }.toSet
    val got = SparkEntry.queries("global_shuffle_shards")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(got == expected)
    // the manifest is a partition of the corpus
    assert(got.toSeq.map(_._2).sum == docs(dir).size)
  }

  test("global_shuffle_shards ord_check pins the order, not just membership") {
    // two docs landing in one shard: swapping their hash order must flip
    // ord_check — recompute both permutations by hand and check they differ
    val dir = tempDir("shuf").toString
    import spark.implicits._
    val ids = (1L to 40L)
    ids.map(i => (i, s"w$i a b", "en", "src", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("global_shuffle_shards")(spark, dir).collect()
    assert(rows.map(_.getLong(1)).sum == 40L)
    rows.foreach { r =>
      val (shard, sumH, ord) = (r.getLong(0), r.getLong(5), r.getLong(6))
      val members = ids.map(i => h32(i.toString))
        .filter(_ % CurationOps.shuffleShards == shard).sorted
      assert(sumH == members.map(_ % M).sum % M, s"shard $shard hash_sum")
      val straight = members.zipWithIndex
        .map { case (h, i) => ((i + 1).toLong % M) * (h % M) % M }.sum % M
      assert(ord == straight, s"shard $shard ord_check")
      if (members.size >= 2) {
        val swapped = (members.tail.head +: members.head +: members.drop(2))
          .zipWithIndex
          .map { case (h, i) => ((i + 1).toLong % M) * (h % M) % M }.sum % M
        assert(swapped != straight, s"shard $shard: ord_check order-blind")
      }
    }
  }

  /** Straight-line manifest recount over (h, doc_id, toks) members —
    * the global test's arithmetic, shared with the curated-export
    * tests. */
  private def manifestRecount(members0: Seq[(Long, Long, Long)])
      : Set[(Long, Long, Long, Long, Long, Long, Long)] =
    members0.groupBy(_._1 % CurationOps.shuffleShards).map {
      case (shard, members) =>
        val ordered = members.sortBy(m => (m._1, m._2))
        val ord = ordered.zipWithIndex
          .map { case ((h, _, _), i) => ((i + 1).toLong % M) * (h % M) % M }
          .sum % M
        (shard, members.size.toLong, members.map(_._3).sum,
          members.map(_._1).min, members.map(_._1).max,
          members.map(_._1 % M).sum % M, ord)
    }.toSet

  private def manifestRows(name: String, dir: String)
      : Set[(Long, Long, Long, Long, Long, Long, Long)] =
    SparkEntry.queries(name)(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet

  test("curated_shard_manifest ≡ recount over verdict survivors (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val keep = SparkEntry.queries("corpus_prune_verdicts")(spark, dir)
      .collect().filter(_.getAs[Boolean]("keep"))
      .map(_.getAs[Long]("doc_id")).toSet
    assert(keep.nonEmpty)
    val members = docs(dir).filter(d => keep(d._1)).map { case (id, text, _) =>
      (h32(id.toString), id,
        Option(text).getOrElse("").split(" ").count(_.nonEmpty).toLong)
    }
    val got = manifestRows("curated_shard_manifest", dir)
    assert(got == manifestRecount(members))
    assert(got.toSeq.map(_._2).sum == keep.size)
    // per shard, the curated export is a subset of the whole-corpus one
    val glob = manifestRows("global_shuffle_shards", dir)
      .map(r => r._1 -> r).toMap
    got.foreach { r =>
      assert(r._2 <= glob(r._1)._2 && r._3 <= glob(r._1)._3, s"shard ${r._1}")
    }
  }

  test("curated manifest fixture: only gate-surviving docs are exported") {
    import spark.implicits._
    val passA = "the alpha bravo charlie delta echo foxtrot golf " +
      "hotel india juliet kilo"
    val passB = "a november oscar papa quebec romeo sierra tango " +
      "uniform victor whiskey xray"
    val rows = Seq(
      (1L, passA, "en", "s", 0L), // canonical, passes both gates
      (2L, passA, "en", "s", 0L), // exact dup of 1 -> pruned
      (3L, "w3 a b", "en", "s", 0L), // 3 words -> quality fail
      (4L, passB, "en", "s", 0L), // second survivor
      (5L, null.asInstanceOf[String], "en", "s", 0L)) // no text
    val dir = tempDir("curated").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val expected = manifestRecount(
      Seq(1L, 4L).map(id => (h32(id.toString), id, 12L)))
    assert(manifestRows("curated_shard_manifest", dir) == expected)
    // the global export still counts all five
    assert(manifestRows("global_shuffle_shards", dir).toSeq.map(_._2).sum == 5L)

    // an all-junk corpus exports an empty manifest
    val dir2 = tempDir("curated2").toString
    rows.filter(r => r._1 == 3L || r._1 == 5L)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    assert(manifestRows("curated_shard_manifest", dir2).isEmpty)
  }

  test("export_manifest_drift ≡ three-manifest recount; additivity vs order") {
    val dir = "/root/testdata/sf0.001"
    val all = docs(dir).map { case (id, text, _) =>
      (h32(id.toString), id,
        Option(text).getOrElse("").split(" ").count(_.nonEmpty).toLong)
    }
    def byShard(ms: Seq[(Long, Long, Long)]) =
      manifestRecount(ms).map(r => r._1 -> r).toMap
    val b = byShard(all.filter(_._1 % 10 != 9))
    val i = byShard(all.filter(_._1 % 10 == 9))
    val m = byShard(all)
    val expected = m.values.map { r =>
      val (bb, ii) = (b.get(r._1), i.get(r._1))
      (r._1, bb.map(_._2).getOrElse(0L), ii.map(_._2).getOrElse(0L), r._2,
        bb.map(_._2).getOrElse(0L) + ii.map(_._2).getOrElse(0L) == r._2 &&
          bb.map(_._3).getOrElse(0L) + ii.map(_._3).getOrElse(0L) == r._3 &&
          (bb.map(_._6).getOrElse(0L) + ii.map(_._6).getOrElse(0L)) % M == r._6,
        bb.exists(_._7 == r._7))
    }.toSet
    val got = SparkEntry.queries("export_manifest_drift")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4), r.getBoolean(5))).toSet
    assert(got == expected)
    // the audit's two claims: counting fields always merge; order breaks
    // somewhere (the real increment hits mid-shard positions) and holds
    // exactly where the increment is absent
    assert(got.forall(_._5), "additive field merge failed somewhere")
    assert(got.exists(!_._6), "no shard shows the positional-checksum break")
    got.filter(_._3 == 0L).foreach(r => assert(r._6, s"shard ${r._1}"))
  }

  test("export_manifest_drift fixture: an increment-free corpus preserves order everywhere") {
    val d = tempDir("mdrift").toString
    import spark.implicits._
    val ids = (1L to 60L).filter(i => h32(i.toString) % 10 != 9)
    assert(ids.size >= 8)
    ids.map(i => (i, "w a b", "en", "src", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val got = SparkEntry.queries("export_manifest_drift")(spark, d).collect()
    got.foreach { r =>
      assert(r.getLong(2) == 0L) // no doc hashes into the increment decile
      assert(r.getBoolean(4) && r.getBoolean(5))
      assert(r.getLong(1) == r.getLong(3))
    }
  }

  /** The octave-linear milli-bit log₂ of the DSIR weights, recomputed
    * from scratch (floorDiv mirrors both engines' div/// on these
    * nonnegative operands). */
  private def lg(x: Long): Long = {
    val k = 63 - java.lang.Long.numberOfLeadingZeros(x)
    1000L * k + java.lang.Math.floorDiv(1000L * x, 1L << k) - 1000L
  }

  private def dsirRecount(corpus: Seq[(Long, String, String)])
      : Map[Long, (Long, Long)] = {
    val B = CurationOps.dsirBuckets
    val occs = corpus.flatMap { case (id, text, lang) =>
      val w = Option(text).map(_.split(" ", -1)).getOrElse(Array.empty[String])
      w.iterator.zip(w.iterator.drop(1)).map { case (u, v) =>
        (id, h32(s"$u $v") % B, lang == "en")
      }.toSeq
    }
    val cr = occs.groupBy(_._2).view.mapValues(_.size.toLong + 1).toMap
    val ct = occs.groupBy(_._2).view
      .mapValues(_.count(_._3).toLong + 1).toMap
    val sr = cr.values.sum
    val st = ct.values.sum
    val w = cr.keys.map(f =>
      f -> ((lg(ct(f)) - lg(st)) - (lg(cr(f)) - lg(sr)))).toMap
    occs.groupBy(_._1).view.mapValues { os =>
      (os.size.toLong, os.map(o => w(o._2)).sum)
    }.toMap
  }

  test("dsir_hashed_ngram_weights ≡ recount on sf0.001; en slice scores higher") {
    val dir = "/root/testdata/sf0.001"
    val corpus = docs(dir)
    val expected = dsirRecount(corpus)
    val got = SparkEntry.queries("dsir_hashed_ngram_weights")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, (n, wm, keep)) =>
      assert((n, wm) == expected(id), s"doc $id")
      assert(keep == (wm > 0), s"doc $id keep")
    }
    // aggregate sanity: the target slice must average a higher importance
    // weight than the rest (it IS the target distribution)
    val lang = corpus.map(c => c._1 -> c._3).toMap
    val (en, rest) = got.toSeq.partition(kv => lang(kv._1) == "en")
    def mean(xs: Seq[Long]): Double = xs.sum.toDouble / xs.size
    assert(mean(en.map(_._2._2)) > mean(rest.map(_._2._2)))
  }

  test("dsir fixture: pure-target doc kept, off-distribution doc dropped") {
    val dir = tempDir("dsir").toString
    import spark.implicits._
    // 6 en docs share a tight bigram vocabulary; one junk doc repeats
    // bigrams that never occur in the en slice
    val en = (1 to 6).map(i =>
      (i.toLong, "the model trains on clean text " + s"tail$i", "en", "s", 0L))
    val junk = Seq((9L, Array.fill(8)("zz qq").mkString(" "), "xx", "s", 0L))
    (en ++ junk).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("dsir_hashed_ngram_weights")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(got(1L)._2, "target-slice doc must be kept")
    assert(!got(9L)._2, "off-distribution doc must be dropped")
    assert(got(9L)._1 < got(1L)._1)
  }
}
