package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec

/** Differential FUZZ parity for the streaming twins: seeded random DIRTY
  * event corpora (timestamp ties, exact gap-boundary spacings, duplicate
  * event ids, NULL / empty / unicode event types, heavy-user skew) are run
  * through BOTH the streaming operator and its batch query, and each is
  * compared against the same independent in-memory Scala recount — so a
  * divergence pins which engine drifted, not just that they disagree.
  *
  * This is the streaming half of tools/fuzz_gate.sh: the batch↔DuckDB gate
  * fuzzes the relational surface, this suite fuzzes the keyed-state
  * operators where the dirty classes are different (tie ORDER inside one
  * micro-batch, >= vs > at the exact debounce/session gap boundary, state
  * carried across a NULL-typed group).
  *
  * Parity contract (same as StreamingPipelineSpec's handcrafted cases):
  * event-time-ordered arrival — here a single AvailableNow micro-batch,
  * inside which every twin sorts its per-key iterator by (ts, event_id),
  * the batch queries' exact window order. The corpus is written UNSORTED;
  * the sort is the operator's own, which is the point.
  */
class StreamingFuzzParitySpec extends SparkSpec {
  import spark.implicits._
  import StreamingPipeline._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val baseMs = ts("2024-01-01 00:00:00").getTime
  private val debounceGapUs = 300000000L          // 5 min, kept when >=
  private val sessionGapUs = 30L * 60 * 1000000   // 30 min, same session when <=
  private val weekUs = 7L * 86400 * 1000000

  /** Seeded dirty corpus. 150-second time grid over 8 weeks so EXACT
    * debounce (2 steps = 300 s, kept-boundary) and session (12 steps =
    * 1800 s, same-session-boundary) gaps occur constantly; 1/8 of events
    * get a same-timestamp companion (tiebreak path); 1/20 are duplicated
    * verbatim (dup event_id); types mix the funnel stages with junk, "",
    * unicode, and null; users are skewed (user 1 is hot). */
  private def dirtyEvents(seed: Int, n: Int): Vector[Event] = {
    val rnd = new scala.util.Random(seed)
    val types = Vector("signup", "view", "click", "purchase", "error",
      "", "héllo🚀", "view ", null)
    def nextType() = types(rnd.nextInt(types.length))
    def nextUser() = if (rnd.nextInt(4) == 0) 1L else 2L + rnd.nextInt(30)
    val out = Vector.newBuilder[Event]
    var id = 0L
    (1 to n).foreach { _ =>
      val t = baseMs + rnd.nextInt(8 * 7 * 576) * 150000L
      id += 1
      val e = Event(id, new Timestamp(t), nextUser(), nextType(),
        rnd.nextInt(2000) / 100.0)
      out += e
      if (rnd.nextInt(8) == 0) { // same-ts companion: tie order matters
        id += 1
        out += e.copy(event_id = id, event_type = nextType())
      }
      if (rnd.nextInt(20) == 0) out += e // verbatim duplicate (same id)
    }
    out.result()
  }

  // ------------------------------------------------------------ oracles
  // Each recount is written against the BATCH query's documented
  // semantics; the streaming twins claim exact parity under in-order
  // arrival, so both engines must match these.

  private def sortedByTime(es: Seq[Event]) =
    es.sortBy(e => (e.ts.getTime, e.event_id))

  private val funnelStages = Vector("signup", "view", "click", "purchase")

  /** user → emitted (stage, at_us); single in-order pass with the
    * strictly-after rule — provably equal to the batch min-chain. */
  private def funnelOracle(evs: Seq[Event]): Map[Long, Set[(Int, Long)]] =
    evs.groupBy(_.user_id).map { case (u, es) =>
      val t = Array.fill(5)(-1L) // 1-indexed stage times
      val out = Set.newBuilder[(Int, Long)]
      sortedByTime(es).foreach { e =>
        val us = e.ts.getTime * 1000
        val k = funnelStages.indexOf(e.event_type) + 1 // 0 for junk/null
        if (k == 1 && t(1) < 0) { t(1) = us; out += ((1, us)) }
        else if (k > 1 && t(k) < 0 && t(k - 1) >= 0 && us > t(k - 1)) {
          t(k) = us; out += ((k, us))
        }
      }
      u -> out.result()
    }

  /** (user, cohort_monday_us, week_offset) distinct activity set. */
  private def cohortOracle(evs: Seq[Event]): Set[(Long, Long, Int)] =
    evs.groupBy(_.user_id).flatMap { case (u, es) =>
      val sorted = sortedByTime(es)
      val first = sorted.head.ts.toLocalDateTime.toLocalDate
      val monday = first.minusDays(first.getDayOfWeek.getValue - 1L)
      val mondayUs = Timestamp.valueOf(monday.atStartOfDay).getTime * 1000
      sorted.map(e => ((e.ts.getTime * 1000 - mondayUs) / weekUs).toInt)
        .distinct.map(off => (u, mondayUs, off))
    }.toSet

  /** Surviving (event_id, user, type, at_us) multiset under the
    * previous-event (kept or not) >= 5 min rule, (ts, event_id) order. */
  private def debounceOracle(evs: Seq[Event]): Seq[(Long, Long, String, Long)] =
    evs.groupBy(e => (e.user_id, Option(e.event_type))).toSeq.flatMap {
      case ((u, _), es) =>
        var last = Long.MinValue
        sortedByTime(es).flatMap { e =>
          val us = e.ts.getTime * 1000
          val keep = last == Long.MinValue || us - last >= debounceGapUs
          last = us
          if (keep) Some((e.event_id, u, e.event_type, us)) else None
        }
    }.sortBy(t => (t._1, t._2, Option(t._3).getOrElse(""), t._4))

  /** user → in-order session list (start_us, end_us, n_events); a gap
    * STRICTLY greater than 30 min opens a new session. */
  private def sessionOracle(evs: Seq[Event]): Map[Long, Vector[(Long, Long, Int)]] =
    evs.groupBy(_.user_id).map { case (u, es) =>
      val out = Vector.newBuilder[(Long, Long, Int)]
      var cur: Option[(Long, Long, Int)] = None
      sortedByTime(es).foreach { e =>
        val us = e.ts.getTime * 1000
        cur = cur match {
          case Some((s0, last, k)) if us - last <= sessionGapUs =>
            Some((s0, us, k + 1))
          case Some(closed) =>
            out += closed; Some((us, us, 1))
          case None => Some((us, us, 1))
        }
      }
      cur.foreach(out += _)
      u -> out.result()
    }

  // --------------------------------------------------------------- runs

  /** slices = 1: the whole corpus arrives in ONE AvailableNow micro-batch
    * (per-key iterators sorted by the twins — arrival order fuzzed free).
    * slices > 1: the corpus is cut into event-time-ordered slices written
    * as separate files and replayed with maxFilesPerTrigger=1, so keyed
    * STATE must carry every funnel stage / debounce horizon / cohort mask
    * / open session across random micro-batch boundaries — including
    * boundaries that land mid-tie (the slice cut respects (ts, event_id)
    * order, which is the in-order contract). */
  private def runParity(seed: Int, slices: Int): Unit = {
      val evs = dirtyEvents(seed, 1000)
      val root = tempDir(s"streamfuzz$seed")

      // stream side: Event-typed parquet, written ONCE; `stream` is a def
      // because each runToMemory consumes its own fresh source
      val src = root.resolve("stream")
      if (slices == 1) {
        // unsorted single-batch arrival
        evs.toDS().write.parquet(src.toString)
      } else {
        val ordered = sortedByTime(evs)
        val per = math.ceil(ordered.size / slices.toDouble).toInt
        ordered.grouped(per).zipWithIndex.foreach { case (slice, i) =>
          slice.toDS().coalesce(1).write
            .parquet(src.resolve(s"b$i").toString)
          Thread.sleep(1000) // FileStreamSource replays oldest-mtime first
        }
      }
      def stream = {
        val r = spark.readStream
          .schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
        val withOpt = if (slices == 1) r else r.option("maxFilesPerTrigger", 1)
        val path = if (slices == 1) src.toString else src.toString + "/*"
        withOpt.parquet(path).as[Event]
      }

      // batch side: the driver events layout (int64 nanosecond ts)
      evs.map(e => (e.event_id, e.ts.getTime * 1000000L, e.user_id,
          e.event_type, e.value, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(root.resolve("batch").resolve("events.parquet").toString)
      val batchDir = root.resolve("batch").toString
      def batchQ(name: String) = graft.SparkEntry.queries(name)(spark, batchDir)

      // ---- funnel
      val fOracle = funnelOracle(evs)
      val fStream = runToMemory(spark, funnelStream(stream).toDF(), s"fz_funnel_$seed")
        .collect()
        .groupBy(_.getAs[Long]("user_id"))
        .view.mapValues(_.map(r =>
          (r.getAs[Int]("stage"), r.getAs[Long]("at_us"))).toSet).toMap
      assert(fStream == fOracle.filter(_._2.nonEmpty),
        s"funnelStream drifted from the recount (seed $seed)")
      val fBatch = batchQ("event_funnel").collect()
        .map(r => r.getAs[String]("step") -> r.getAs[Long]("n_users")).toMap
      val oracleStageCounts = (1 to 4).map(k =>
        k -> fOracle.count(_._2.exists(_._1 == k)).toLong).toMap
      assert(fBatch("1_signup") == oracleStageCounts(1) &&
        fBatch("2_view") == oracleStageCounts(2) &&
        fBatch("3_click") == oracleStageCounts(3) &&
        fBatch("4_purchase") == oracleStageCounts(4),
        s"batch event_funnel drifted from the recount (seed $seed)")

      // ---- cohort
      val cOracle = cohortOracle(evs)
      val cStream = runToMemory(spark, cohortStream(stream).toDF(), s"fz_cohort_$seed")
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("cohort_us"),
          r.getAs[Int]("week_offset")))
      assert(cStream.distinct.length == cStream.length,
        s"cohortStream emitted a (user, offset) twice inside the mask horizon (seed $seed)")
      assert(cStream.toSet == cOracle,
        s"cohortStream drifted from the recount (seed $seed)")
      val cBatch = batchQ("cohort_retention").collect()
        .map(r => (r.getAs[Timestamp]("cohort_week").getTime * 1000,
          r.getAs[Long]("week_offset").toInt) -> r.getAs[Long]("n_users")).toMap
      val cOracleCounts = cOracle.groupBy(t => (t._2, t._3))
        .view.mapValues(_.size.toLong).toMap
      assert(cBatch == cOracleCounts,
        s"batch cohort_retention drifted from the recount (seed $seed)")

      // ---- debounce
      val dOracle = debounceOracle(evs)
      val dStream = runToMemory(spark, debounceStream(stream).toDF(), s"fz_deb_$seed")
        .collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
          r.getAs[String]("event_type"), r.getAs[Long]("at_us")))
        .sortBy(t => (t._1, t._2, Option(t._3).getOrElse(""), t._4))
      assert(dStream.toSeq == dOracle,
        s"debounceStream drifted from the recount (seed $seed)")
      val dBatch = batchQ("event_debounce").collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
          r.getAs[String]("event_type"), r.getAs[Timestamp]("ts").getTime * 1000))
        .sortBy(t => (t._1, t._2, Option(t._3).getOrElse(""), t._4))
      assert(dBatch.toSeq == dOracle,
        s"batch event_debounce drifted from the recount (seed $seed)")

      // ---- sessionize: stream emits CLOSED sessions (each user's final
      // session stays open in state under NoTimeout — drop it from the
      // oracle for the stream compare; the batch query sees all of them)
      val sOracle = sessionOracle(evs)
      val sStream = runToMemory(spark, sessionize(stream).toDF(), s"fz_sess_$seed")
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
          r.getAs[Long]("end_us"), r.getAs[Int]("n_events")))
        .sortBy(t => (t._1, t._2))
      val sOracleClosed = sOracle.toSeq.flatMap { case (u, sess) =>
        sess.dropRight(1).map(s => (u, s._1, s._2, s._3))
      }.sortBy(t => (t._1, t._2))
      assert(sStream.toSeq == sOracleClosed,
        s"sessionize stream drifted from the recount (seed $seed)")
      val sBatch = batchQ("sessionize").collect()
        .map(r => r.getAs[Long]("user_id") ->
          (r.getAs[Long]("n_sessions"), r.getAs[Long]("n_events"))).toMap
      val sOracleCounts = sOracle.view.mapValues(sess =>
        (sess.length.toLong, sess.map(_._3.toLong).sum)).toMap
      assert(sBatch == sOracleCounts,
        s"batch sessionize drifted from the recount (seed $seed)")

      // ---- exactly-once id dedup on the replayed stream
      val idSet = runToMemory(spark,
        dedupStream(stream.toDF()), s"fz_dedup_${seed}_$slices")
        .collect().map(_.getAs[Long]("event_id")).toSeq
      assert(idSet.distinct.length == idSet.length &&
        idSet.toSet == evs.map(_.event_id).toSet,
        s"dedupStream id set drifted (seed $seed)")

      // ---- as-of enrichment: purchase stream against the static click
      // snapshot; dirty classes exercised: same-ts click companions (the
      // max-event_id dedup tie), purchases AT a click's exact ts (the
      // inclusive bound), verbatim duplicate purchases (one output row
      // per INPUT row), users with junk/NULL types only (no clicks →
      // NULL enrichment)
      val aOracle = asofOracle(evs)
      val aStream = runToMemory(spark,
        asofEnrichStream(stream.toDF(),
          asofQuoteSnapshot(evs.toDS().toDF())), s"fz_asof_${seed}_$slices")
        .collect()
        .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("user_id"),
          r.getAs[Timestamp]("purchase_ts").getTime,
          Option(r.getAs[java.lang.Long]("click_id")).map(Long.unbox),
          Option(r.getAs[Timestamp]("click_ts")).map(_.getTime)))
        .sortBy(t => (t._1, t._2, t._3, t._4))
      assert(aStream.toSeq == aOracle,
        s"asofEnrichStream drifted from the recount (seed $seed)")
      val aBatch = batchQ("asof_join").collect()
        .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("user_id"),
          r.getAs[Timestamp]("purchase_ts").getTime,
          Option(r.getAs[java.lang.Long]("click_id")).map(Long.unbox),
          Option(r.getAs[Timestamp]("click_ts")).map(_.getTime)))
        .sortBy(t => (t._1, t._2, t._3, t._4))
      assert(aBatch.toSeq == aOracle,
        s"batch asof_join drifted from the recount (seed $seed)")
  }

  /** Per purchase ROW (duplicates kept — the stream emits one output per
    * input row): the latest click at-or-before by the same user, clicks
    * first deduped to one per (user, ts) by max event_id — the composed
    * query's exact rule. */
  private def asofOracle(evs: Seq[Event])
      : Seq[(Long, Long, Long, Option[Long], Option[Long])] = {
    val clicks = evs.filter(_.event_type == "click")
      .groupBy(e => (e.user_id, e.ts.getTime))
      .map { case ((u, t), es) => (u, t, es.map(_.event_id).max) }.toSeq
    evs.filter(_.event_type == "purchase").map { p =>
      val cands = clicks.filter(c =>
        c._1 == p.user_id && c._2 <= p.ts.getTime)
      val best = if (cands.isEmpty) None
        else Some(cands.maxBy(_._2)) // unique per ts after the dedup
      (p.event_id, p.user_id, p.ts.getTime, best.map(_._3), best.map(_._2))
    }.sortBy(t => (t._1, t._2, t._3, t._4))
  }

  for (seed <- Seq(101, 202, 303)) {
    test(s"fuzz seed $seed: stream twins and batch queries match the in-memory recount") {
      runParity(seed, slices = 1)
    }
  }

  for (seed <- Seq(404, 505)) {
    test(s"fuzz seed $seed, 4 micro-batches: keyed state carries across batch boundaries") {
      runParity(seed, slices = 4)
    }
  }

  /** Seeded dirty DOCUMENT corpus for the stateless prune gate: NULL and
    * empty text, unicode, exact quality-band boundaries (4/5/2000-word
    * docs), pathological repetition (one gram repeated), whitespace-only
    * docs, case/punct variants that canonicalize identically (the
    * exact-dup class), and verbatim duplicate texts under new ids. */
  private def dirtyDocs(seed: Int, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val stop = Vector("the", "a", "of", "and", "to", "in", "is", "it")
    def sentence(k: Int) =
      (1 to k).map(_ => if (rnd.nextInt(3) == 0) stop(rnd.nextInt(stop.length))
        else s"w${rnd.nextInt(50)}").mkString(" ")
    val out = Vector.newBuilder[(Long, String)]
    var id = 0L
    (1 to n).foreach { _ =>
      id += 1
      val t = rnd.nextInt(10) match {
        case 0 => null
        case 1 => ""
        case 2 => "   "
        case 3 => sentence(4)                  // below the 5-word floor
        case 4 => ("spam ham " * 40).trim      // repetition-gate trip
        case 5 => "Ünïcode 🚀 " + sentence(8)
        case 6 => sentence(5)                  // exact lower boundary
        case _ => sentence(5 + rnd.nextInt(30))
      }
      out += ((id, t))
      if (t != null && rnd.nextInt(5) == 0) {  // exact-dup class
        id += 1
        // case/punct variant canonicalizing to the same hash half the time
        out += ((id, if (rnd.nextBoolean()) t else t.toUpperCase + "!!"))
      }
    }
    out.result()
  }

  for (seed <- Seq(808, 909)) {
    test(s"fuzz seed $seed: lineDedupStream, batch line_dedup, and the recount agree on a dirty corpus") {
      val root = tempDir(s"linefuzz$seed")
      val docsSeq = dirtyDocs(seed, 250)
      val docs = docsSeq.toDF("doc_id", "text")
      docs.write.parquet(root.resolve("documents.parquet").toString)

      // in-memory recount of the shared chunking + first-occurrence rule
      def chunksOf(text: String): Vector[String] = {
        val toks = Option(text).getOrElse("").split(" ", -1).toVector
        (0 to ((toks.length - 1) / 8))
          .map(i => toks.slice(i * 8, i * 8 + 8).mkString(" ")).toVector
      }
      val allChunks = docsSeq.flatMap { case (id, t) =>
        chunksOf(t).zipWithIndex.map { case (c, i) => (id, i.toLong, c) }
      }
      val firstPos = allChunks.groupBy(_._3)
        .view.mapValues(_.map(o => o._1 * 1000000L + o._2).min).toMap
      val keptOracle = allChunks
        .filter(o => firstPos(o._3) == o._1 * 1000000L + o._2)
        .map(o => (o._1, o._2, o._3)).toSet

      // stream side: per-occurrence verdicts
      val stream = spark.readStream.schema(docs.schema)
        .parquet(root.resolve("documents.parquet").toString)
      val verdicts = StreamingPipeline.runToMemory(spark,
        StreamingPipeline.lineDedupStream(stream), s"linefuzz$seed")
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
          r.getAs[String]("chunk"), r.getAs[Boolean]("kept")))
      assert(verdicts.length == allChunks.length, s"seed $seed occurrence count")
      assert(verdicts.filter(_._4).map(v => (v._1, v._2, v._3)).toSet
        == keptOracle, s"seed $seed stream kept-set drift")

      // batch side: per-doc reassembly equals the recount's
      val keptByDoc = keptOracle.groupBy(_._1)
      val batch = graft.SparkEntry.queries("line_dedup")(spark, root.toString)
        .collect()
      assert(batch.length == docsSeq.length)
      batch.foreach { r =>
        val id = r.getAs[Long]("doc_id")
        val kept = keptByDoc.getOrElse(id, Set.empty)
        assert(r.getAs[Long]("n_chunks") ==
          allChunks.count(_._1 == id), s"seed $seed doc $id n_chunks")
        assert(r.getAs[Long]("n_kept") == kept.size, s"seed $seed doc $id n_kept")
        val expectText = kept.toSeq.sortBy(k => (k._2, k._3))
          .map(_._3).mkString(" ")
        assert(r.getAs[String]("text_clean") == expectText,
          s"seed $seed doc $id reassembly")
      }
      // the dirty corpus must actually contain cross-doc duplicates
      assert(keptOracle.size < allChunks.length, s"seed $seed dedup vacuous")
    }
  }

  /** Dirty embedding corpus: NULL vectors, empty arrays, all-zero and
    * sub-quantization-threshold vectors (all drop as zero-norm), plus
    * exact-binary-fraction entries (k/64) so the quantization and every
    * cosine is bit-reproducible in the JVM recount. Ids 1-9 are forced
    * valid so the fixed quantizer rule (vec_id < 10, % 5 != 0) has its 8
    * centroids. */
  for (seed <- Seq(505, 606)) {
    test(s"fuzz seed $seed: knScoreStream, batch kn_bigram_ppl, and the " +
        "JVM KN recount agree on a dirty corpus") {
      val root = tempDir(s"knfuzz$seed")
      val langs = Vector("en", "fr", null, "zh", "en")
      val full = dirtyDocs(seed, 250).map { case (id, t) =>
        (id, t, langs((id % 5).toInt), s"s${id % 3}",
          Option(t).map(_.length.toLong).getOrElse(0L))
      }
      val docs = full.toDF("doc_id", "text", "lang", "source", "n_chars")
      val path = root.resolve("documents.parquet").toString
      docs.write.parquet(path)

      // independent JVM recount of the full KN formula (split with
      // limit -1: Spark's split keeps trailing empties)
      def pairs(t: String): Seq[(String, String)] = {
        val w = t.split(" ", -1).toSeq
        if (w.length < 2) Nil else w.init.zip(w.tail)
      }
      val train = full.filter(d => d._3 == "en" && d._2 != null).map(_._2)
      val cb = train.flatMap(pairs).groupBy(identity)
        .map { case (k, v) => k -> v.size.toLong }
      val cu = cb.toSeq.groupBy(_._1._1).map { case (u, m) =>
        u -> ((m.map(_._2).sum, m.size.toLong)) }
      val nv = cb.toSeq.groupBy(_._1._2).map { case (v, m) =>
        v -> m.size.toLong }
      val n1all = cb.size.toLong
      def bits(u: String, v: String): (Long, Boolean) = {
        val n1v = nv.getOrElse(v, 0L)
        val pcont = if (n1all > 0) 1000000L * n1v / n1all else 0L
        val cuv = cb.getOrElse((u, v), 0L)
        val (cuC, n1u) = cu.getOrElse(u, (0L, 0L))
        val pRaw =
          if (cuC > 0)
            1000L * math.max(1000L * cuv - 750L, 0L) / cuC +
              (750000L * n1u / cuC) * pcont / 1000000L
          else pcont
        val p = math.min(math.max(pRaw, 1L), 1000000L)
        (1000L * (20L - java.lang.Long.toBinaryString(p).length),
          n1v == 0 || n1all == 0)
      }
      val expected = full.filter(_._2 != null).flatMap {
        case (id, t, _, _, _) =>
          val ps = pairs(t)
          if (ps.isEmpty) None
          else {
            val bs = ps.map(p => bits(p._1, p._2))
            Some(id -> ((ps.size.toLong, bs.count(_._2).toLong,
              bs.map(_._1).sum / ps.size)))
          }
      }.toMap

      def key(r: org.apache.spark.sql.Row) =
        r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("n_oov_bigrams"),
            r.getAs[Long]("kn_bits_milli")))
      val model = graft.queries.LmOps.knModelRow(spark.read.parquet(path))
      val streamed = StreamingPipeline.runToMemory(spark,
        StreamingPipeline.knScoreStream(
          spark.readStream.schema(docs.schema).parquet(path), model),
        s"knfuzz$seed")
        .collect().map(key).toMap
      assert(streamed == expected, "stream vs JVM recount")
      val batch = graft.SparkEntry.queries("kn_bigram_ppl")(
        spark, root.toString).collect().map(key).toMap
      assert(batch == expected, "batch vs JVM recount")
    }
  }

  for (seed <- Seq(525, 626)) {
    test(s"fuzz seed $seed: dsirScoreStream, batch dsir_hashed_ngram_weights," +
        " and the JVM recount agree on a dirty corpus") {
      val root = tempDir(s"dsirfuzz$seed")
      val langs = Vector("en", "fr", null, "zh", "en")
      val full = dirtyDocs(seed, 250).map { case (id, t) =>
        (id, t, langs((id % 5).toInt), s"s${id % 3}",
          Option(t).map(_.length.toLong).getOrElse(0L))
      }
      val docs = full.toDF("doc_id", "text", "lang", "source", "n_chars")
      val path = root.resolve("documents.parquet").toString
      docs.write.parquet(path)

      // independent JVM recount (md5-bucket hashing, add-one smoothing,
      // octave-linear milli-bit log2; split limit -1 keeps trailing
      // empties, matching both engines)
      def h32(x: String): Long = java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8),
        16)
      def lg(x: Long): Long = {
        val k = 63 - java.lang.Long.numberOfLeadingZeros(x)
        1000L * k + java.lang.Math.floorDiv(1000L * x, 1L << k) - 1000L
      }
      val B = graft.queries.CurationOps.dsirBuckets
      val occs = full.filter(_._2 != null).flatMap { case (id, t, lang, _, _) =>
        val w = t.split(" ", -1).toSeq
        w.init.zip(w.tail).map { case (u, v) =>
          (id, h32(s"$u $v") % B, lang == "en")
        }
      }
      val cr = occs.groupBy(_._2).view.mapValues(_.size.toLong + 1).toMap
      val ct = occs.groupBy(_._2).view
        .mapValues(_.count(_._3).toLong + 1).toMap
      val sr = cr.values.sum
      val st = ct.values.sum
      val wmap = cr.keys.map(f =>
        f -> ((lg(ct(f)) - lg(st)) - (lg(cr(f)) - lg(sr)))).toMap
      val expected = occs.groupBy(_._1).view.mapValues { os =>
        val wm = os.map(o => wmap(o._2)).sum
        (os.size.toLong, wm, wm > 0)
      }.toMap

      def key(r: org.apache.spark.sql.Row) =
        r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("weight_milli"),
            r.getAs[Boolean]("keep")))
      val model = graft.queries.CurationOps
        .dsirModelRow(spark.read.parquet(path))
      val streamed = StreamingPipeline.runToMemory(spark,
        StreamingPipeline.dsirScoreStream(
          spark.readStream.schema(docs.schema).parquet(path), model),
        s"dsirfuzz$seed")
        .collect().map(key).toMap
      assert(streamed == expected, "stream vs JVM recount")
      val batch = graft.SparkEntry.queries("dsir_hashed_ngram_weights")(
        spark, root.toString).collect().map(key).toMap
      assert(batch == expected, "batch vs JVM recount")
    }
  }

  for (seed <- Seq(535, 636)) {
    test(s"fuzz seed $seed: temperatureSampleStream, batch temperature_sample_audit," +
        " and the JVM recount agree on a dirty corpus") {
      val root = tempDir(s"tsampfuzz$seed")
      val full = dirtyDocs(seed, 250).map { case (id, t) =>
        (id, t, "en", if (id % 7 == 0) null else s"s${id % 3}",
          Option(t).map(_.length.toLong).getOrElse(0L))
      }
      val docs = full.toDF("doc_id", "text", "lang", "source", "n_chars")
      val path = root.resolve("documents.parquet").toString
      docs.write.parquet(path)

      // independent JVM recount of the weights and the coin rule
      def toks(t: String): Option[Long] =
        Option(t).map(_.split(" ", -1).count(_.nonEmpty).toLong)
      val bySrc = full.groupBy(d => Option(d._4).getOrElse(""))
      val nTok = bySrc.view.mapValues { ds =>
        val ts = ds.flatMap(d => toks(d._2))
        if (ts.isEmpty) None else Some(ts.sum)
      }.toMap
      val rt = nTok.view.mapValues(_.map(n =>
        math.sqrt(n.toDouble).toLong)).toMap
      val totT = nTok.values.flatten.sum
      val totR = rt.values.flatten.sum
      val boost = nTok.keys.map { s =>
        s -> (for {
          n <- nTok(s); r <- rt(s)
          p = n * 1000L / totT
          if p > 0
        } yield r * 1000L / totR * 1000L / p).getOrElse(1000L)
      }.toMap
      def u24(id: Long): Long = java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(6), 16)
      val expected = full.map { d =>
        val src = Option(d._4).getOrElse("")
        val b = boost(src)
        d._1 -> ((src, b,
          b / 1000L + (if (u24(d._1) % 1000L < b % 1000L) 1L else 0L)))
      }.toMap

      val weights = graft.queries.CorpusOps
        .tempWeightsRow(spark.read.parquet(path))
      val streamed = StreamingPipeline.runToMemory(spark,
        StreamingPipeline.temperatureSampleStream(
          spark.readStream.schema(docs.schema).parquet(path), weights),
        s"tsampfuzz$seed").collect()
        .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[String]("source"),
          r.getAs[Long]("boost_milli"), r.getAs[Long]("copies")))).toMap
      assert(streamed == expected, "stream vs JVM recount")

      val batchAgg = graft.SparkEntry
        .queries("temperature_sample_audit")(spark, root.toString)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val expAgg = expected.values.groupBy(_._1).view.mapValues { vs =>
        (vs.size.toLong, vs.head._2, vs.map(_._3).sum)
      }.toMap
      assert(batchAgg == expAgg, "batch vs JVM recount")
    }
  }

  for (seed <- Seq(515, 616)) {
    test(s"fuzz seed $seed: unigramSegmentStream equals the JVM Viterbi recount on a dirty corpus") {
      val root = tempDir(s"unifuzz$seed")
      val docsSeq = dirtyDocs(seed, 200)
      docsSeq.toDF("doc_id", "text")
        .write.parquet(root.resolve("documents.parquet").toString)
      val dir = root.toString
      val corpus = spark.read
        .parquet(root.resolve("documents.parquet").toString)
      val vocabRow = graft.queries.UnigramOps.vocabCostRow(spark, dir)
      val streamed = StreamingPipeline.runToMemory(spark,
        StreamingPipeline.unigramSegmentStream(
          spark.readStream.schema(corpus.schema)
            .parquet(root.resolve("documents.parquet").toString),
          vocabRow), s"unifuzz$seed")
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("word"),
          r.getAs[Long]("cost_millibits"), r.getAs[Long]("n_pieces"),
          r.getAs[String]("seg"))).toSeq
      // independent JVM recount: train on the full dirty corpus (the
      // vocab row's own universe), then exhaustive-search every
      // qualifying word occurrence — NULL/empty/unicode/uppercase and
      // over-length docs must be dropped identically by both sides
      val allWords = docsSeq.flatMap { case (_, t) =>
        Option(t).toSeq.flatMap(_.split(" ")) }
      val (_, bests) = graft.queries.UnigramTestOracle.train(allWords)
      val expected = docsSeq.flatMap { case (id, t) =>
        Option(t).toSeq.flatMap(_.split(" "))
          .filter(w =>
            graft.queries.UnigramTestOracle.universe(Seq(w)).nonEmpty)
          .map { w =>
            val (c, n, seg) = bests(w); (id, w, c, n, seg) }
      }
      assert(streamed.nonEmpty)
      assert(streamed.sorted == expected.sorted)
    }
  }

  private def dirtyVecs(seed: Int, n: Int): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    def clean(): Array[Float] = {
      val a = Array.fill(8)((rnd.nextInt(129) - 64) / 64.0f)
      if (a.forall(_ == 0.0f)) { a(0) = 1.0f }; a
    }
    (1L to 9L).map(id => (id, clean())) ++
      (10L to n.toLong).map { id =>
        val v = rnd.nextInt(8) match {
          case 0 => null
          case 1 => Array.empty[Float]
          case 2 => Array.fill(8)(0.0f)
          case 3 => Array.fill(8)(0.0001f) // quantizes to all-zero
          case _ => clean()
        }
        (id, v)
      }
  }

  for (seed <- Seq(111, 222)) {
    test(s"fuzz seed $seed: ivfAssignStream equals the JVM recount and the batch drift counts") {
      val root = tempDir(s"ivffuzz$seed")
      val vecsSeq = dirtyVecs(seed, 200)
      val vecs = vecsSeq.map { case (id, v) => (id, v, 0) }
        .toDF("vec_id", "embedding", "label")
      vecs.write.parquet(root.resolve("embeddings.parquet").toString)

      // JVM recount with the exact engine arithmetic: quantize (entries
      // are exact k/64 fractions so round() is unambiguous), drop zero
      // norms, strict-> argmax over cent_id-ascending centroids
      def quant(v: Array[Float]): Option[Array[Long]] = Option(v).map(
        _.map(x => java.math.BigDecimal.valueOf(x.toDouble * 1000)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue))
      val quantized = vecsSeq.flatMap { case (id, v) =>
        quant(v).map(q => (id, q, q.map(x => x * x).sum))
      }.filter(_._3 > 0L)
      val cents = quantized.filter(t => t._1 < 10 && t._1 % 5 != 0)
        .sortBy(_._1)
      assert(cents.length == 8, s"seed $seed quantizer incomplete")
      def dot(a: Array[Long], b: Array[Long]): Long =
        a.zip(b).map { case (x, y) => x * y }.sum
      val oracle = quantized.map { case (id, q, nrm) =>
        var best: Option[(Long, Double)] = None
        cents.foreach { case (cid, cq, cn) =>
          val ccos = dot(q, cq).toDouble / math.sqrt((nrm * cn).toDouble)
          if (best.forall(b => ccos > b._2)) best = Some((cid, ccos))
        }
        id -> best.get
      }.toMap

      val stream = spark.readStream.schema(vecs.schema)
        .parquet(root.resolve("embeddings.parquet").toString)
      val corpus = spark.read.parquet(root.resolve("embeddings.parquet").toString)
      val out = StreamingPipeline.runToMemory(spark,
        StreamingPipeline.ivfAssignStream(stream,
          graft.queries.SimilarityOps.ivfQuantizerRow(corpus)), s"ivffuzz$seed")
        .collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Long]("cent_id"), r.getAs[Double]("ccos")))).toMap
      assert(out.keySet == oracle.keySet,
        s"seed $seed zero-norm drop set drifted")
      oracle.foreach { case (id, (cid, ccos)) =>
        assert(out(id) == ((cid, ccos)), s"seed $seed vec $id assignment")
      }
      // dirty classes must be present: some vectors dropped
      assert(oracle.size < vecsSeq.count(_._2 != null))

      // batch cross-check: per-list totals equal ivf_list_drift's
      val drift = graft.SparkEntry.queries("ivf_list_drift")(
        spark, root.toString).collect()
        .map(r => r.getAs[Long]("cent_id") ->
          (r.getAs[Long]("n_base") + r.getAs[Long]("n_inc"))).toMap
      val streamCounts = out.values.groupBy(_._1)
        .view.mapValues(_.size.toLong).toMap
      assert(streamCounts == drift.filter(_._2 > 0),
        s"seed $seed stream counts vs batch drift")
    }
  }

  for (seed <- Seq(606, 707)) {
    test(s"fuzz seed $seed: pruneStream verdicts equal the batch prune table on a dirty corpus") {
      import org.apache.spark.sql.functions.col
      val root = tempDir(s"prunefuzz$seed")
      val docs = dirtyDocs(seed, 300).toDF("doc_id", "text")
      // batch side reads a dir via the query surface: write the corpus as
      // the documents table of a scratch dir
      docs.write.parquet(root.resolve("documents.parquet").toString)
      val batch = graft.SparkEntry.queries("corpus_prune_verdicts")(
        spark, root.toString).collect()
      val canonIdx = graft.queries.TextOps.canonIndex(docs)
      val stream = spark.readStream.schema(docs.schema)
        .parquet(root.resolve("documents.parquet").toString)
      val streamed = StreamingPipeline.runToMemory(spark,
        StreamingPipeline.pruneStream(stream, canonIdx), s"prunefuzz$seed")
        .collect()
      val fields = Seq("is_canonical", "quality_ok", "repetition_ok", "keep", "reason")
      def key(rows: Array[org.apache.spark.sql.Row]) = rows
        .map(r => (r.getAs[Long]("doc_id"), fields.map(r.getAs[Any])))
        .sortBy(_._1).toSeq
      assert(streamed.length == batch.length)
      assert(key(streamed) == key(batch), s"seed $seed verdict drift")
      // the dirty corpus must exercise every verdict class
      assert(batch.map(_.getAs[String]("reason")).toSet ==
        Set("exact_dup", "quality", "repetition", "ok"))
    }
  }

  for (seed <- Seq(747, 848)) {
    test(s"fuzz seed $seed: tvDriftStream, batch source_tv_drift, and the" +
        " JVM TV recount agree on a dirty corpus") {
      val root = tempDir(s"tvfuzz$seed")
      val full = dirtyDocs(seed, 250).map { case (id, t) =>
        (id, t, "en", if (id % 7 == 0) null else s"s${id % 3}",
          Option(t).map(_.length.toLong).getOrElse(0L))
      }
      val docs = full.toDF("doc_id", "text", "lang", "source", "n_chars")
      val path = root.resolve("documents.parquet").toString
      docs.write.parquet(path)
      def trigrams(t: String): Seq[String] = {
        val w = Option(t).getOrElse("").split(" ", -1)
        if (w.length < 3) Seq.empty
        else (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}")
      }
      // independent JVM recount of the exact integer TV math (NULL
      // source buckets as '', the batch coalesce rule)
      val occ = full.flatMap { case (_, t, _, src, _) =>
        trigrams(t).map(g => (Option(src).getOrElse(""), g))
      }
      val bySrc = occ.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val dg = occ.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val dt = occ.size.toLong
      val q = dg.map { case (g, d) => g -> 1000000L * d / dt }
      val qtot = q.valuesIterator.sum
      val expected = occ.map(_._1).distinct.map { src =>
        val gs = bySrc.collect {
          case ((s, g), c) if s == src => (g, c) }.toSeq
        val ct = gs.map(_._2).sum
        val ads = gs.map { case (g, c) =>
          (g, math.abs(1000000L * c / ct - q(g))) }
        val sad = ads.map(_._2).sum
        val sq = gs.map(g => q(g._1)).sum
        val tv = (sad + qtot - sq) / 2
        val (topG, topAd) = ads.minBy { case (g, ad) => (-ad, g) }
        src -> ((gs.size.toLong, ct, tv, tv >= 0 && tv <= 1000000L,
          topG, topAd))
      }.toMap
      assert(expected.size >= 3, "dirty corpus must exercise several sources")
      // stream side (one AvailableNow batch over the whole dirty corpus)
      val streamed = StreamingPipeline.runToMemory(spark,
        StreamingPipeline.tvDriftStream(
          spark.readStream.schema(docs.schema).parquet(path)),
        s"tvfuzz$seed").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getBoolean(4), r.getString(5), r.getLong(6))))
        .toMap
      assert(streamed == expected, "tv stream vs JVM recount")
      // batch side on the same dirty table
      val batch = graft.SparkEntry.queries("source_tv_drift")(
        spark, root.toString).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getBoolean(4), r.getString(5), r.getLong(6))))
        .toMap
      assert(batch == expected, "batch source_tv_drift vs JVM recount")
    }
  }

  for (seed <- Seq(545, 646)) {
    test(s"fuzz seed $seed: cms/kmv sketch streams, the batch sketches," +
        " and the JVM recount agree on a dirty corpus") {
      val root = tempDir(s"sketchfuzz$seed")
      val full = dirtyDocs(seed, 250).map { case (id, t) =>
        (id, t, "en", if (id % 7 == 0) null else s"s${id % 3}",
          Option(t).map(_.length.toLong).getOrElse(0L))
      }
      val docs = full.toDF("doc_id", "text", "lang", "source", "n_chars")
      val path = root.resolve("documents.parquet").toString
      docs.write.parquet(path)

      def md5hex(x: String): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
      def u32(x: String): Long = java.lang.Long.parseLong(md5hex(x).take(8), 16)
      def u24(x: String): Long = java.lang.Long.parseLong(md5hex(x).take(6), 16)
      def trigrams(t: String): Seq[String] = {
        val w = Option(t).getOrElse("").split(" ", -1)
        if (w.length < 3) Seq.empty
        else (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}")
      }

      // JVM CMS cell recount (the stream's running counters after the
      // whole feed == the sketch of the corpus — additivity)
      val S = graft.queries.SketchOps
      val cells = scala.collection.mutable.Map.empty[(Int, Long), Long]
      for ((_, t, _, _, _) <- full; g <- trigrams(t); i <- 0 until S.cmsDepth) {
        val k = (i, u32(s"$i:$g") % S.cmsWidth)
        cells(k) = cells.getOrElse(k, 0L) + 1L
      }
      val cmsStreamed = StreamingPipeline.runToMemory(spark,
        StreamingPipeline.cmsCellStream(
          spark.readStream.schema(docs.schema).parquet(path)),
        s"cmsfuzz$seed", org.apache.spark.sql.streaming.OutputMode.Update())
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(cmsStreamed == cells.toMap, "cms stream vs JVM recount")

      // JVM CountSketch signed-cell recount (linearity: running signed
      // sums after the whole feed == the batch sketch of the corpus)
      val csCells = scala.collection.mutable.Map.empty[(Int, Long), Long]
      for ((_, t, _, _, _) <- full; g <- trigrams(t); i <- 0 until S.csDepth) {
        val k = (i, u32(s"cs$i:$g") % S.csWidth)
        csCells(k) = csCells.getOrElse(k, 0L) +
          (1L - 2L * (u32(s"css$i:$g") % 2L))
      }
      val csRows = StreamingPipeline.runToMemory(spark,
        StreamingPipeline.countSketchStream(
          spark.readStream.schema(docs.schema).parquet(path)),
        s"csfuzz$seed", org.apache.spark.sql.streaming.OutputMode.Update())
        .collect()
      val csStreamed = csRows.groupBy(r => (r.getInt(0), r.getLong(1)))
        .map { case (k, rs) => k -> rs.maxBy(_.getLong(3)).getLong(2) }
      assert(csStreamed == csCells.toMap, "countsketch stream vs JVM recount")

      // JVM dyadic rank-sketch cell recount (same additivity argument:
      // running counters after the whole feed == the sketch of the
      // corpus the batch cms_rank_audit builds)
      val rankCells = scala.collection.mutable.Map.empty[Long, Long]
      for ((_, t, _, _, _) <- full if t != null) {
        val v = math.min(t.split(" ", -1).length.toLong, S.rankVMax)
        for (l <- 0 until S.rankLevels; i <- 0 until S.cmsDepth) {
          val idx = (l.toLong * S.cmsDepth + i) * S.cmsWidth +
            u32(s"$i:$l:${v >> l}") % S.cmsWidth
          rankCells(idx) = rankCells.getOrElse(idx, 0L) + 1L
        }
      }
      val rankStreamed = StreamingPipeline.runToMemory(spark,
        StreamingPipeline.rankCellStream(
          spark.readStream.schema(docs.schema).parquet(path)),
        s"rankfuzz$seed", org.apache.spark.sql.streaming.OutputMode.Update())
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rankStreamed == rankCells.toMap, "rank stream vs JVM recount")

      // JVM KMV bottom-k recount per source (NULL source buckets as '')
      val bySource = full.flatMap { case (_, t, _, src, _) =>
        trigrams(t).map(g => (Option(src).getOrElse(""), g))
      }.distinct
      val expected = bySource.groupBy(_._1).map { case (src, gs) =>
        val bottom = gs.map(g => (u32(g._2), g._2)).distinct.sorted.take(S.kmvK)
        val n = bottom.size.toLong
        val hk = if (n >= S.kmvK) Some(bottom.last._1) else None
        val est = if (n < S.kmvK) n
          else hk.filter(_ > 0)
            .map((S.kmvK - 1).toLong * S.kmvDomain / _).getOrElse(0L)
        src -> ((n, hk, est))
      }
      val kmvRows = StreamingPipeline.runToMemory(spark,
        StreamingPipeline.kmvSketchStream(
          spark.readStream.schema(docs.schema).parquet(path)),
        s"kmvfuzz$seed").collect()
      val kmvStreamed = kmvRows.groupBy(_.getString(0)).map { case (s, rs) =>
        val last = rs.maxBy(_.getLong(4))
        s -> ((last.getLong(1),
          if (last.isNullAt(2)) None else Some(last.getLong(2)),
          last.getLong(3)))
      }
      assert(kmvStreamed == expected, "kmv stream vs JVM recount")
      // batch audit agrees on the sketch boundary and saturation facts
      val batch = graft.SparkEntry.queries("kmv_distinct_audit")(
        spark, root.toString).collect()
        .map(r => r.getString(0) ->
          (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      assert(batch == expected.map { case (s, v) => s -> v._2 },
        "batch h_k vs JVM recount")

      // priority-sample twin: id-keyed recount (the stream's documented
      // identity rule — dirty corpora carry duplicate doc_ids, which the
      // stream collapses to the max-(p, w) row; the row-identity batch
      // query is fuzz-gated separately by the main oracle gate)
      val K = S.prioK
      val SC = S.prioScale
      val prioExpected = full
        .filter(_._1 != 0L) // dirtyDocs never emits id 0; all ids non-null
        .map { case (id, t, _, src, _) =>
          val w = Option(t).getOrElse("").split(" ", -1)
            .count(_.nonEmpty).toLong
          (Option(src).getOrElse(""), id, w, w * SC / (u24(id.toString) + 1L))
        }
        .groupBy(r => (r._1, r._2))
        .map(_._2.maxBy(r => (r._4, r._3)))
        .toSeq
        .groupBy(_._1).map { case (src, rows) =>
          val ranked = rows.sortBy(r => (-r._4, r._2))
          val sample = ranked.take(K)
          val tau = if (ranked.size > K) ranked(K)._4 else 0L
          val exact = rows.map(_._3).sum
          val est = sample.map(r => math.max(r._3, tau)).sum
          src -> ((rows.size.toLong, exact, sample.size.toLong, tau, est,
            if (exact > 0) Some(1000L * est / exact) else None))
        }
      val prioRows = StreamingPipeline.runToMemory(spark,
        StreamingPipeline.prioritySampleStream(
          spark.readStream.schema(docs.schema).parquet(path)),
        s"priofuzz$seed").collect()
      val prioStreamed = prioRows.groupBy(_.getString(0)).map { case (s, rs) =>
        val last = rs.maxBy(_.getLong(7))
        s -> ((last.getLong(1), last.getLong(2), last.getLong(3),
          last.getLong(4), last.getLong(5),
          if (last.isNullAt(6)) None else Some(last.getLong(6))))
      }
      assert(prioStreamed == prioExpected, "priority stream vs JVM recount")

      // zipf drift monitor: stream ≡ batch audit ≡ JVM recount on the
      // dirty corpus (exact regime — capacity ≫ distinct grams)
      val gcnt = scala.collection.mutable.Map.empty[String, Long]
      for ((_, t, _, _, _) <- full; g <- trigrams(t))
        gcnt(g) = gcnt.getOrElse(g, 0L) + 1L
      val zTop = gcnt.toSeq.sortBy { case (g, c) => (-c, g) }.take(S.zipfTopN)
      var zn = 0L; var zsx = 0L; var zsy = 0L
      var zsxx = 0L; var zsxy = 0L; var zsyy = 0L
      zTop.zipWithIndex.foreach { case ((_, c), i) =>
        val x = S.lgJvm(i + 1L); val y = S.lgJvm(c)
        zn += 1L; zsx += x; zsy += y
        zsxx += x * x; zsxy += x * y; zsyy += y * y
      }
      val (eSlope, eIcept, eR2) = S.olsJvm(zn, zsx, zsy, zsxx, zsxy, zsyy)
      def optD(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
        if (r.isNullAt(i)) None else Some(r.getDouble(i))
      val zRows = StreamingPipeline.runToMemory(spark,
        StreamingPipeline.zipfDriftStream(
          spark.readStream.schema(docs.schema).parquet(path), 1 << 20),
        s"zipffuzz$seed").collect()
      val zl = zRows.maxBy(_.getLong(0))
      assert(zl.getLong(2) == 0L, "eviction in the exact regime")
      assert((zl.getLong(3), optD(zl, 4), optD(zl, 5), optD(zl, 6)) ==
        ((zn, eSlope, eIcept, eR2)), "zipf stream vs JVM recount")
      val zb = graft.SparkEntry.queries("zipf_slope_audit")(
        spark, root.toString).collect()(0)
      assert((zb.getLong(0), optD(zb, 1), optD(zb, 2), optD(zb, 3)) ==
        ((zn, eSlope, eIcept, eR2)), "batch zipf audit vs JVM recount")
    }
  }
}
