package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.etl.{Dedup, Merge, Schemas, Typed}

/** Structured Streaming surface of the engine.
  *
  * The reference is micro-batch by cron (README.md:107-110: ingest → stage →
  * upsert → archive every 2 h); its landing directory is a file queue whose
  * processed-set lives in `lidos/`∪`erros/` (02_load_stage_pedidos.py:
  * 107-113). Structured Streaming subsumes both: the file source tracks
  * processed files in the checkpoint (the durable ledger), and `foreachBatch`
  * runs the typed-projection → in-batch dedup → conditional merge per
  * micro-batch. Late/out-of-order data needs no watermark for correctness —
  * the merge itself is event-time-guarded (newer-event-wins compares
  * `data_ultima_ocr`, not arrival time; 03_upsert_dw_pedidos.py:204-214) —
  * exactly the reference's late-data story, continuous instead of 2-hourly.
  *
  * Scale notes: each micro-batch plan is the same scan→project→window→merge
  * plan as batch mode; state lives in the DW table, not executor memory.
  * The windowed/sessionized aggregations keep bounded state via watermarks
  * (event-time GC), the knob that matters on an unbounded 100 TB/day feed.
  */
object StreamingPipeline {

  /** Continuous staging load + DW upsert: CSV files arriving in `landingDir`
    * stream through the typed projection into a conditional-merge upsert on
    * the parquet DW at `dwPath`. The checkpoint directory is the processed-
    * file ledger (replaces lidos/erros bookkeeping). */
  def pedidosStream(spark: SparkSession, landingDir: String, dwPath: String,
      checkpoint: String, sep: String = ";"): StreamingQuery = {
    val raw = spark.readStream
      .schema(Schemas.stagingSchema) // canonical post-mapping layout
      .option("header", true)
      .option("sep", sep)
      .option("mode", "PERMISSIVE")
      .csv(landingDir)
    val typed = Typed.project(raw)
    typed.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val updates = Dedup.latestPedido(batch)
        // same partitioned read/write as the batch upsert: a DW directory
        // is interchangeable between the batch and streaming twins
        val dw = graft.etl.Pipeline.readDw(spark, dwPath)
        val merged = Merge.mergePedidos(dw, updates).cache()
        merged.count() // materialize before overwriting the input path
        graft.etl.Pipeline.writeDw(merged, dwPath)
        merged.unpersist()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Watermarked sliding-window aggregation over an event stream:
    * 10-minute windows sliding by 5, counts + value sums per event type,
    * with 20-minute-late tolerance (bounded state). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "20 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("n"), col("total_value"))

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Int)
  case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n_events: Int)

  /** Gap-based sessionization with explicit keyed state
    * (flatMapGroupsWithState): a session is emitted when a LATER event from
    * the same user arrives past the gap. The trailing (still-open) session
    * stays in state by design under NoTimeout — bounded-replay consumers
    * read open sessions from state; a continuous deployment would add
    * EventTimeTimeout + state.setTimeoutTimestamp to flush idle users. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes.toLong * 60 * 1000000
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          // batched arrival: fold events in event-time order, emitting a
          // session each time the gap rule fires
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var cur = state.getOption
          val out = Seq.newBuilder[SessionOut]
          sorted.foreach { e =>
            val us = e.ts.getTime * 1000
            cur match {
              case Some(st) if us - st.last <= gapUs =>
                cur = Some(st.copy(last = us, n = st.n + 1))
              case Some(st) =>
                out += SessionOut(userId, st.start, st.last, st.n)
                cur = Some(SessionState(us, us, 1))
              case None =>
                cur = Some(SessionState(us, us, 1))
            }
          }
          cur match {
            case Some(st) => state.update(st)
            case None => state.remove()
          }
          out.result().iterator
      }
  }

  /** Event-time-timeout sessionization: like [[sessionize]] but sessions are
    * ALSO flushed when the event-time watermark passes (last + gap) — the
    * continuous-deployment variant where an idle user's open session must not
    * sit in state forever. Requires a watermark on the input (`ts`); the
    * timeout timestamp is re-armed to (last event µs + gap) on every update,
    * so a group whose user went quiet emits exactly when the stream's
    * watermark overtakes the gap horizon. State per user is one fixed-size
    * record; watermark GC bounds total state on an unbounded feed. */
  def sessionizeWithTimeout(events: Dataset[Event], gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes.toLong * 60 * 1000000
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (it.isEmpty && state.hasTimedOut) {
            // watermark passed last+gap with no new events: close the session
            val st = state.get
            state.remove()
            Iterator.single(SessionOut(userId, st.start, st.last, st.n))
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val out = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val us = e.ts.getTime * 1000
              cur match {
                case Some(st) if us - st.last <= gapUs =>
                  cur = Some(st.copy(last = us, n = st.n + 1))
                case Some(st) =>
                  out += SessionOut(userId, st.start, st.last, st.n)
                  cur = Some(SessionState(us, us, 1))
                case None =>
                  cur = Some(SessionState(us, us, 1))
              }
            }
            cur.foreach { st =>
              state.update(st)
              state.setTimeoutTimestamp(st.last / 1000 + gapMinutes.toLong * 60 * 1000)
            }
            out.result().iterator
          }
      }
  }

  /** Broadcast bound for the static benchmark gram set in
    * [[decontaminateStream]]: the whole set collapses to ONE array row
    * broadcast under every arriving doc, so its size is a hard contract
    * (~50 B/gram → the default is ~50 MB in one row), not a soft perf knob.
    * Session conf `graft.cap.benchGrams` overrides per deployment. */
  val maxBenchGramsDefault = 1000000L
  def maxBenchGrams(s: SparkSession): Long =
    s.conf.getOption("graft.cap.benchGrams").map(_.toLong)
      .getOrElse(maxBenchGramsDefault)

  /** Streaming benchmark decontamination — a STREAM-STATIC join: arriving
    * documents (an unbounded ingest feed) are flagged against the fixed
    * benchmark gram set, the streaming twin of the batch
    * `decontaminate_ngrams` query (graft.queries.CorpusOps).
    *
    * Deliberately STATELESS: the static bench set (eval-set-sized by
    * contract) collapses to one array row broadcast under every arriving
    * doc, and the verdict is a per-row `array_intersect` — one row in, one
    * row out, no watermark, no state store, append-mode safe. (A
    * gram-level join + per-doc groupBy would re-count correctly in batch
    * but turns into an unbounded stateful aggregation on a stream.) The
    * static side is re-read per micro-batch, so a refreshed benchmark file
    * takes effect on the next batch. */
  def decontaminateStream(docs: DataFrame, benchGrams: DataFrame): DataFrame = {
    val maxGrams = maxBenchGrams(docs.sparkSession)
    // CONTRACT GUARD, evaluated inside the plan (so it re-checks on every
    // micro-batch re-read of the static side, and column pruning can't
    // drop it — the check IS the bench_gs column): a benchmark set beyond
    // the broadcast bound must fail with a contract message, not an opaque
    // executor OOM while collecting one giant array row.
    val bench = benchGrams
      .agg(collect_set(col("g")).as("gs"), count(lit(1)).as("n"))
      .select(when(col("n") <= maxGrams, col("gs"))
        .otherwise(raise_error(concat(
          lit("decontaminateStream contract: benchmark gram set has "),
          col("n").cast("string"),
          lit(s" grams, beyond the broadcast bound $maxGrams " +
            "(graft.cap.benchGrams); shrink the benchmark set or use the " +
            "batch gram-join decontamination")))).as("bench_gs"))
    docs
      .withColumn("w", split(col("text"), " "))
      .withColumn("gs",
        array_distinct(graft.queries.CorpusOps.wordGrams(col("w"), 3)))
      .drop("w")
      .crossJoin(broadcast(bench))
      .select(col("doc_id"),
        size(col("gs")).cast("long").as("n_grams"),
        size(array_intersect(col("gs"), col("bench_gs"))).cast("long")
          .as("n_contaminated"))
      .withColumn("is_contaminated", col("n_contaminated") >= 1)
  }

  /** Streaming bloom decontamination gate — the scale path of
    * [[decontaminateStream]]: where that twin broadcasts the bench grams
    * THEMSELVES (one array row, hard-bounded at ~50 B/gram by
    * `graft.cap.benchGrams`), this broadcasts only their bloom bitmap
    * (a dense 2^`graft.bloom.log2bits`-bit array — m/8 bytes regardless
    * of gram count: a 10⁸-gram eval suite fits in a 128 MiB row at 2^30
    * bits where broadcasting the grams themselves would be ~5 GB),
    * built and probed with the ONE hash scheme shared with the batch
    * `decontaminate_bloom` query ([[graft.queries.CorpusOps.bloomBitmapOf]]
    * / `bloomHitExpr` — build/probe drift would silently break the
    * guarantee below).
    *
    * The verdict weakens from exact to ONE-SIDED: `n_bloom_hits` counts
    * grams the bitmap admits, an upper bound on true contamination. Bloom
    * filters admit no false negatives, so `is_provably_clean`
    * (n_bloom_hits = 0) is EXACT — those docs pass the gate unconditionally
    * (at production FPR that is almost every clean doc), and only
    * bloom-positive docs route to the batch exact verify. Stream-prefilter
    * → small-exact-verify-queue is the deployment shape; the spec pins the
    * one-sided contract against the batch exact query per doc.
    *
    * Deliberately STATELESS like the parent: row-local gram array + one
    * cross-join to the broadcast single-row bitmap, no watermark, no state
    * store, append-safe; the static side re-aggregates per micro-batch, so
    * a refreshed benchmark takes effect on the next batch. The probe runs
    * inside an interpreted HOF filter (k·|grams| hashes per doc) — fine at
    * ingest rates; bulk reprocessing belongs to the batch query anyway. */
  def bloomGateStream(docs: DataFrame, benchGrams: DataFrame): DataFrame = {
    import graft.queries.CorpusOps
    val m = 1L << CorpusOps.bloomLog2Bits(docs.sparkSession)
    val bitmap = CorpusOps.bloomBitmapOf(benchGrams, m)
    docs
      .withColumn("w", split(col("text"), " "))
      .withColumn("gs",
        array_distinct(CorpusOps.wordGrams(col("w"), 3)))
      .drop("w")
      .crossJoin(broadcast(bitmap))
      .select(col("doc_id"),
        size(col("gs")).cast("long").as("n_grams"),
        size(filter(col("gs"),
          g => CorpusOps.bloomHitExpr(g, col("bm"), m)))
          .cast("long").as("n_bloom_hits"))
      .withColumn("is_provably_clean", col("n_bloom_hits") === 0L)
  }

  /** Streaming increment classification — the continuous twin of the batch
    * `dedup_incremental` query: each ARRIVING doc is classified exact_dup /
    * near_dup / new against two precomputed STATIC corpus indexes
    * ([[graft.queries.DedupOps.corpusDedupIndex]]: text-md5 → id and full
    * MinHash signature → id, the relations a deployment keeps materialized
    * next to the corpus).
    *
    * Deliberately STATELESS (append-safe, no watermark, no state store):
    * both tiers are stream-static LEFT joins on UNIQUE static keys — one
    * row in, one row out. The price is the near tier's recall: it matches
    * on the FULL 16-hash signature (the `dedup_minhash_clusters` contract
    * — word-set-identical docs), not banded-Jaccard; banding needs a
    * per-doc aggregation over band hits, which is unbounded state on a
    * stream. Route bulk backfills through the batch query.
    *
    * The arriving doc's signature is computed ROW-LOCALLY (transform +
    * array_min over the word array — same min-md5 math as the batch
    * aggregate; StreamingPipelineSpec pins the equivalence). Interpreted
    * HOF cost is ~16·|words| md5 calls per doc: fine at ingest rates, not
    * for bulk reprocessing — which is the batch path anyway. */
  def classifyIncrementStream(docs: DataFrame, exactIdx: DataFrame,
      nearIdx: DataFrame): DataFrame = {
    import graft.queries.DedupOps.minhashSeeds
    val ws = array_distinct(split(col("text"), " "))
    val sig = md5(concat_ws("|", (0 until minhashSeeds).map { i =>
      array_min(transform(ws, w => md5(concat(lit(s"$i:"), w))))
    }: _*))
    docs
      .withColumn("h", md5(col("text")))
      .withColumn("sig", sig)
      .join(exactIdx, Seq("h"), "left")
      .join(nearIdx, Seq("sig"), "left")
      .select(col("doc_id"),
        when(col("exact_of").isNotNull, lit("exact_dup"))
          .when(col("near_of").isNotNull, lit("near_dup"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("exact_of"), col("near_of")).as("dup_of"))
  }

  /** Corpus full-window index for the streaming span-dedup gate: every
    * full 2^[[graft.queries.DedupOps.dblRounds]]-token window of the
    * established corpus, keyed by a 96-bit CONTENT DIGEST (two 48-bit
    * md5 halves of the space-joined window — the repo's md5-clock
    * idiom), valued by its min-gid representative (gid = doc_id·2²⁰ +
    * pos — the batch doubling tier's class id for full windows, the
    * theorem `dup_span_incremental`'s oracle certifies). The digest key
    * is the deployment-scale choice: keyed by the full window STRING
    * the store is ~W× corpus bytes (every token appears in W windows);
    * keyed by the digest it is 16 B + 8 B per distinct window, and the
    * arriving side computes the same digest row-locally before the
    * equi-join. A 96-bit collision (≈2⁻⁹⁶ per pair) could map a novel
    * window to a corpus class — the same false-positive class a Bloom
    * gate accepts by design, far below any plausible window count.
    * This is the store a streaming span-dedup service
    * ships: the batch incremental rung classifies through constant-width
    * class-pair maps (the right shape for a corpus-scale BUILD), but a
    * per-arriving-doc gate wants one content-keyed lookup per window —
    * and the doubling's shift self-join is inherently multi-row-per-doc,
    * which a stateless stream can't express. Built batch-side, re-read
    * per micro-batch like [[pruneStream]]'s canon index. */
  def corpusWindowIndex(corpus: DataFrame): DataFrame = {
    val w = 1 << graft.queries.DedupOps.dblRounds
    corpus
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= w)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(tk) - $w), i -> struct(" +
          "CAST(i AS BIGINT) AS pos, " +
          s"md5(concat_ws(' ', slice(tk, i + 1, $w))) AS wh))")).as("pw"))
      .select(
        conv(substring(col("pw.wh"), 1, 12), 16, 10).cast("long").as("h1"),
        conv(substring(col("pw.wh"), 13, 12), 16, 10).cast("long").as("h2"),
        (col("doc_id") * 1048576L + col("pw.pos")).as("gid"))
      .groupBy("h1", "h2").agg(min(col("gid")).as("cls"))
  }

  /** Streaming span-dedup CUT LIST — the continuous twin of
    * `dup_span_incremental`: every ARRIVING doc emits one row per full
    * window that occurs verbatim in the established corpus — exactly
    * the positions a substring-dedup pass cuts, with the corpus class
    * id (min-gid representative) for span recovery. Stateless: explode
    * and DIGEST the doc's full windows row-locally (the same 96-bit
    * md5-halves key the index is stored under), ONE stream-static inner
    * join against [[corpusWindowIndex]] — no watermark, no state store,
    * append-safe; docs with no duplicated window emit nothing (the
    * cut-list shape, not the per-doc report — per-doc aggregation is
    * the batch rung's job). Per-doc parity with the batch query's
    * matched-window count and min class is pinned in
    * StreamingPipelineSpec. */
  def spanCutStream(docs: DataFrame, winIdx: DataFrame): DataFrame = {
    val w = 1 << graft.queries.DedupOps.dblRounds
    docs
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= w)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(tk) - $w), i -> struct(" +
          "CAST(i AS BIGINT) AS pos, " +
          s"md5(concat_ws(' ', slice(tk, i + 1, $w))) AS wh))")).as("pw"))
      // identical md5-halves digest rule as [[corpusWindowIndex]]: the
      // stream-static equi-join ships 16-byte keys, never window text
      .select(col("doc_id"), col("pw.pos").as("pos"),
        conv(substring(col("pw.wh"), 1, 12), 16, 10).cast("long").as("h1"),
        conv(substring(col("pw.wh"), 13, 12), 16, 10).cast("long").as("h2"))
      .join(winIdx, Seq("h1", "h2"))
      .select(col("doc_id"), col("pos"), col("cls"))
  }

  /** Streaming dedup with bounded state: drop duplicate (user_id, event_id)
    * arrivals within the watermark horizon — the streaming analog of the
    * batch latest-per-key dedup for at-least-once upstream feeds. State for
    * keys older than the watermark is GC'd (the knob that keeps an unbounded
    * feed's dedup state bounded). */
  def dedupStream(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "event_id")

  /** Streaming corpus-prune gate — the continuous twin of the batch
    * `corpus_prune_verdicts` table: every ARRIVING doc gets the same
    * verdict row (is_canonical / quality_ok / repetition_ok / keep /
    * precedence-ordered reason) the batch job would emit.
    *
    * Deliberately STATELESS like [[classifyIncrementStream]]: the
    * canonical rule is a stream-static LEFT join against a precomputed
    * canon-hash index ([[graft.queries.TextOps.canonIndex]] — one row per
    * canon hash, lowest doc_id; hash-domain-sized, re-read per
    * micro-batch so a refreshed corpus index takes effect on the next
    * batch). A doc is canonical iff its hash is absent from the index
    * (genuinely new text) or the index names it. Both content gates are
    * ROW-LOCAL expressions — the quality gate as in batch, the Gopher
    * repetition gate via [[graft.queries.TextOps.repetitionLocal]]'s
    * sorted-gram run-length fold (the batch query's per-doc gram
    * AGGREGATION would be unbounded stateful on a stream; the row-local
    * fold computes identical statistics per arriving row, parity pinned
    * by RepetitionLocalParitySpec). One row in, one row out: no
    * watermark, no state store, append-safe. */
  def pruneStream(docs: DataFrame, canonIdx: DataFrame): DataFrame = {
    import graft.queries.TextOps
    docs
      .withColumn("ch", TextOps.canonHash(col("text")))
      .join(canonIdx, Seq("ch"), "left")
      .select(col("doc_id"),
        // NULL text is never canonical — the batch contract, chosen
        // precisely because a stateless stream can't window-group NULL
        // hashes (a NULL join key matches nothing in the index)
        (col("text").isNotNull &&
          (col("canonical_id").isNull || col("canonical_id") === col("doc_id")))
          .as("is_canonical"),
        coalesce(TextOps.qualityKeepLocal(col("text")), lit(false))
          .as("quality_ok"),
        coalesce(TextOps.repetitionLocal(col("text"))("keep"), lit(false))
          .as("repetition_ok"))
      .withColumn("keep",
        col("is_canonical") && col("quality_ok") && col("repetition_ok"))
      .withColumn("reason",
        when(!col("is_canonical"), "exact_dup")
          .when(!col("quality_ok"), "quality")
          .when(!col("repetition_ok"), "repetition")
          .otherwise("ok"))
  }

  /** Streaming IVF list assignment — the VECTOR-side stream-static gate
    * (the text family has decontaminate/prune/classify; this is the
    * embedding ingest path): every ARRIVING vector is quantized row-locally
    * ([[graft.queries.SimilarityOps.quantize]] — zero-norm arrivals drop,
    * the shared base contract) and assigned to its max-cosine list of a
    * FIXED coarse quantizer, passed in as the one-row broadcast relation
    * [[graft.queries.SimilarityOps.ivfQuantizerRow]] builds (the
    * deployment holds the quantizer constant between retrains — the
    * `ivf_list_drift` contract; a refreshed quantizer takes effect on the
    * next micro-batch, like the prune gate's canon index).
    *
    * The argmax is a row-local fold over the sorted centroid array —
    * exact int64 dots, IEEE cosine, strict-> so ties keep the earlier
    * (lowest) cent_id, matching the batch window's (ccos DESC, cent_id)
    * order exactly. One row in, one row out: no state store, no
    * watermark, append-safe; downstream `groupBy(cent_id)` over the
    * emitted stream is the live list-size monitor that feeds the
    * ivf_list_drift retrain decision. */
  def ivfAssignStream(vecs: DataFrame, quantizer: DataFrame): DataFrame = {
    val q = graft.queries.SimilarityOps.quantize(vecs)
    val accT = "struct<cent_id:bigint,ccos:double>"
    q.crossJoin(broadcast(quantizer)) // static side is ONE row
      .withColumn("best", aggregate(col("cents"),
        lit(null).cast(accT),
        (acc, c) => {
          val ccos = graft.functions.GraftFunctions
            .quantized_dot(col("q"), c.getField("cq")).cast("double") /
            sqrt((col("nrm") * c.getField("cn")).cast("double"))
          val cand = struct(c.getField("cent_id").as("cent_id"),
            ccos.as("ccos"))
          when(acc.isNull || ccos > acc.getField("ccos"), cand).otherwise(acc)
        }))
      .filter(col("best").isNotNull) // empty quantizer: nothing to assign to
      .select(col("vec_id"), col("best.cent_id").as("cent_id"),
        col("best.ccos").as("ccos"))
  }

  /** Streaming graph-ANN serve — the query-side twin of the batch
    * `ann_graph_greedy_audit` walk: every ARRIVING query vector is
    * quantized row-locally, enters the serve graph at the batch entry
    * rule's node (ONE-row broadcast,
    * [[graft.queries.SimilarityOps.graphEntryRow]]), and walks
    * [[graft.queries.SimilarityOps.serveGraphHops]] strict-improvement
    * hops, each hop ONE stream-static equi-join against the
    * neighbor-BLOCK index
    * ([[graft.queries.SimilarityOps.graphNeighborIndex]]: one row per
    * node, adjacency inlined) + a row-local argmax fold — the
    * fetch-block-score-move loop a real ANN serving tier runs per
    * query. Stateless end to end: no rank window (unsupported on
    * append streams), no state store, no watermark; a refreshed index
    * takes effect on the next micro-batch like every other gate's
    * static side.
    *
    * The fold replays the batch walk's ranking EXACTLY — (ncos DESC,
    * self-loop-first, nbr ASC): candidates iterate in ascending nbr
    * order (the index array is sorted), a candidate replaces the
    * accumulator only on strictly higher cosine or on an equal cosine
    * when the candidate is the stay-put self-loop and the accumulator
    * is not — so equal-cosine groups keep their lowest nbr and "stay"
    * outranks any tying move, the greedy audit's move-only-on-strict-
    * improvement rule. Per-query parity with the batch audit (entry,
    * landing, cosine, moves) is pinned in StreamingPipelineSpec.
    * Zero-norm arrivals drop (the shared quantize contract); arriving
    * ids equal to the entry node start at the second-lowest node, the
    * batch rule. */
  def annServeStream(vecs: DataFrame, idx: DataFrame, entry: DataFrame)
      : DataFrame = {
    val q = graft.queries.SimilarityOps.quantize(vecs)
    def cosOf(qq: Column, qn: Column, nq: Column, nn: Column): Column =
      graft.functions.GraftFunctions.quantized_dot(qq, nq).cast("double") /
        sqrt((qn * nn).cast("double"))
    var h = q.crossJoin(broadcast(entry)) // static side is ONE row
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("nrm").as("qn"),
        when(col("vec_id") === col("n1"), col("n2")).otherwise(col("n1"))
          .as("cur"),
        when(col("vec_id") === col("n1"), col("q2")).otherwise(col("q1"))
          .as("cq"),
        when(col("vec_id") === col("n1"), col("m2")).otherwise(col("m1"))
          .as("cn"))
      .select(col("query_id"), col("qq"), col("qn"),
        col("cur").as("entry_id"), col("cur"),
        cosOf(col("qq"), col("qn"), col("cq"), col("cn")).as("ccos"),
        lit(0L).as("moves"))
    val accT = "struct<nbr:bigint,ncos:double,iscur:boolean>"
    for (_ <- 1 to graft.queries.SimilarityOps.serveGraphHops) {
      h = h
        .join(idx.withColumnRenamed("node", "cur"), Seq("cur"))
        .withColumn("best", aggregate(
          filter(col("nbrs"), n => n.getField("nbr") =!= col("query_id")),
          lit(null).cast(accT),
          (acc, n) => {
            val ncos = cosOf(col("qq"), col("qn"),
              n.getField("nq"), n.getField("nn"))
            val cand = struct(n.getField("nbr").as("nbr"), ncos.as("ncos"),
              (n.getField("nbr") === col("cur")).as("iscur"))
            when(acc.isNull, cand)
              .when(ncos > acc.getField("ncos"), cand)
              .when(ncos === acc.getField("ncos") &&
                (n.getField("nbr") === col("cur")) &&
                !acc.getField("iscur"), cand)
              .otherwise(acc)
          }))
        // best is null only if every neighbor was the query itself —
        // impossible off a self-looped serve graph (cur ≠ query by the
        // entry rule and by induction); keep cur defensively anyway
        .select(col("query_id"), col("qq"), col("qn"), col("entry_id"),
          coalesce(col("best.nbr"), col("cur")).as("ncur"),
          coalesce(col("best.ncos"), col("ccos")).as("ccos"),
          (col("moves") + when(col("best.nbr").isNotNull &&
            col("best.nbr") =!= col("cur"), 1L).otherwise(0L)).as("moves"))
        .withColumnRenamed("ncur", "cur")
    }
    h.select(col("query_id"), col("entry_id"), col("cur").as("final_id"),
      col("ccos").as("final_cos"), col("moves"))
  }

  /** Streaming HNSW INSERT gate — the write-path twin of
    * [[annServeStream]]: every ARRIVING vector computes its LSH band
    * signatures row-locally (one fold per hyperplane against the
    * broadcast [[graft.queries.SimilarityOps.lshPlanesRow]] matrix —
    * identical exact-int math to the corpus signature aggregate), looks
    * up its ≤2 band buckets in the bucket-MEMBERSHIP index
    * ([[graft.queries.SimilarityOps.lshBucketMembersIndex]], members
    * inlined), and commits the edges an HNSW insert would: candidates =
    * the union of its buckets' members minus itself, ranked (cos DESC,
    * vec_id ASC) and capped at
    * [[graft.queries.SimilarityOps.insertEfC]], then pruned by the
    * Malkov–Yashunin Alg.-4 diversity rule as a row-local fold — keep c
    * iff no already-kept s is at least as close to c as c is to the
    * arrival (the batch [[graft.queries.SimilarityOps]] diversityPrune
    * semantics, candidate-pair cosines computed inline over the ≤efC
    * pool). Emits one row per KEPT edge: (vec_id, nbr, cos, cr).
    *
    * Stateless end to end: two stream-static LEFT equi-joins (an
    * arrival whose buckets don't exist yet gets an empty pool and
    * emits nothing — the cold-bucket insert, exactly what a real gate
    * does before the next index rebuild absorbs it), all scoring and
    * pruning row-local, no state store, no watermark, append-safe.
    * StreamingPipelineSpec pins a full independent JVM replay
    * (signatures from the md5 definition, rank, prune) over every
    * corpus vector replayed as an arrival. */
  def annInsertStream(vecs: DataFrame, planes: DataFrame,
      idx: DataFrame): DataFrame = {
    val q = graft.queries.SimilarityOps.quantize(vecs)
    val efC = graft.queries.SimilarityOps.insertEfC
    val mT = "array<struct<vec_id:bigint,q:array<bigint>,nrm:bigint>>"
    val idx0 = broadcast(idx.filter(col("band") === 0)
      .select(col("sig").as("sig0"), col("members").as("m0")))
    val idx1 = broadcast(idx.filter(col("band") === 1)
      .select(col("sig").as("sig1"), col("members").as("m1")))
    q.crossJoin(broadcast(planes)) // static side is ONE row
      // bit i = sign of the exact-int hyperplane dot; pack each half
      // into a band signature (bit k of band b is hyperplane
      // b*bandBits+k's sign, weight 2^k — the corpus packing)
      .withColumn("bits", expr(
        """transform(planes, p ->
          |  CASE WHEN aggregate(zip_with(q, p, (a, b) -> a * b),
          |    CAST(0 AS BIGINT), (acc, x) -> acc + x) >= 0
          |  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"""
          .stripMargin))
      .withColumn("bb", (size(col("planes")) / 2).cast("int"))
      .withColumn("sig0", expr(
        """aggregate(sequence(0, bb - 1), CAST(0 AS BIGINT),
          |  (acc, k) -> acc + element_at(bits, k + 1) * shiftleft(CAST(1 AS BIGINT), k))"""
          .stripMargin))
      .withColumn("sig1", expr(
        """aggregate(sequence(0, bb - 1), CAST(0 AS BIGINT),
          |  (acc, k) -> acc + element_at(bits, bb + k + 1) * shiftleft(CAST(1 AS BIGINT), k))"""
          .stripMargin))
      .join(idx0, Seq("sig0"), "left")
      .join(idx1, Seq("sig1"), "left")
      .withColumn("cand", array_union(
        coalesce(col("m0"), expr(s"CAST(array() AS $mT)")),
        coalesce(col("m1"), expr(s"CAST(array() AS $mT)"))))
      // score row-locally; negated cosine first so array_sort's
      // field-order compare IS the batch ranking (cos DESC, vec_id ASC)
      .withColumn("ranked", expr(
        s"""transform(slice(array_sort(transform(
           |  filter(cand, m -> m.vec_id != vec_id),
           |  m -> struct(
           |    -(CAST(${qdotSql("q", "m.q")} AS DOUBLE) /
           |       sqrt(CAST(nrm * m.nrm AS DOUBLE))) AS negc,
           |    m.vec_id AS nbr, m.q AS nq, m.nrm AS nn))), 1, $efC),
           |  (c, i) -> struct(c.negc AS negc, c.nbr AS nbr, c.nq AS nq,
           |    c.nn AS nn, CAST(i + 1 AS BIGINT) AS cr))"""
          .stripMargin))
      // Alg.-4 diversity prune: walk rank order, keep c iff no kept s
      // has cos(c, s) >= cos(c, arrival); cr stays the ORIGINAL
      // candidate rank (the batch diversityPrune convention)
      .withColumn("kept", expr(
        s"""aggregate(ranked,
           |  CAST(array() AS array<struct<negc:double,nbr:bigint,nq:array<bigint>,nn:bigint,cr:bigint>>),
           |  (acc, c) -> CASE WHEN exists(acc, s ->
           |      CAST(${qdotSql("c.nq", "s.nq")} AS DOUBLE) /
           |        sqrt(CAST(c.nn * s.nn AS DOUBLE)) >= -c.negc)
           |    THEN acc ELSE concat(acc, array(c)) END)""".stripMargin))
      .select(col("vec_id"), explode(col("kept")).as("k"))
      .select(col("vec_id"), col("k.nbr").as("nbr"),
        (-col("k.negc")).as("cos"), col("k.cr").as("cr"))
  }

  /** SQL text of the exact int64 dot of two quantized vector columns —
    * the [[graft.functions.GraftFunctions]] quantized_dot expression by
    * name, usable inside `expr` lambdas. */
  private def qdotSql(a: String, b: String): String =
    s"quantized_dot($a, $b)"

  /** Streaming naive-Bayes quality scoring — the crawl-side quality gate
    * as a stream-static projection: every ARRIVING doc scores row-locally
    * against the trained weight map held as ONE broadcast row
    * ([[graft.queries.TextOps.nbWeightsRow]]) — one map lookup per token,
    * ZERO joins, no state, the fasttext-gate deployment shape. Unseen
    * words take the model's constant Laplace default (w0), so arrivals
    * with novel vocabulary score exactly as the batch scorer would score
    * them had they been in the corpus with zero seed counts.
    *
    * Identical integer arithmetic to the batch `nb_quality_score`
    * (llr_milli sums, IEEE-floor average, verdict at 0); the one
    * semantic delta: the stream scores PER ARRIVAL — duplicate doc_ids
    * are scored independently where the batch query folds them into one
    * (doc_id, lang) row. NULL-text arrivals drop, mirroring the batch
    * explode. */
  def nbScoreStream(docs: DataFrame, weightsRow: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .crossJoin(broadcast(weightsRow)) // static side is ONE row
      .withColumn("ws", split(col("text"), " "))
      .withColumn("sum_llr_milli", aggregate(col("ws"), lit(0L),
        (acc, w) => acc + coalesce(try_element_at(col("wmap"), w), col("w0"))))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .select(col("doc_id"), col("lang"), col("n_words"), col("sum_llr_milli"),
        floor(col("sum_llr_milli").cast("double") / col("n_words"))
          .cast("long").as("avg_llr_milli"),
        (floor(col("sum_llr_milli").cast("double") / col("n_words")) >= 0)
          .as("pred_target"))

  /** Streaming KN perplexity gate — score-on-ingest for the CCNet-style
    * quality filter ([[graft.queries.LmOps]] `kn_bigram_ppl`): every
    * ARRIVING doc's bigrams fold row-locally over the TRAINED model held
    * as ONE broadcast row ([[graft.queries.LmOps.knModelRow]] — the
    * nbWeightsRow collapse; a retrained model takes effect next
    * micro-batch), summing the identical micro fixed-point KN bits
    * (shared [[graft.queries.LmOps.pairBits]] columns; its div() IS the
    * batch expr's IntegralDivide). One row in, one row out, no state, no
    * shuffle, append-safe — the deployment shape of a perplexity gate in
    * front of a 100 TB/day ingest. Docs with no bigram (one word, NULL
    * text or NULL doc_id) drop, mirroring the batch explode; the one
    * semantic delta, as with [[nbScoreStream]]: duplicate doc_ids score
    * per arrival where the batch frame folds them into one row and fans
    * the result out. */
  def knScoreStream(docs: DataFrame, modelRow: DataFrame): DataFrame = {
    docs.filter(col("text").isNotNull && col("doc_id").isNotNull)
      .crossJoin(broadcast(modelRow)) // static side is ONE row
      .withColumn("ws", split(col("text"), " "))
      .withColumn("ps", expr(
        "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1)," +
          " (a, b) -> named_struct('u', a, 'v', b))"))
      .filter(size(col("ps")) > 0)
      .withColumn("acc", aggregate(col("ps"),
        struct(lit(0L).as("bits"), lit(0L).as("oov")),
        (acc, p) => {
          val cs = try_element_at(col("cm"), p.getField("u"))
          val (bits, isOov) = graft.queries.LmOps.pairBits(
            coalesce(try_element_at(col("pm"),
              concat(p.getField("u"), lit(" "), p.getField("v"))), lit(0L)),
            coalesce(cs.getField("cu"), lit(0L)),
            coalesce(cs.getField("n1u"), lit(0L)),
            coalesce(try_element_at(col("vm"), p.getField("v")), lit(0L)),
            col("n1all"))
          struct((acc.getField("bits") + bits).as("bits"),
            (acc.getField("oov") + when(isOov, 1L).otherwise(0L)).as("oov"))
        }))
      .withColumn("n_bigrams", size(col("ps")).cast("long"))
      .select(col("doc_id"), col("n_bigrams"),
        col("acc.oov").as("n_oov_bigrams"),
        expr("acc.bits div n_bigrams").as("kn_bits_milli"))
  }

  /** Streaming DSIR importance gate — score-on-ingest for the
    * hashed-n-gram importance weights ([[graft.queries.CurationOps]]
    * `dsir_hashed_ngram_weights`): every ARRIVING doc's bigrams hash to
    * their feature bucket and fold row-locally over the TRAINED
    * 256-bucket model held as ONE broadcast row
    * ([[graft.queries.CurationOps.dsirModelRow]]), summing the
    * identical integer milli-bit importance log-ratios; a bucket the
    * training corpus never produced falls back to the add-one-smoothing
    * default w0. One row in, one row out, no state, no shuffle,
    * append-safe — and because the model is CONSTANT-size regardless of
    * corpus (the feature-hashing trick), this gate broadcasts at any
    * scale where the vocabulary-sized affinity model could not. Docs
    * with no bigram (one word, NULL text or NULL doc_id) drop,
    * mirroring the batch join; the one semantic delta, as with
    * [[knScoreStream]]: duplicate doc_ids score per arrival where the
    * batch frame folds them into one row. */
  def dsirScoreStream(docs: DataFrame, modelRow: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull && col("doc_id").isNotNull)
      .crossJoin(broadcast(modelRow)) // static side is ONE row
      .withColumn("ws", split(col("text"), " "))
      .withColumn("gs", expr(
        "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1)," +
          " (a, b) -> concat(a, ' ', b))"))
      .filter(size(col("gs")) > 0)
      .withColumn("weight_milli", aggregate(col("gs"), lit(0L),
        (acc, g) => acc + coalesce(
          try_element_at(col("wm"),
            conv(substring(md5(g), 1, 8), 16, 10).cast("long")
              % graft.queries.CurationOps.dsirBuckets),
          col("w0"))))
      .select(col("doc_id"), size(col("gs")).cast("long").as("n_bigrams"),
        col("weight_milli"), (col("weight_milli") > 0).as("keep"))

  /** Streaming temperature-mix sampler — the replication-factor half of
    * [[graft.queries.CorpusOps]] `temperature_sample_audit` applied on
    * ingest: every ARRIVING doc looks its source's boost up in the
    * trained one-row broadcast map
    * ([[graft.queries.CorpusOps.tempWeightsRow]]) and emits its copy
    * count — `boost div 1000` whole copies plus one extra iff the doc's
    * deterministic md5 coin clears the fractional part. The coin is
    * [[graft.queries.CorpusOps.u24]] (numerically `conv` of the first 6
    * md5 hex digits — the nibble form exists only for DuckDB
    * portability), so the stream twin replicates the batch decision
    * bit-for-bit: reproducible across retries, partitionings and
    * engines, which rand()-based sampling is not. A source absent from
    * the trained map falls back to the neutral 1000 (emit once) — the
    * same degradation the batch audit applies to a NULL boost. NULL
    * doc_id coins are NULL, so the fractional copy never fires (the
    * batch rule). copies = 0 docs still emit their verdict row — the
    * downstream replicator, not the gate, skips them. One row in, one
    * row out, no state, no shuffle, append-safe. */
  def temperatureSampleStream(docs: DataFrame, weightsRow: DataFrame): DataFrame =
    docs.crossJoin(broadcast(weightsRow)) // static side is ONE row
      .withColumn("src", coalesce(col("source"), lit("")))
      .withColumn("b",
        coalesce(try_element_at(col("bm"), col("src")), lit(1000L)))
      .withColumn("coin", graft.queries.CorpusOps.u24(col("doc_id")))
      .select(col("doc_id"), col("src").as("source"),
        col("b").as("boost_milli"),
        (expr("b div 1000") +
          when(col("coin") % 1000L < col("b") % 1000L, 1L).otherwise(0L))
          .as("copies"))

  /** Streaming semantic decontamination — the embedding-tier gate on the
    * vector ingest path, completing streaming twins for all three
    * decontamination tiers (exact n-gram [[decontaminateStream]], bloom
    * [[bloomGateStream]], and this SEMANTIC gate): every ARRIVING vector
    * quantizes row-locally and folds over the FIXED bench set held as a
    * one-row broadcast ([[graft.queries.SimilarityOps.semanticBenchRow]])
    * to its nearest bench item — verdict `contaminated` at the batch
    * query's τ = 0.4. Unlike the bloom tier this verdict is TWO-sided
    * (exact cosine, no false positives to route to a batch verify).
    *
    * Determinism: the fold runs bench_id-ascending (the row is sorted)
    * with a STRICT >, so ties keep the lowest bench id — the batch
    * window's (cos desc, bench_id asc) rule. Zero-norm arrivals drop
    * (the shared quantize contract); an empty bench set gates nothing.
    * One row in, one row out, no state, no shuffle. */
  def semanticGateStream(vecs: DataFrame, benchRow: DataFrame): DataFrame = {
    val q = graft.queries.SimilarityOps.quantize(vecs)
    val accT = "struct<bench_id:bigint,cos:double>"
    q.crossJoin(broadcast(benchRow)) // static side is ONE row
      .withColumn("best", aggregate(col("bench"),
        lit(null).cast(accT),
        (acc, b) => {
          val cos = graft.functions.GraftFunctions
            .quantized_dot(col("q"), b.getField("bq")).cast("double") /
            sqrt((col("nrm") * b.getField("bn")).cast("double"))
          val cand = struct(b.getField("bench_id").as("bench_id"),
            cos.as("cos"))
          when(acc.isNull || cos > acc.getField("cos"), cand).otherwise(acc)
        }))
      .filter(col("best").isNotNull)
      .select(col("vec_id"), col("best.bench_id").as("bench_id"),
        col("best.cos").as("cos"), (col("best.cos") >= 0.4).as("contaminated"))
  }

  /** Streaming PQ encode — the code-write half of the vector ingest path
    * next to [[ivfAssignStream]]: every ARRIVING vector quantizes
    * row-locally and each of its [[graft.queries.PqOps.pqM]] subvectors
    * folds over the FIXED per-subspace codebook (one broadcast row, the
    * bloom-gate collapse — built by
    * [[graft.queries.PqOps.pqCodebookRow]]) to its argmin code. Output is
    * the batch encode's long format (vec_id, m, code, dist): at 100 TB
    * the sink writes 4 small codes per vector instead of 256 bytes of
    * floats, and the batch ADC search serves arrivals without re-encoding.
    *
    * Determinism: exact int64 sub-distances (ss − 2·dot + cc); the fold
    * runs code-ascending (the row is sorted) with a STRICT `<`, so ties
    * keep the lowest code — the batch window's (dist asc, code asc) rule.
    * Zero-norm arrivals drop (the shared quantize contract); an empty
    * codebook emits nothing rather than NULL codes. One row in, pqM rows
    * out, no state, no shuffle. */
  def pqEncodeStream(vecs: DataFrame, codebookRow: DataFrame): DataFrame = {
    import graft.queries.PqOps.{pqM, pqSubDim}
    val q = graft.queries.SimilarityOps.quantize(vecs)
    val accT = "struct<code:bigint,dist:bigint>"
    q.crossJoin(broadcast(codebookRow)) // static side is ONE row
      .select(col("vec_id"),
        explode(array((0 until pqM).map(lit(_)): _*)).as("m"),
        col("q"), col("cb"))
      .withColumn("sub", slice(col("q"), col("m") * pqSubDim + 1, lit(pqSubDim)))
      .withColumn("ss", graft.functions.GraftFunctions
        .quantized_dot(col("sub"), col("sub")))
      .withColumn("best", aggregate(
        filter(col("cb"), c => c.getField("m") === col("m")),
        lit(null).cast(accT),
        (acc, c) => {
          val dist = col("ss") -
            lit(2L) * graft.functions.GraftFunctions
              .quantized_dot(col("sub"), c.getField("csub")) +
            c.getField("cc")
          val cand = struct(c.getField("code").as("code"), dist.as("dist"))
          when(acc.isNull || dist < acc.getField("dist"), cand).otherwise(acc)
        }))
      .filter(col("best").isNotNull)
      .select(col("vec_id"), col("m"), col("best.code").as("code"),
        col("best.dist").as("dist"))
  }

  /** Streaming unigram-LM segmentation — tokenize-on-ingest with the
    * TRAINED segmenter (the text-side twin of [[pqEncodeStream]]'s
    * encode-on-ingest): every ARRIVING doc's lowercase-ascii words (the
    * trainer's exact universe filter) run the same string-encoded Viterbi
    * DP as the batch trainer, against the FIXED piece-cost vocabulary held
    * as one broadcast map row
    * ([[graft.queries.UnigramOps.vocabCostRow]] — the
    * ivfQuantizerRow/nbWeightsRow collapse; a retrained vocab takes effect
    * on the next micro-batch). The DP expression is SHARED with the batch
    * path ([[graft.queries.UnigramOps.segmentWithMap]] parameterizes only
    * the cost lookup), so stream and batch segmentations cannot drift —
    * including the (cost, piece-count, seg) tie-break.
    *
    * One word-row out per qualifying word in, no state, no shuffle,
    * append-safe. Out-of-vocabulary pieces cost the batch sentinel, so a
    * word of entirely novel characters still segments (into the FEWEST
    * sentinel pieces — the DP minimizes their count) rather than
    * dropping — the downstream monitor reads `cost_millibits ≥ 10⁹` as
    * the OOV signal feeding the retrain decision, the ivf_list_drift
    * cadence on the text side. */
  def unigramSegmentStream(docs: DataFrame, vocabRow: DataFrame): DataFrame = {
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      // the shared universe filter includes the trainer's word-length
      // ceiling: the DP is O(len²), so an unbounded junk run of letters
      // must not reach it (batch, oracle and stream share one definition)
      .where(graft.queries.UnigramOps.wordUniverseFilter(col("word")))
      .crossJoin(broadcast(vocabRow)) // static side is ONE row
      .select(Seq(col("doc_id"), col("word")) ++
        graft.queries.UnigramOps.segmentWithMap(col("word"), col("vmap")): _*)
  }

  case class ChunkOcc(doc_id: Long, chunk_idx: Long, chunk: String)
  case class ChunkVerdict(doc_id: Long, chunk_idx: Long, chunk: String,
      kept: Boolean)

  /** Streaming twin of the batch C4-style line dedup
    * ([[graft.queries.CorpusOps]] `line_dedup`): every ARRIVING doc is cut
    * into the IDENTICAL 8-token chunks (the shared
    * [[graft.queries.CorpusOps.tokenChunks]] definition) and each chunk
    * occurrence gets a keep verdict — kept iff this chunk has never been
    * seen in the stream's history, with within-batch ties broken by the
    * batch query's own (doc_id, chunk_idx) packed position. A downstream
    * filter(kept) + per-doc reassembly IS the live deduped corpus.
    *
    * State is keyed per CHUNK — one boolean per distinct chunk ever seen
    * (the first-occurrence relation the batch job recomputes corpus-wide,
    * held incrementally). The group function is order-insensitive inside a
    * batch (min over packed positions), so verdicts are deterministic
    * under shuffle. Parity contract (StreamingPipelineSpec pins it):
    * arrival in doc_id order makes the stream's first occurrence THE batch
    * MIN, so kept flags match `line_dedup` exactly; out-of-order arrival
    * keeps the earlier-arrived copy instead — the inherent streaming
    * delta, same trade as [[funnelStream]].
    *
    * Scale: one shuffle keyed by chunk text; state is corpus-distinct-
    * chunk-bounded (a bit per chunk, not per occurrence) — an unbounded
    * feed wants the RocksDB state store and, if the dedup horizon is
    * finite, a ProcessingTimeTimeout eviction the way
    * [[sessionizeWithTimeout]] does; NoTimeout here because line dedup's
    * contract is corpus-lifetime memory. The 10^6 chunk-index packing is
    * the batch query's own bound (docs are ≤ 10^6 chunks). */
  def lineDedupStream(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val chunks = graft.queries.CorpusOps
      .tokenChunks(docs.select(col("doc_id"), col("text"))).as[ChunkOcc]
    chunks.groupByKey(_.chunk)
      .flatMapGroupsWithState[Boolean, ChunkVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[ChunkOcc], state: GroupState[Boolean]) =>
          val occs = it.toSeq
          val seenBefore = state.getOption.getOrElse(false)
          state.update(true)
          val firstPos = occs.map(o => o.doc_id * 1000000L + o.chunk_idx).min
          occs.map(o => ChunkVerdict(o.doc_id, o.chunk_idx, o.chunk,
            !seenBefore && o.doc_id * 1000000L + o.chunk_idx == firstPos))
            .iterator
      }.toDF()
  }

  // -1 = stage time not yet reached; times in event-time microseconds
  case class FunnelState(t1: Long, t2: Long, t3: Long, t4: Long)
  case class FunnelTransition(user_id: Long, stage: Int, at_us: Long)

  /** Streaming twin of the batch conversion funnel
    * ([[graft.queries.FunnelOps]] `event_funnel`): keyed per-user state
    * holds the first qualifying time of each stage (signup → view → click
    * → purchase, each STRICTLY AFTER the previous stage's time), and every
    * stage advance emits a transition record — so a downstream
    * `groupBy(stage).count` is the live funnel.
    *
    * Parity contract (StreamingPipelineSpec asserts it against the batch
    * query on an identical corpus): under event-time-ordered arrival the
    * stage-k user sets match the batch query exactly, because an in-order
    * scan's first qualifying event IS the batch MIN. Late out-of-order
    * data is the inherent streaming delta: batch recompute would take a
    * corpus-wide MIN, keyed state only extends forward — the trade every
    * streaming funnel makes; re-run the batch query to reconcile.
    *
    * Scale: one shuffle on user_id; state is four longs per user
    * (user-dimension-bounded, not log-bounded). NoTimeout by design —
    * funnel state must survive idle gaps; a deployment wanting state GC
    * for one-shot visitors adds EventTimeTimeout the way
    * [[sessionizeWithTimeout]] does. */
  def funnelStream(events: Dataset[Event]): Dataset[FunnelTransition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelTransition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[FunnelState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L, -1L))
          val out = Seq.newBuilder[FunnelTransition]
          sorted.foreach { e =>
            val us = e.ts.getTime * 1000
            e.event_type match {
              case "signup" if st.t1 < 0 =>
                st = st.copy(t1 = us); out += FunnelTransition(userId, 1, us)
              case "view" if st.t1 >= 0 && st.t2 < 0 && us > st.t1 =>
                st = st.copy(t2 = us); out += FunnelTransition(userId, 2, us)
              case "click" if st.t2 >= 0 && st.t3 < 0 && us > st.t2 =>
                st = st.copy(t3 = us); out += FunnelTransition(userId, 3, us)
              case "purchase" if st.t3 >= 0 && st.t4 < 0 && us > st.t3 =>
                st = st.copy(t4 = us); out += FunnelTransition(userId, 4, us)
              case _ => ()
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  // cohort week start in epoch-µs + bitmask of already-emitted offsets
  // (bit k = offset k; offsets ≥ 64 are re-emitted rather than tracked —
  // 64 weeks of per-user retention horizon is the fixed-size-state trade)
  case class CohortState(cohortUs: Long, seenMask: Long)
  case class CohortActivity(user_id: Long, cohort_us: Long, week_offset: Int)

  /** Streaming twin of the batch weekly cohort retention
    * ([[graft.queries.FunnelOps]] `cohort_retention`): keyed per-user state
    * pins the cohort week at the user's FIRST seen event (Monday
    * `date_trunc`, same rule as batch) and emits one activity record per
    * NEW (user, week-offset) pair — so a downstream
    * `groupBy(cohort, offset).count` over the emitted stream IS the
    * retention table, built incrementally.
    *
    * Parity (StreamingPipelineSpec pins it against the batch query on an
    * identical corpus): exact under event-time-ordered arrival; a late
    * out-of-order FIRST event is the inherent delta (batch recompute would
    * shift the user's cohort earlier, stream state pins it at first
    * arrival). State per user is two longs — fixed-size however long the
    * stream runs; offsets past 64 weeks fall back to at-least-once
    * emission, so the aggregate stays correct (count distinct) while state
    * stays bounded. */
  def cohortStream(events: Dataset[Event]): Dataset[CohortActivity] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[CohortState, CohortActivity](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[CohortState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          if (sorted.isEmpty) Iterator.empty
          else {
            val first = sorted.head.ts.toLocalDateTime.toLocalDate
            val monday = first.minusDays(first.getDayOfWeek.getValue - 1L)
            val mondayUs = java.sql.Timestamp.valueOf(monday.atStartOfDay)
              .getTime * 1000
            var st = state.getOption.getOrElse(CohortState(mondayUs, 0L))
            val out = Seq.newBuilder[CohortActivity]
            sorted.foreach { e =>
              val offset = ((e.ts.getTime * 1000 - st.cohortUs) /
                (7L * 86400 * 1000000)).toInt
              val seen = offset < 64 && ((st.seenMask >> offset) & 1L) == 1L
              if (!seen) {
                out += CohortActivity(userId, st.cohortUs, offset)
                if (offset < 64) st = st.copy(seenMask = st.seenMask | (1L << offset))
              }
            }
            state.update(st)
            out.result().iterator
          }
      }
  }

  // last seen event-time in µs for one (user, event_type) key
  case class DebounceState(lastUs: Long)
  case class DebouncedEvent(event_id: Long, user_id: Long,
      event_type: String, at_us: Long)

  /** Streaming twin of the batch `event_debounce`
    * ([[graft.queries.DiagOps]]): per (user, event_type) keyed state holds
    * the previous event's time, and an event is emitted only when it is
    * the key's first or ≥ 5 min after the PREVIOUS event (kept or not —
    * the batch query's lag() gate, NOT a throttle against the last KEPT
    * event; a steady sub-gap drumbeat therefore suppresses everything
    * after its first beat, which is the alert-fatigue semantics the batch
    * twin defines).
    *
    * Parity (StreamingPipelineSpec pins it against `event_debounce` on an
    * identical corpus): exact under event-time-ordered arrival, because
    * an in-order scan's previous event IS the batch lag(). A late
    * out-of-order event is the inherent delta (it compares against the
    * wrong neighbor on both sides of it) — re-run the batch query to
    * reconcile, same contract as the funnel/cohort twins.
    *
    * Scale: one shuffle on the (user, type) key; state is ONE long per
    * key however long the stream runs. NoTimeout keeps gaps from
    * resetting the debounce; add EventTimeTimeout for state GC the way
    * [[sessionizeWithTimeout]] does when key cardinality is unbounded. */
  def debounceStream(events: Dataset[Event],
      gapUs: Long = 300000000L): Dataset[DebouncedEvent] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[DebounceState, DebouncedEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, String), it: Iterator[Event], state: GroupState[DebounceState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var last = state.getOption.map(_.lastUs).getOrElse(Long.MinValue)
          val out = Seq.newBuilder[DebouncedEvent]
          sorted.foreach { e =>
            val us = e.ts.getTime * 1000
            if (last == Long.MinValue || us - last >= gapUs)
              out += DebouncedEvent(e.event_id, key._1, key._2, us)
            last = us
          }
          state.update(DebounceState(last))
          out.result().iterator
      }
  }

  /** Stream-stream LEFT OUTER join with watermark state expiry: the
    * click→purchase attribution join (every click, annotated with the first
    * window it could own — purchases by the same user in
    * [click_ts, click_ts + windowMinutes]; clicks with no such purchase
    * emit with NULL purchase columns once the watermark passes their
    * window).
    *
    * This is the one streaming shape the rest of the file doesn't cover:
    * BOTH sides are unbounded, so correctness requires Spark's stream-stream
    * join state machine — each side buffers rows in keyed state, and the
    * combination of per-side `withWatermark` and the event-time RANGE bound
    * in the join condition is what lets that state EXPIRE (without the
    * range bound the buffers grow forever; without the watermark the outer
    * side can never conclude "no match will come"). State per side is
    * bounded by (lateMinutes + windowMinutes) of traffic, independent of
    * stream lifetime — the knob that matters on an unbounded feed.
    *
    * Append-mode semantics (inherent, not a bug): INNER matches emit as
    * soon as both rows have arrived; an UNMATCHED click emits only when
    * the watermark (max seen event time − lateMinutes) passes
    * click_ts + windowMinutes, so tail-of-stream clicks that never see
    * that much watermark progress are withheld, exactly the late-data
    * hedge. The batch twin is THIS SAME FUNCTION on static frames
    * (withWatermark is a no-op there and the outer join needs no hedge) —
    * one definition, two execution models; StreamingPipelineSpec pins the
    * parity. */
  def attributionJoinStream(clicks: DataFrame, purchases: DataFrame,
      windowMinutes: Int = 30, lateMinutes: Int = 30): DataFrame = {
    val c = clicks.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", s"$lateMinutes minutes")
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_uid"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", s"$lateMinutes minutes")
    c.join(p,
        col("user_id") === col("p_uid") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") +
            expr(s"interval $windowMinutes minutes"),
        "leftOuter")
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"), col("purchase_value"))
  }

  /** Static quote snapshot for the streaming as-of enrichment: the click
    * side of `asof_join` (graft.queries.Relational3) collapsed to ONE row
    * per user — clicks deduped to one per (user, ts) (max event_id, the
    * composed query's tie rule), then packed into an ascending
    * (ts, click_id) struct array. The per-user array is the broadcastable
    * unit: the stream side never shuffles and never keeps state, the
    * quantizer-row collapse pattern applied to a keyed dimension. Array
    * length is bounded by per-user click history in the snapshot window —
    * the deployment rotates snapshots (this is a SNAPSHOT join by design:
    * the as-of reference data a serving job pins for its run, exactly
    * like the fixed IVF quantizer in [[ivfAssignStream]]). */
  def asofQuoteSnapshot(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "click" &&
        col("ts").isNotNull && col("user_id").isNotNull)
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("ts"), col("click_id"))))
        .as("quotes"))

  /** Streaming as-of enrichment — the streaming twin of `asof_join` /
    * `asof_join_native`, completing the one operator family that had no
    * streaming counterpart: each arriving purchase is annotated with the
    * most recent click at-or-before its event time by the same user,
    * against a STATIC [[asofQuoteSnapshot]].
    *
    * Plan shape is fully stream-safe: a stream-static LEFT equi-join on
    * user_id (static side broadcast — no stream shuffle) and a row-local
    * array probe (`filter(quotes, q.ts ≤ ts)` then last element — the
    * array is ts-ascending, so the last kept entry IS the as-of match,
    * inclusive on equality like DuckDB ASOF's `>=`). No watermark, no
    * keyed state, no aggregation: every input row emits exactly one
    * output row immediately, so the twin runs identically on a static
    * frame (StreamingPipelineSpec pins row parity against the batch
    * query). The stream-stream alternative (both sides unbounded) is the
    * [[attributionJoinStream]] state machine with the range bound —
    * as-of's "latest before" needs a per-purchase argmax that append-mode
    * stream-stream joins can't express without a second stateful stage,
    * which is why the snapshot formulation is the production shape. */
  def asofEnrichStream(purchases: DataFrame, quoteSnapshot: DataFrame): DataFrame = {
    val p = purchases.filter(col("event_type") === "purchase" &&
        col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    p.join(broadcast(quoteSnapshot), Seq("user_id"), "left")
      .withColumn("m", expr(
        // try_: an empty filtered array (no click at-or-before) is a
        // NON-match, not an error — NULL propagates to the quote columns
        "try_element_at(filter(quotes, q -> q.ts <= purchase_ts), -1)"))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("m.click_id").as("click_id"), col("m.ts").as("click_ts"))
  }

  /** Streaming Count-Min counter maintenance — the sketch-tier ingest
    * path ([[graft.queries.SketchOps]] `cms_topk_audit`'s build half run
    * as a running aggregate): arriving docs explode to the IDENTICAL
    * (row, bucket) cell keys (the shared
    * [[graft.queries.SketchOps.cmsCellKeys]] math — build and batch
    * probe must agree cell-for-cell) and a watermark-less streaming
    * aggregation keeps the running counters. CMS counters are SUMS, so
    * the live state after any prefix of the feed IS the batch sketch of
    * that prefix — additivity makes the twin exact, not
    * arrival-order-approximate like the keyed-first-occurrence twins.
    * Run in Update mode; the sink's latest row per cell is the counter.
    *
    * Scale: state is d·w counters (1024 rows here) REGARDLESS of feed
    * size — the whole point of sketch-tier ingest; the shuffle is keyed
    * by cell, and map-side partial aggregation compresses each
    * micro-batch to ≤ d·w rows before it. */
  def cmsCellStream(docs: DataFrame): DataFrame =
    graft.queries.SketchOps.cmsCellKeys(docs)
      .groupBy(col("row"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Streaming CountSketch maintenance — [[cmsCellStream]] for the
    * SIGNED frequency sketch ([[graft.queries.SketchOps]]
    * `countsketch_topk_audit`'s build half run as a running aggregate):
    * arriving docs explode to the IDENTICAL (row, bucket, ±1) cell keys
    * (the shared [[graft.queries.SketchOps.csCellKeys]] math) and a
    * watermark-less streaming aggregation keeps the running SIGNED sums.
    * Signed counters are linear, so the live state after any prefix of
    * the feed IS the batch sketch of that prefix — the same exact-twin
    * additivity as the CMS stream, just with cancellation allowed.
    *
    * Because a signed counter can move in either direction, "latest row
    * per cell" in an Update-mode sink cannot be recovered by max(cnt)
    * the way the monotone CMS counters allow — the emission carries
    * `n_upd` (occurrences folded into the cell, strictly monotone) so a
    * sink consumer picks each cell's row with the greatest `n_upd`.
    *
    * Scale: state is d·w signed counters (1280 rows here) regardless of
    * feed size; the shuffle is keyed by cell with map-side partial
    * aggregation compressing each micro-batch to ≤ d·w rows. */
  def countSketchStream(docs: DataFrame): DataFrame =
    graft.queries.SketchOps.csCellKeys(docs)
      .groupBy(col("row"), col("bucket"))
      .agg(sum(col("sgn")).as("cnt"), count(lit(1)).as("n_upd"))

  /** Streaming dyadic rank-sketch maintenance — [[cmsCellStream]] for
    * the QUANTILE sketch ([[graft.queries.SketchOps]] `cms_rank_audit`'s
    * build half run as a running aggregate): arriving docs' token
    * lengths explode to the IDENTICAL packed cell indices (the shared
    * [[graft.queries.SketchOps.rankCellKeys]] math) and a watermark-less
    * streaming aggregation keeps the counters keyed by packed index.
    * Cells are sums, so the live state after any prefix of the feed IS
    * the batch sketch of that prefix — any rank/quantile consumer reads
    * the latest counters through the same descent the batch audit runs.
    * Run in Update mode; the sink's latest row per cell is the counter.
    *
    * Scale: state is ≤ [[graft.queries.SketchOps.rankCells]] counters
    * (16 384) regardless of feed size; the shuffle is keyed by packed
    * cell index with map-side partial aggregation compressing each
    * micro-batch to ≤ that many rows. */
  def rankCellStream(docs: DataFrame): DataFrame =
    graft.queries.SketchOps.rankCellKeys(docs)
      .groupBy(col("i"))
      .agg(count(lit(1)).as("cnt"))

  case class KmvIn(source: String, g: String, h: Long)
  case class KmvSketchRow(source: String, n_sketch: Long,
      h_k: Option[Long], est: Long, upd: Long)

  /** Streaming KMV (bottom-k) distinct sketch per source — the
    * distinct-counting ingest path ([[graft.queries.SketchOps]]
    * `kmv_distinct_audit` held incrementally): keyed state per source is
    * the ≤ k smallest (hash, gram) pairs ever seen; each micro-batch
    * merges the arrivals' hashes into the state (set-union, re-take
    * bottom k — the EXACT merge law `kmv_merge_audit` proves) and emits
    * the source's current sketch row: retained size, the boundary hash,
    * and the sketch-only estimate (n_sketch < k ⇒ the sketch IS the
    * distinct set, exact; saturated ⇒ (k−1)·2³²/h_k).
    *
    * Duplicates need no pre-distinct (a blocking op on a stream): the
    * bottom-k set-merge is idempotent, which is why the sketch — unlike
    * the exact distinct count — streams at all. The estimator differs
    * from the batch AUDIT's `est` in exactly two documented, measure-zero
    * boundary cases: (1) n_exact = k exactly (the audit knows n_exact and
    * reports it exact; a sketch-only consumer cannot) and (2) h_k = 0 (an
    * all-zero-prefix md5, one in 2³²): the batch audit emits NULL there
    * while this stream's non-nullable `est` emits 0 — both refuse the
    * division, the stream just spells the refusal as the zero sentinel —
    * StreamingPipelineSpec pins the final emitted rows against a batch
    * recount of the sketch-only rule.
    *
    * Scale: one shuffle keyed by source; state is k·|sources| pairs
    * forever (bounded by construction, no timeout needed); `upd` is a
    * per-source monotone update index so a sink consumer (and the spec)
    * can select each source's LATEST sketch. */
  def kmvSketchStream(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val k = graft.queries.SketchOps.kmvK
    val dom = graft.queries.SketchOps.kmvDomain
    val keyed = graft.queries.SketchOps.kmvKeyed(docs).as[KmvIn]
    keyed.groupByKey(_.source)
      .flatMapGroupsWithState[(Seq[(Long, String)], Long), KmvSketchRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src: String, it: Iterator[KmvIn],
            state: GroupState[(Seq[(Long, String)], Long)]) =>
          val (held, upd) = state.getOption.getOrElse((Seq.empty, 0L))
          val merged = (held ++ it.map(r => (r.h, r.g)))
            .distinct.sorted.take(k)
          state.update((merged, upd + 1L))
          val n = merged.size.toLong
          val hk = if (n >= k) Some(merged.last._1) else None
          val est =
            if (n < k) n
            else hk.filter(_ > 0).map((k - 1).toLong * dom / _).getOrElse(0L)
          Iterator.single(KmvSketchRow(src, n, hk, est, upd + 1L))
      }.toDF()
  }

  case class PrioIn(source: String, doc_id: Long, w: Long, p: Long)
  case class PrioState(top: Seq[(Long, Long, Long)], // (p, doc_id, w)
      nDocs: Long, sumW: Long, upd: Long)
  case class PrioRow(source: String, n_docs: Long, exact_tokens: Long,
      n_sampled: Long, tau: Long, est_tokens: Long,
      ratio_milli: Option[Long], upd: Long)

  /** Streaming DLT priority sample per source — the third mergeable-
    * state twin beside the CMS counters and the KMV bottom-k
    * ([[graft.queries.SketchOps]] `priority_sample_audit` held
    * incrementally): keyed state is the k+1 highest-priority
    * (p, doc_id, w) triples ever seen (k sampled + the (k+1)-th, which
    * IS τ) plus the additive exact totals; each micro-batch merges
    * arrivals (dedup by doc_id — a replay of a RETAINED doc carries the
    * same deterministic coin, so that merge is idempotent) and emits the
    * FULL audit row. PRECONDITION for batch equivalence: no doc_id may
    * recur across micro-batches once evicted from the k+1 retained
    * triples — an evicted doc's replay is indistinguishable from a new
    * arrival, so nDocs/sumW would double-count it (the bounded-state
    * trade the merge code comments). For feeds satisfying that (e.g.
    * append-only ingest, or replays confined to the retained window) the
    * final emission per source is bit-identical to the batch query's row
    * (StreamingPipelineSpec pins it on such a feed). Priority
    * math lives in the shared [[graft.queries.SketchOps.prioKeyed]]
    * projection — one copy or the estimator sides drift.
    *
    * Scale: one shuffle keyed by source; state is k+1 triples + two
    * longs per source forever (bounded by construction, no timeout);
    * `upd` is the monotone update index for latest-row selection. */
  def prioritySampleStream(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val k = graft.queries.SketchOps.prioK
    val keyed = graft.queries.SketchOps.prioKeyed(docs).as[PrioIn]
    keyed.groupByKey(_.source)
      .flatMapGroupsWithState[PrioState, PrioRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src: String, it: Iterator[PrioIn], state: GroupState[PrioState]) =>
          val st = state.getOption.getOrElse(PrioState(Seq.empty, 0L, 0L, 0L))
          val arrivals = it.toSeq
          // doc_id is the item identity: replays are idempotent (same
          // deterministic coin) and a within-batch id collision resolves
          // to the max (p, w) tuple — deterministic under any shuffle
          // order, unlike iterator-order "first wins"
          val fresh = arrivals
            .filterNot(a => st.top.exists(_._2 == a.doc_id))
            .groupBy(_.doc_id).values
            .map(g => g.maxBy(a => (a.p, a.w))).toSeq.sortBy(_.doc_id)
          val merged = (st.top ++ fresh.map(a => (a.p, a.doc_id, a.w)))
            .sortBy { case (p, id, _) => (-p, id) }.take(k + 1)
          // additive totals: replays of an ALREADY-RETAINED doc were
          // filtered above; a replay of an evicted doc is
          // indistinguishable from a new arrival (the bounded-state
          // trade — the batch query, which sees whole rows, is exact)
          val nDocs = st.nDocs + fresh.size
          val sumW = st.sumW + fresh.map(_.w).sum
          val upd = st.upd + 1L
          state.update(PrioState(merged, nDocs, sumW, upd))
          val sample = merged.take(k)
          val tau = if (merged.size > k) merged(k)._1 else 0L
          val est =
            if (nDocs <= k) sumW
            else sample.map(t => math.max(t._3, tau)).sum
          Iterator.single(PrioRow(src, nDocs, sumW, sample.size.toLong,
            tau, est,
            if (sumW > 0) Some(1000L * est / sumW) else None, upd))
      }.toDF()
  }

  case class ZipfDriftRow(upd: Long, n_tracked: Long, n_evictions: Long,
      n_points: Long, slope_milli_per_milli: Option[Double],
      intercept_milli: Option[Double], r2: Option[Double],
      slope_drift: Option[Double])

  /** Streaming corpus-statistics DRIFT monitor — the consumer the
    * mergeable sketch tier exists for: after every micro-batch, the
    * current Zipf slope of the corpus's trigram frequency curve (the
    * batch `zipf_slope_audit` law, held incrementally) plus its change
    * since the previous batch. A training-data ingest watches
    * `slope_drift`: a distribution shift in the feed (new domain, junk
    * flood, dedup regression) moves the rank–frequency slope long before
    * any per-document gate fires.
    *
    * State is ONE Space-Saving (Metwally et al. 2005) heavy-hitter
    * summary of `capacity` (gram, count) pairs plus the previous slope —
    * BOUNDED at any corpus size, unlike the exact vocabulary. The
    * summary admits every arrival: tracked grams increment; new grams
    * insert while below capacity, else inherit the current minimum
    * count + their batch count (the Space-Saving overestimate, which
    * preserves the heavy-hitter guarantee: any gram with true count
    * > N/capacity is retained). The slope reads only the top
    * [[graft.queries.SketchOps.zipfTopN]] retained counts through the
    * SAME integer milli-log₂ and OLS moment math as the batch audit
    * ([[graft.queries.SketchOps.lgJvm]]/[[graft.queries.SketchOps.olsJvm]]
    * — JVM twins of the shared SQL expressions, cast-order-identical).
    *
    * PARITY contract (StreamingPipelineSpec pins it): while no eviction
    * has occurred (capacity ≥ distinct grams seen — always true for a
    * capacity-sized prefix of any feed), every count is EXACT and the
    * latest emission's (n_points, slope, intercept, r2) equal the batch
    * `zipf_slope_audit` row over the same documents, bit for bit. Under
    * eviction the slope is the documented Space-Saving approximation —
    * `n_evictions` says loudly which regime a row is from.
    *
    * Scale: the monitor is a deliberate SINGLE group (a corpus has one
    * Zipf curve); each batch streams its gram occurrences through one
    * task and touches capacity-bounded state. At 100 TB the feed this
    * monitors is the post-gate ingest sample, not the raw firehose —
    * and the state still never grows. */
  def zipfDriftStream(docs: DataFrame, capacity: Int = 65536): DataFrame = {
    import docs.sparkSession.implicits._
    val topN = graft.queries.SketchOps.zipfTopN
    val grams = graft.queries.SketchOps.gramOccKeyed(docs).as[String]
    grams.groupByKey(_ => 0)
      .flatMapGroupsWithState[
        (Map[String, Long], Long, Long, Option[Double]), ZipfDriftRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, it: Iterator[String],
            state: GroupState[(Map[String, Long], Long, Long,
              Option[Double])]) =>
          val (held, evictions0, upd0, prevSlope) =
            state.getOption.getOrElse(
              (Map.empty[String, Long], 0L, 0L, None))
          val batch = scala.collection.mutable.Map.empty[String, Long]
          it.foreach(g => batch(g) = batch.getOrElse(g, 0L) + 1L)
          val counts = scala.collection.mutable.Map.empty[String, Long]
          counts ++= held
          var evictions = evictions0
          // admit in sorted gram order: eviction choice is deterministic
          // under any shuffle/iterator order
          batch.toSeq.sortBy(_._1).foreach { case (g, d) =>
            counts.get(g) match {
              case Some(c) => counts(g) = c + d
              case None if counts.size < capacity => counts(g) = d
              case None =>
                // evict the minimum count; on ties the lexicographically
                // LARGEST gram goes, so the kept set prefers smaller
                // grams — the batch top-N tie-break direction
                val vc = counts.valuesIterator.min
                val vg = counts.iterator
                  .collect { case (mg, mc) if mc == vc => mg }.max
                counts.remove(vg)
                counts(g) = vc + d // Space-Saving count inheritance
                evictions += 1L
            }
          }
          val top = counts.toSeq
            .sortBy { case (g, c) => (-c, g) }.take(topN)
          var n = 0L; var sx = 0L; var sy = 0L
          var sxx = 0L; var sxy = 0L; var syy = 0L
          top.zipWithIndex.foreach { case ((_, c), i) =>
            val x = graft.queries.SketchOps.lgJvm(i + 1L)
            val y = graft.queries.SketchOps.lgJvm(c)
            n += 1L; sx += x; sy += y
            sxx += x * x; sxy += x * y; syy += y * y
          }
          val (slope, icept, r2) =
            graft.queries.SketchOps.olsJvm(n, sx, sy, sxx, sxy, syy)
          val upd = upd0 + 1L
          state.update((counts.toMap, evictions, upd, slope))
          Iterator.single(ZipfDriftRow(upd, counts.size.toLong, evictions,
            n, slope, icept, r2,
            for (s <- slope; p <- prevSlope) yield s - p))
      }.toDF()
  }

  case class TvDriftRow(source: String, n_grams: Long, n_tok: Long,
      tv_micro: Long, tv_ok: Boolean, top_gram: String,
      top_diff_micro: Long, upd: Long)

  /** Streaming per-source total-variation DRIFT monitor — the twin of the
    * batch `source_tv_drift` (the mixing tier's pre-flight): after every
    * micro-batch, each source's TV distance from the corpus-so-far over
    * the trigram vocabulary, in the batch query's exact integer micro
    * units, plus the argmax-drift witness gram. A training-data ingest
    * watches a source's `tv_micro` trajectory: a feed that starts
    * converging to the corpus (tv → 0) has stopped adding distributional
    * coverage; one that diverges is drifting — both long before any
    * per-document gate fires.
    *
    * State is the per-source gram-count map — EXACT, so the parity
    * contract is total (StreamingPipelineSpec pins it): after any batch,
    * each source's emitted row equals the batch `source_tv_drift` row
    * over the same documents, bit for bit (same integer p/q micro masses,
    * same absent-gram identity Σ|p−q| over absent grams = qtot − sq, same
    * (ad DESC, g) witness rule). Unlike the Space-Saving zipf monitor the
    * state here is vocabulary-scale (|sources|·|grams| — the size of the
    * batch relation itself): TV is a full-distribution distance, and
    * capping the state would silently change the metric.
    *
    * STATE-SHAPE DECISION (round 16, recorded): the single group is
    * RETAINED as the exactness contract, not an oversight. TV(src) =
    * ½Σ_g |p_src(g) − q(g)| needs the CORPUS distribution q — a global
    * view no per-source state group can hold, and Structured Streaming
    * gives a stateful operator no cross-group reads. Re-keying per
    * source would force q to come from a second stateful stage joined
    * back per batch — an append-mode join of two stateful aggregates,
    * which SS rejects without watermark semantics that would change
    * WHICH rows the monitor sees; sketching both sides (CMS for q,
    * per-source CMS for p) bounds state but turns TV into an estimate —
    * a DIFFERENT operator, not this twin. The deployment bound that
    * follows, stated plainly: state bytes ≈ Σ_src |vocab_src| ·
    * (gram bytes + 8) in ONE state object updated by ONE task per batch
    * — at the sf0.1 shape (31-word vocabulary) that is ~30k grams × a
    * few sources ≈ single-digit MB and update cost is per-batch token
    * count; on an UNBOUNDED vocabulary (Heaps-law feed) it grows with
    * corpus vocabulary, so the monitor's feed contract is the post-gate
    * ingest SAMPLE (the zipf monitor's deployment note), and the batch
    * `source_tv_drift` over the full corpus remains the real path. A
    * feed that cannot be sampled needs the sketched estimator, which
    * this repo deliberately has not badged as "TV". */
  def tvDriftStream(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val occ = graft.queries.SketchOps.gramOccBySrc(docs)
      .as[(String, String)]
    occ.groupByKey(_ => 0)
      .flatMapGroupsWithState[(Map[String, Map[String, Long]], Long),
        TvDriftRow](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, it: Iterator[(String, String)],
            state: GroupState[(Map[String, Map[String, Long]], Long)]) =>
          val (held, upd0) =
            state.getOption.getOrElse(
              (Map.empty[String, Map[String, Long]], 0L))
          val counts = scala.collection.mutable.Map
            .empty[String, scala.collection.mutable.Map[String, Long]]
          held.foreach { case (src, gs) =>
            counts(src) = scala.collection.mutable.Map.empty ++ gs
          }
          it.foreach { case (src, g) =>
            val m = counts.getOrElseUpdate(src,
              scala.collection.mutable.Map.empty)
            m(g) = m.getOrElse(g, 0L) + 1L
          }
          val upd = upd0 + 1L
          state.update((counts.view.mapValues(_.toMap).toMap, upd))
          // the batch query's integer math, row-local: corpus gram mass
          // q_g = 10⁶·dg div dt, per-source p_g = 10⁶·cnt div ct,
          // tv = (Σ|p−q| + (qtot − Σ_src q)) div 2
          val dg = scala.collection.mutable.Map.empty[String, Long]
          counts.valuesIterator.foreach(_.foreach { case (g, c) =>
            dg(g) = dg.getOrElse(g, 0L) + c
          })
          val dt = dg.valuesIterator.sum
          if (dt <= 0) Iterator.empty
          else {
            val q = dg.map { case (g, d) => g -> 1000000L * d / dt }
            val qtot = q.valuesIterator.sum
            counts.toSeq.sortBy(_._1).iterator.map { case (src, gs) =>
              val ct = gs.valuesIterator.sum
              var sad = 0L
              var sq = 0L
              var topG: String = null
              var topAd = -1L
              gs.toSeq.sortBy(_._1).foreach { case (g, c) =>
                val ad = math.abs(1000000L * c / ct - q(g))
                sad += ad
                sq += q(g)
                if (ad > topAd) { topAd = ad; topG = g }
              }
              val tv = (sad + qtot - sq) / 2
              TvDriftRow(src, gs.size.toLong, ct, tv,
                tv >= 0L && tv <= 1000000L, topG, topAd, upd)
            }
          }
      }.toDF()
  }

  /** Drive a streaming DataFrame through a memory sink to completion
    * (test/local harness). Returns the collected result table. */
  def runToMemory(spark: SparkSession, df: DataFrame, queryName: String,
      mode: OutputMode = OutputMode.Append): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }
}
