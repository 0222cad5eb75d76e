package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Util.{cachedRelation, t}

/** Unigram-LM tokenizer step (SentencePiece-style) — the second of the two
  * canonical subword-tokenizer training algorithms (BPE is the other; see
  * TextOps.bpeTrained). Kudo's unigram LM scores a segmentation of a word
  * as the sum of per-piece surprisals and trains by EM: segment the corpus
  * with the current piece probabilities (E), re-estimate piece counts from
  * the segmentations (M). This family implements ONE audited hard-EM round
  * (Viterbi E-step, count M-step) — the same "one real algorithm round,
  * exactly replayed by the oracle" contract as bpe_merge_rounds and
  * kmeans_step.
  *
  * Exactness contract (the word_bigram_surprisal log₂ rule, at double
  * resolution): a piece with seed count c out of N total piece occurrences
  * costs 500·(⌊log₂N²⌋ − ⌊log₂c²⌋) ≈ 1000·log₂(N/c) millibits, where
  * ⌊log₂x²⌋ comes from binary-rendering length (libm-free, exact on both
  * engines; counts are capped at 2³¹−1 before squaring so the square stays
  * in BIGINT — beyond that cap an ultra-frequent piece's cost is already
  * pinned at the resolution floor). The Viterbi DP itself runs in a
  * STRING-ENCODED table both engines fold identically: best[i] is
  * `lpad(cost,12,'0') || lpad(n_pieces,4,'0') || seg`, so `least()` over
  * candidate strings IS the (cost, piece-count, segmentation) lexicographic
  * tie-break — deterministic even when the half-bit cost quantization
  * produces exact ties.
  *
  * Scale shape: the token-scale work is ONE map-side-combining word count
  * (shared shape with the BPE family); everything after runs on the
  * DISTINCT VOCABULARY (Zipf: ≪ occurrences) — a vocabulary-sized piece
  * count, a ≤4·maxlen-wide candidate explode, and a per-word linear fold.
  * Both relations are session-cached ([[Util.cachedRelation]]), so the
  * step query and the segmentation query pay the DP once. Nothing is
  * corpus-quadratic; the only single-partition window ranks the
  * vocabulary-sized multi-char piece relation (the tokenBudgetFill
  * dimension-sized-window pattern).
  */
object UnigramOps {

  /** Longest candidate piece, chars. */
  private val MaxPiece = 4

  /** Multi-char vocabulary budget (single chars always survive, so every
    * word keeps at least one valid segmentation). */
  private val VocabMulti = 500

  /** Cost of a non-vocab piece: any path through one (≥ 10⁹) loses to the
    * worst all-vocab path (≤ maxlen·500·63 < 10⁶), so the DP can index
    * every (start, len) slot densely without a reachability special case. */
  private val Sentinel = 1000000000L

  /** ⌊log₂(min(c, 2³¹−1)²)⌋ + 1 via binary-string length — the libm-free
    * half-bit-resolution log₂ both engines render identically. */
  private def halfBits(c: Column): Column =
    length(bin(least(c, lit(2147483647L)) * least(c, lit(2147483647L))))
      .cast("long")

  /** Trainer word-length ceiling. The string-table DP is O(len²) with
    * heavy per-step string splitting, so an unbounded "word" (a
    * pathological run of letters in a dirty crawl) would stall the whole
    * stage — SentencePiece applies the same kind of length bound for the
    * same reason. 64 chars is far beyond any natural-language word;
    * longer runs are junk the trainer should not model. Applies to the
    * batch universe, the oracle and the streaming twin identically. */
  private val MaxWordLen = 64

  /** Corpus word frequencies — the BPE family's exact filter (lowercase
    * ascii words, ≥ 2 chars) plus the [[MaxWordLen]] DP bound, so the two
    * tokenizer trainers are comparable on the same universe.
    * Session-cached: this is the ONLY token-scale stage in the whole
    * trainer, and the cold vocab build otherwise re-derives it once per
    * union/ntot branch (plan audit counted five corpus scans; with the
    * cache the trainer reads the corpus once and every downstream stage
    * runs on the vocabulary-sized relation). */
  private def wordFreq(s: SparkSession, dir: String): DataFrame =
    cachedRelation(s, dir, "unigramWords", "") {
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .where(col("word").rlike("^[a-z]+$") &&
          length(col("word")).between(2, MaxWordLen))
        .groupBy("word").agg(count(lit(1)).as("freq"))
    }

  /** The stream-side twin of [[wordFreq]]'s universe filter — one
    * definition so the gates cannot drift. */
  def wordUniverseFilter(word: Column): Column =
    word.rlike("^[a-z]+$") && length(word).between(2, MaxWordLen)

  /** All (start, len ≤ MaxPiece) substrings of the vocabulary, weighted by
    * word corpus frequency. */
  private def pieceCounts(wf: DataFrame): DataFrame =
    wf.select(col("word"), col("freq"),
        explode(sequence(lit(1), length(col("word")))).as("st"))
      .select(col("word"), col("freq"), col("st"),
        explode(sequence(lit(1), lit(MaxPiece))).as("p"))
      .filter(col("st") + col("p") - 1 <= length(col("word")))
      .select(col("word").substr(col("st"), col("p")).as("piece"), col("freq"))
      .groupBy("piece").agg(sum("freq").as("cnt"))

  /** Seed vocabulary with costs: every single char + the top-[[VocabMulti]]
    * multi-char pieces by (count desc, piece asc). (piece, cnt, cost). */
  private[queries] def vocabRel(s: SparkSession, dir: String): DataFrame =
    cachedRelation(s, dir, "unigramVocab", "") {
      val pc = pieceCounts(wordFreq(s, dir))
      // single-partition rank is deliberate: pc is vocabulary-sized
      // (dimension-scale, the tokenBudgetFill pattern), never token-scale
      val multi = pc.filter(length(col("piece")) > 1)
        .withColumn("rk",
          row_number().over(Window.orderBy(col("cnt").desc, col("piece"))))
        .filter(col("rk") <= VocabMulti).drop("rk")
      val vocab = pc.filter(length(col("piece")) === 1).unionByName(multi)
      val tot = vocab.agg(sum("cnt").as("ntot"))
      vocab.crossJoin(broadcast(tot)) // scalar broadcast
        .select(col("piece"), col("cnt"),
          (lit(500L) * (halfBits(col("ntot")) - halfBits(col("cnt"))))
            .as("cost"))
    }

  /** Saturation ceilings for the two fixed-width fields: without them a
    * pathological word (≥ ~9 200 chars of all-sentinel pieces, or ≥ 10⁴
    * pieces) would overflow its lpad width and TRUNCATE — silently
    * breaking the lexicographic-order-is-cost-order invariant. Saturated
    * paths compare equal on the saturated field and fall through to the
    * next tie-break field, which is the right semantics for
    * "infinitely bad either way". */
  private val CostCeil = 999999999999L
  private val NCeil = 9999L

  /** One Viterbi candidate: extend best[i−j] with the j-char piece ending
    * at i. `stepCost(i, j)` abstracts where the piece cost comes from (the
    * batch dense array vs the stream's broadcast map) so the two callers
    * share ONE copy of the DP. Indices are clamped for the j > i slots —
    * the CASE guard means the clamped value is never read, the clamp only
    * keeps element_at from tripping its index-zero check if Catalyst ever
    * evaluates the dead branch. */
  private def cand(j: Int, acc: Column, i: Column, word: Column,
      stepCost: (Column, Int) => Column): Column = {
    val rows = split(acc, "\\|")
    val prev = element_at(rows, greatest(i - lit(j) + 1, lit(1)))
    val enc = concat(
      lpad(least(substring(prev, 1, 12).cast("long") + stepCost(i, j),
        lit(CostCeil)).cast("string"), 12, "0"),
      lpad(least(substring(prev, 13, 4).cast("long") + 1, lit(NCeil))
        .cast("string"), 4, "0"),
      prev.substr(lit(17), length(prev)),
      lit("·"), word.substr(i - lit(j) + 1, lit(j)))
    when(lit(j) <= i, enc).otherwise(lit("Z")) // 'Z' sorts after any digit
  }

  /** The full string-table Viterbi fold over `word`, parameterized on the
    * piece-cost source; returns the LAST table row (the word's best). */
  private def dpFinal(word: Column,
      stepCost: (Column, Int) => Column): Column = {
    val base = "0" * 12 + "0000" // best[0]: cost 0, 0 pieces, empty seg
    val tbl = aggregate(
      sequence(lit(1), length(word)), lit(base),
      (acc, i) => concat(acc, lit("|"),
        least((1 to MaxPiece).map(j => cand(j, acc, i, word, stepCost)): _*)))
    element_at(split(tbl, "\\|"), -1)
  }

  /** Decode a DP-final string into the public columns. */
  private def decoded(fin: Column): Seq[Column] = Seq(
    substring(fin, 1, 12).cast("long").as("cost_millibits"),
    substring(fin, 13, 4).cast("long").as("n_pieces"),
    ltrim(fin.substr(lit(17), length(fin)), "·").as("seg"))

  /** Per-word Viterbi over an ARBITRARY (piece, cost) vocabulary —
    * the [[viterbiRel]] body parameterized on the cost source so the
    * seed-vocab segmentation and the pruned-vocab re-segmentation run
    * the IDENTICAL DP (cacheKey names the session cache slot). */
  private def viterbiWith(s: SparkSession, dir: String, vcIn: DataFrame,
      cacheKey: String): DataFrame =
    cachedRelation(s, dir, cacheKey, "") {
      val arr = costsArrWith(s, dir, vcIn, cacheKey + "Arr")
      val stepCost = (i: Column, j: Int) => element_at(col("costs"),
        greatest((i - lit(j)) * lit(MaxPiece) + lit(j), lit(1)))
      arr
        .withColumn("fin", dpFinal(col("word"), stepCost))
        .select(Seq(col("word"), col("freq")) ++ decoded(col("fin")): _*)
    }

  /** Dense per-word cost-array relation over an arbitrary vocabulary —
    * the segmenters' shared input (one copy of the (start, len) slot
    * indexing), registry-cached because the Viterbi DP and the WordPiece
    * greedy audit both fold over it. Slot (st, p) of `costs` holds the
    * piece cost or [[Sentinel]] at index (st−1)·MaxPiece + p. */
  private def costsArrWith(s: SparkSession, dir: String, vcIn: DataFrame,
      cacheKey: String): DataFrame =
    cachedRelation(s, dir, cacheKey, "") {
      val vc = vcIn.select(col("piece"), col("cost"))
      val wf = wordFreq(s, dir)
      val ca = wf
        .select(col("word"), col("freq"),
          explode(sequence(lit(1), length(col("word")))).as("st"))
        .select(col("word"), col("freq"), col("st"),
          explode(sequence(lit(1), lit(MaxPiece))).as("p"))
        .withColumn("idx", (col("st") - 1) * MaxPiece + col("p"))
        .withColumn("piece", col("word").substr(col("st"), col("p")))
        .withColumn("ok", col("st") + col("p") - 1 <= length(col("word")))
        .join(vc, Seq("piece"), "left")
        .select(col("word"), col("freq"), col("idx"),
          when(col("ok"), coalesce(col("cost"), lit(Sentinel)))
            .otherwise(lit(Sentinel)).as("cost"))
      ca.groupBy("word").agg(
        max("freq").as("freq"),
        transform(array_sort(collect_list(struct(col("idx"), col("cost")))),
          x => x("cost")).as("costs"))
    }

  /** Per-word Viterbi result over the seed vocab: (word, freq, seg,
    * n_pieces, cost_millibits). The DP folds positions 1..len over a
    * '|'-separated table of string-encoded bests; slot (start, len) of the
    * dense cost array holds the piece cost or [[Sentinel]]. */
  private def viterbiRel(s: SparkSession, dir: String): DataFrame =
    viterbiWith(s, dir, vocabRel(s, dir), "unigramViterbi")

  /** The trained segmenter collapsed to ONE broadcastable row (piece →
    * cost map) — the fixed-state snapshot the streaming twin probes
    * row-locally (the ivfQuantizerRow / nbWeightsRow collapse pattern).
    * Vocabulary is bounded (26 + [[VocabMulti]] + punctuation-free
    * single chars) at any corpus scale, so the broadcast never grows
    * with the data. */
  def vocabCostRow(s: SparkSession, dir: String): DataFrame =
    vocabRel(s, dir).agg(
      map_from_entries(collect_list(struct(col("piece"), col("cost"))))
        .as("vmap"))

  /** Row-local Viterbi against a broadcast piece-cost map — the streaming
    * twin's segmenter, sharing [[dpFinal]]/[[cand]] with the batch DP so
    * the two sides cannot drift. Pieces absent from the map cost
    * [[Sentinel]], exactly like the batch dense array's non-vocab slots.
    * Used by [[graft.streaming.StreamingPipeline.unigramSegmentStream]]. */
  def segmentWithMap(word: Column, vmap: Column): Seq[Column] = {
    val stepCost = (i: Column, j: Int) => coalesce(
      try_element_at(vmap, word.substr(i - lit(j) + 1, lit(j))),
      lit(Sentinel))
    decoded(dpFinal(word, stepCost))
  }

  /** Hard-EM M-step count table: which seed pieces does the Viterbi
    * segmentation actually USE, and how often — the piece-probability
    * re-estimate of one unigram-LM training round, next to the seed counts
    * it replaces (the mass reallocation is the point: substring counts
    * double-count every overlap; Viterbi counts are a proper partition of
    * the corpus). Pieces the E-step never uses carry no row — exactly the
    * candidates the next prune round would drop. */
  private def unigramLmStep(s: SparkSession, dir: String): DataFrame =
    viterbiRel(s, dir)
      .select(explode(split(col("seg"), "·")).as("piece"), col("freq"))
      .groupBy("piece").agg(sum("freq").as("viterbi_count"))
      .join(vocabRel(s, dir), "piece")
      .select(col("piece"), length(col("piece")).cast("long").as("piece_len"),
        col("cnt").as("seed_count"), col("cost").as("cost_millibits"),
        col("viterbi_count"))
      .orderBy(col("viterbi_count").desc, col("piece")).limit(50)

  /** The trained segmenter's acceptance view: the most frequent corpus
    * words with their minimum-cost segmentations. */
  private def unigramSegmentWords(s: SparkSession, dir: String): DataFrame =
    viterbiRel(s, dir)
      .select(col("word"), col("freq"), col("n_pieces"),
        col("cost_millibits"), col("seg"))
      .orderBy(col("freq").desc, col("word")).limit(30)

  /** Tokenizer-selection report — BPE vs unigram measured on the SAME
    * corpus: per source, tokens-per-word fertility of the 8-round BPE
    * merge state and the unigram Viterbi segmenter, over the shared word
    * universe. This is the decision artifact a tokenizer build ends with
    * (SentencePiece's own eval: fertility against the corpus you'll
    * train on) — and it rides BOTH session-cached training states
    * (TextOps.bpeFinalState, [[viterbiRel]]), so the comparison costs one
    * (source, word) map-side count plus two vocabulary-sized joins.
    *
    * Universe: [[wordUniverseFilter]] — the TRAINED universe, i.e. the
    * BPE filter plus the [[MaxWordLen]] DP bound, stated explicitly in
    * the occurrence count (not left implicit in the inner join with the
    * length-bounded unigram state). On corpora whose lowercase words all
    * fit [[MaxWordLen]] (every sf corpus does), n_words/n_char_tokens/
    * n_bpe_tokens reconcile exactly with `bpe_compression`, whose
    * universe has no length bound; a longer junk word counts there but
    * is excluded here — UnigramOpsSpec pins both the reconciliation and
    * that bounded divergence. n_uni_pieces adds the unigram column;
    * fertilities are the suite's exact-milli floors. */
  private def tokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    val nsym = graft.queries.TextOps.bpeFinalState(s, dir)
      .select(col("word"), size(split(col("s"), "·")).as("n_sym"))
    val nuni = viterbiRel(s, dir).select(col("word"), col("n_pieces"))
    val occ = t(s, dir, "documents")
      .select(coalesce(col("source"), lit("")).as("source"),
        explode(split(col("text"), " ")).as("word"))
      .where(wordUniverseFilter(col("word")))
      .groupBy("source", "word").agg(count(lit(1)).as("occ"))
    occ.join(nsym, "word").join(nuni, "word")
      .groupBy("source").agg(
        sum(col("occ")).as("n_words"),
        sum(col("occ") * length(col("word"))).as("n_char_tokens"),
        sum(col("occ") * col("n_sym")).as("n_bpe_tokens"),
        sum(col("occ") * col("n_pieces")).as("n_uni_pieces"))
      .withColumn("bpe_fertility_milli",
        floor(lit(1000.0) * col("n_bpe_tokens") / col("n_words")).cast("long"))
      .withColumn("uni_fertility_milli",
        floor(lit(1000.0) * col("n_uni_pieces") / col("n_words")).cast("long"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- oracle

  /** DuckDB twin of [[cand]] — generated from the same j so the two engines
    * can't drift structurally. `acc` is the DP table string, `x` the
    * position (VARCHAR element, cast at each use). */
  private def sqlCand(j: Int): String =
    // single-line pieces joined with trailing `||` — the outer CTE constant
    // runs stripMargin over this text again, so no generated line may start
    // with whitespace + '|'
    Seq(
      s"CASE WHEN $j <= CAST(x AS INT) THEN",
      s"  lpad(CAST(least(CAST(substr(string_split(acc, '|')[CAST(x AS INT) - $j + 1], 1, 12) AS BIGINT)",
      s"    + costs[(CAST(x AS INT) - $j) * $MaxPiece + $j], $CostCeil) AS VARCHAR), 12, '0') ||",
      s"  lpad(CAST(least(CAST(substr(string_split(acc, '|')[CAST(x AS INT) - $j + 1], 13, 4) AS BIGINT)",
      s"    + 1, $NCeil) AS VARCHAR), 4, '0') ||",
      s"  substr(string_split(acc, '|')[CAST(x AS INT) - $j + 1], 17) ||",
      s"  '·' || substr(word, CAST(x AS INT) - $j + 1, $j)",
      s"ELSE 'Z' END").mkString("\n")

  /** Shared CTE chain: word count → piece count → capped vocab + half-bit
    * costs → dense per-word cost array → string-table Viterbi fold —
    * THE single copy of the oracle's training math, shared by both
    * unigram oracles (the bpeCtes pattern). */
  private val unigramSqlCtes =
    s"""wf AS (
       |  SELECT word, COUNT(*) AS freq FROM (
       |      SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
       |  WHERE regexp_matches(word, '^[a-z]+$$')
       |    AND length(word) BETWEEN 2 AND $MaxWordLen
       |  GROUP BY word),
       |pc AS (
       |  SELECT substr(word, CAST(s AS INT), CAST(p AS INT)) AS piece,
       |    SUM(freq) AS cnt
       |  FROM wf,
       |       UNNEST(generate_series(1, length(word))) AS ts(s),
       |       UNNEST(generate_series(1, $MaxPiece)) AS tp(p)
       |  WHERE s + p - 1 <= length(word)
       |  GROUP BY 1),
       |vocab AS (
       |  SELECT piece, cnt FROM pc WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt,
       |      row_number() OVER (ORDER BY cnt DESC, piece) AS rk
       |    FROM pc WHERE length(piece) > 1) WHERE rk <= $VocabMulti),
       |ntot AS (SELECT SUM(cnt) AS n FROM vocab),
       |vc AS (
       |  SELECT piece, cnt,
       |    500 * (length(bin(least(n, 2147483647) * least(n, 2147483647)))
       |         - length(bin(least(cnt, 2147483647) * least(cnt, 2147483647))))
       |      AS cost
       |  FROM vocab CROSS JOIN ntot),
       |ca AS (
       |  SELECT word, freq, idx,
       |    CASE WHEN ok THEN COALESCE(vc.cost, $Sentinel)
       |         ELSE $Sentinel END AS cost
       |  FROM (SELECT word, freq, (s - 1) * $MaxPiece + p AS idx,
       |          substr(word, CAST(s AS INT), CAST(p AS INT)) AS piece,
       |          (s + p - 1 <= length(word)) AS ok
       |        FROM wf,
       |             UNNEST(generate_series(1, length(word))) AS ts(s),
       |             UNNEST(generate_series(1, $MaxPiece)) AS tp(p))
       |  LEFT JOIN vc USING (piece)),
       |arr AS (
       |  SELECT word, MAX(freq) AS freq, list(cost ORDER BY idx) AS costs
       |  FROM ca GROUP BY word),
       |dp AS (
       |  SELECT word, freq,
       |    list_reduce(
       |      ['${"0" * 12}0000'] ||
       |        list_transform(generate_series(1, CAST(length(word) AS INT)),
       |          y -> CAST(y AS VARCHAR)),
       |      (acc, x) -> acc || '|' || least(
       |        ${(1 to MaxPiece).map(sqlCand).mkString(",\n        ")})) AS tbl
       |  FROM arr),
       |vit AS (
       |  SELECT word, freq,
       |    CAST(substr(fin, 1, 12) AS BIGINT) AS cost_millibits,
       |    CAST(substr(fin, 13, 4) AS BIGINT) AS n_pieces,
       |    ltrim(substr(fin, 17), '·') AS seg
       |  FROM (SELECT word, freq,
       |          list_extract(string_split(tbl, '|'),
       |            len(string_split(tbl, '|'))) AS fin
       |        FROM dp))""".stripMargin

  private val unigramLmStepSql =
    s"""WITH $unigramSqlCtes
       |SELECT piece, CAST(length(piece) AS BIGINT) AS piece_len,
       |  CAST(vc.cnt AS BIGINT) AS seed_count,
       |  CAST(vc.cost AS BIGINT) AS cost_millibits,
       |  CAST(SUM(freq) AS BIGINT) AS viterbi_count
       |FROM (SELECT UNNEST(string_split(seg, '·')) AS piece, freq FROM vit) e
       |JOIN vc USING (piece)
       |GROUP BY piece, vc.cnt, vc.cost
       |ORDER BY viterbi_count DESC, piece LIMIT 50""".stripMargin

  private val unigramSegmentWordsSql =
    s"""WITH $unigramSqlCtes
       |SELECT word, CAST(freq AS BIGINT) AS freq, n_pieces, cost_millibits,
       |  seg
       |FROM vit ORDER BY freq DESC, word LIMIT 30""".stripMargin

  /** Both trainers' CTE chains compose in one WITH (disjoint CTE names);
    * the occurrence count states the TRAINED universe — the BPE corpus
    * filter plus the [[MaxWordLen]] bound — mirroring
    * [[wordUniverseFilter]] exactly. */
  private val tokenizerFertilitySql =
    s"""WITH ${graft.queries.TextOps.bpeCtes},
       |$unigramSqlCtes,
       |nsym AS (SELECT word, len(string_split(s, '·')) AS n_sym FROM v8),
       |occ AS (
       |  SELECT COALESCE(source, '') AS source, word, COUNT(*) AS occ
       |  FROM (SELECT source, UNNEST(string_split(text, ' ')) AS word
       |        FROM documents)
       |  WHERE regexp_matches(word, '^[a-z]+$$')
       |    AND length(word) BETWEEN 2 AND $MaxWordLen
       |  GROUP BY 1, 2)
       |SELECT source,
       |  CAST(SUM(occ) AS BIGINT) AS n_words,
       |  CAST(SUM(occ * length(word)) AS BIGINT) AS n_char_tokens,
       |  CAST(SUM(occ * n_sym) AS BIGINT) AS n_bpe_tokens,
       |  CAST(SUM(occ * n_pieces) AS BIGINT) AS n_uni_pieces,
       |  CAST(floor(1000.0 * SUM(occ * n_sym) / SUM(occ)) AS BIGINT)
       |    AS bpe_fertility_milli,
       |  CAST(floor(1000.0 * SUM(occ * n_pieces) / SUM(occ)) AS BIGINT)
       |    AS uni_fertility_milli
       |FROM occ JOIN nsym USING (word) JOIN vit USING (word)
       |GROUP BY source ORDER BY source""".stripMargin

  /** Fraction of multi-char pieces pruned per round, in mille (the
    * SentencePiece trainer prunes a fixed fraction per EM round). */
  private val VocabPruneMille = 200L

  /** The PRUNE round of the unigram trainer (Kudo 2018 §3.2: after the
    * E/M counts, drop the pieces whose removal costs the least corpus
    * likelihood, keep all single chars as the alphabet floor). The
    * removal loss uses the CHARACTER-FALLBACK bound: if piece p is
    * dropped, every Viterbi occurrence re-segments at worst into its
    * single characters, so loss(p) = viterbi_count(p) · (Σ_chars cost_c
    * − cost_p) — an upper bound on the true re-segmentation loss that
    * is exact when no shorter multi-char piece covers p (and the exact
    * published quantity when the alternative IS the char fallback).
    * Every char of every piece is itself a vocab single by substring
    * closure, so the bound always evaluates. Never-used pieces
    * (viterbi_count = 0, the E-step's own prune candidates) and pieces
    * whose cost exceeds their char fallback get loss ≤ 0 — pruned
    * first. keep = top (1000−[[VocabPruneMille]])‰ of multi-char pieces
    * by (loss desc, piece); singles always keep.
    *
    * Scale shape: every relation here is VOCABULARY-sized (≤ 26 +
    * [[VocabMulti]] pieces); the single-partition rank window is the
    * [[vocabRel]] pattern (dimension-scale, never token-scale); the
    * only token-scale work lives in the session-cached
    * [[vocabRel]]/[[viterbiRel]] this query rides. */
  private def unigramVocabPrune(s: SparkSession, dir: String): DataFrame =
    pruneVerdicts(s, dir).orderBy("piece")

  /** Kept vocabulary after the prune round — the (piece, cost) input of
    * the acceptance re-segmentation ([[unigramPruneEffect]]); shares
    * [[pruneVerdicts]] so there is exactly one copy of the keep rule. */
  private def keptVocab(s: SparkSession, dir: String): DataFrame =
    pruneVerdicts(s, dir).filter(col("keep"))
      .select(col("piece"), col("cost_millibits").as("cost"))

  private def pruneVerdicts(s: SparkSession, dir: String): DataFrame = {
    val vc = vocabRel(s, dir)
    val used = viterbiRel(s, dir)
      .select(explode(split(col("seg"), "·")).as("piece"), col("freq"))
      .groupBy("piece").agg(sum("freq").as("viterbi_count"))
    val base = vc.join(used, Seq("piece"), "left")
      .select(col("piece"),
        length(col("piece")).cast("long").as("piece_len"), col("cost"),
        coalesce(col("viterbi_count"), lit(0L)).as("viterbi_count"))
    val charCosts = vc.filter(length(col("piece")) === 1)
      .select(col("piece").as("ch"), col("cost").as("ch_cost"))
    val chars = base.filter(col("piece_len") > 1)
      .select(col("piece"),
        explode(sequence(lit(1), length(col("piece")))).as("i"))
      .withColumn("ch", col("piece").substr(col("i"), lit(1)))
      .join(broadcast(charCosts), "ch") // alphabet-sized
      .groupBy("piece").agg(sum(col("ch_cost")).as("char_cost"))
    val multi = base.filter(col("piece_len") > 1).join(chars, "piece")
      .withColumn("loss_milli",
        col("viterbi_count") * (col("char_cost") - col("cost")))
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("loss_milli").desc, col("piece")))
        .cast("long"))
      .withColumn("nm",
        count(lit(1)).over(Window.partitionBy()).cast("long"))
      .select(col("piece"), col("piece_len"), col("viterbi_count"),
        col("cost").as("cost_millibits"),
        col("char_cost").as("char_cost_millibits"), col("loss_milli"),
        (col("rk") * 1000L <= col("nm") * (1000L - VocabPruneMille))
          .as("keep"))
    val singles = base.filter(col("piece_len") === 1)
      .select(col("piece"), col("piece_len"), col("viterbi_count"),
        col("cost").as("cost_millibits"),
        lit(null).cast("long").as("char_cost_millibits"),
        lit(null).cast("long").as("loss_milli"), lit(true).as("keep"))
    multi.unionByName(singles)
  }

  /** Prune-acceptance audit — the round-trip evidence the prune kept
    * enough: re-segment the whole word universe with the PRUNED
    * vocabulary (the identical [[viterbiWith]] DP, absent pieces cost
    * [[Sentinel]] exactly like non-vocab slots) and report the corpus
    * totals before/after — vocab size, occurrence-weighted pieces and
    * millibit cost, exact-milli fertility both ways, and the cost
    * regret in per-mille. A small regret at a 20% vocab cut is the
    * accept signal for the EM round; a blown-up fertility means the
    * prune removed load-bearing pieces (on a corpus whose mass sits in
    * few pieces the char-fallback bound is loose — the audit MEASURES
    * rather than assumes).
    *
    * Scale shape: the second Viterbi costs what the first did (the DP
    * over the word universe — the only non-vocabulary-sized stage,
    * session-cached like it); the join is word-keyed at vocabulary
    * grain; output is ONE row of exact integers. */
  private def unigramPruneEffect(s: SparkSession, dir: String): DataFrame = {
    val before = viterbiRel(s, dir)
      .select(col("word"), col("freq"),
        col("n_pieces").as("np_b"), col("cost_millibits").as("c_b"))
    val after = viterbiWith(s, dir, keptVocab(s, dir), "unigramViterbiPruned")
      .select(col("word"), col("n_pieces").as("np_a"),
        col("cost_millibits").as("c_a"))
    val sizes = pruneVerdicts(s, dir).agg(
      count(lit(1)).as("vocab_before"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("vocab_after"))
    before.join(after, "word")
      .agg(count(lit(1)).as("n_distinct_words"),
        sum(col("freq")).as("n_words"),
        sum(col("freq") * col("np_b")).as("pieces_before"),
        sum(col("freq") * col("np_a")).as("pieces_after"),
        sum(col("freq") * col("c_b")).as("cost_before"),
        sum(col("freq") * col("c_a")).as("cost_after"))
      .crossJoin(broadcast(sizes)) // one-row scalar
      .select(col("vocab_before"), col("vocab_after"),
        col("n_distinct_words"), col("n_words"),
        col("pieces_before"), col("pieces_after"),
        expr("(1000 * pieces_before) div n_words").as("fert_before_milli"),
        expr("(1000 * pieces_after) div n_words").as("fert_after_milli"),
        col("cost_before"), col("cost_after"),
        expr("CASE WHEN cost_before > 0 THEN" +
          " (1000 * (cost_after - cost_before)) div cost_before END")
          .as("cost_regret_milli"))
  }

  /** The prune chain's CTEs — one copy of the keep rule, shared by the
    * prune verdict oracle and the acceptance re-segmentation oracle. */
  private def pruneSqlCtes: String =
    s"""used AS (
       |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS viterbi_count
       |  FROM (SELECT UNNEST(string_split(seg, '·')) AS piece, freq FROM vit)
       |  GROUP BY 1),
       |pbase AS (
       |  SELECT vc.piece, CAST(length(vc.piece) AS BIGINT) AS piece_len,
       |    CAST(vc.cost AS BIGINT) AS cost,
       |    COALESCE(used.viterbi_count, 0) AS viterbi_count
       |  FROM vc LEFT JOIN used USING (piece)),
       |chars AS (
       |  SELECT b.piece, CAST(SUM(c.cost) AS BIGINT) AS char_cost
       |  FROM (SELECT piece FROM pbase WHERE piece_len > 1) b,
       |       UNNEST(generate_series(1, length(b.piece))) t(i)
       |  JOIN vc c ON c.piece = substr(b.piece, CAST(i AS INT), 1)
       |  GROUP BY 1),
       |pmulti AS (
       |  SELECT b.*, ch.char_cost,
       |    b.viterbi_count * (ch.char_cost - b.cost) AS loss_milli
       |  FROM pbase b JOIN chars ch USING (piece)
       |  WHERE b.piece_len > 1),
       |ranked AS (
       |  SELECT *,
       |    CAST(row_number() OVER (ORDER BY loss_milli DESC, piece)
       |      AS BIGINT) AS rk,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS nm
       |  FROM pmulti),
       |kept AS (
       |  SELECT piece, cost FROM ranked
       |  WHERE rk * 1000 <= nm * ${1000L - VocabPruneMille}
       |  UNION ALL
       |  SELECT piece, cost FROM pbase WHERE piece_len = 1)""".stripMargin

  private def unigramVocabPruneSql =
    s"""WITH $unigramSqlCtes,
       |$pruneSqlCtes
       |SELECT piece, piece_len, viterbi_count, cost AS cost_millibits,
       |  char_cost AS char_cost_millibits, loss_milli,
       |  rk * 1000 <= nm * ${1000L - VocabPruneMille} AS keep
       |FROM ranked
       |UNION ALL
       |SELECT piece, piece_len, viterbi_count, cost AS cost_millibits,
       |  CAST(NULL AS BIGINT) AS char_cost_millibits,
       |  CAST(NULL AS BIGINT) AS loss_milli, TRUE AS keep
       |FROM pbase WHERE piece_len = 1
       |ORDER BY piece""".stripMargin

  /** Second DP chain over the PRUNED vocabulary (ca2/arr2/dp2/vit2 —
    * the vit chain re-instantiated against `kept`; [[sqlCand]] is the
    * same generated candidate text, so the two folds cannot drift). */
  private def vitPrunedSqlCtes: String =
    s"""ca2 AS (
       |  SELECT word, freq, idx,
       |    CASE WHEN ok THEN COALESCE(kept.cost, $Sentinel)
       |         ELSE $Sentinel END AS cost
       |  FROM (SELECT word, freq, (s - 1) * $MaxPiece + p AS idx,
       |          substr(word, CAST(s AS INT), CAST(p AS INT)) AS piece,
       |          (s + p - 1 <= length(word)) AS ok
       |        FROM wf,
       |             UNNEST(generate_series(1, length(word))) AS ts(s),
       |             UNNEST(generate_series(1, $MaxPiece)) AS tp(p))
       |  LEFT JOIN kept USING (piece)),
       |arr2 AS (
       |  SELECT word, MAX(freq) AS freq, list(cost ORDER BY idx) AS costs
       |  FROM ca2 GROUP BY word),
       |dp2 AS (
       |  SELECT word, freq,
       |    list_reduce(
       |      ['${"0" * 12}0000'] ||
       |        list_transform(generate_series(1, CAST(length(word) AS INT)),
       |          y -> CAST(y AS VARCHAR)),
       |      (acc, x) -> acc || '|' || least(
       |        ${(1 to MaxPiece).map(sqlCand).mkString(",\n        ")})) AS tbl
       |  FROM arr2),
       |vit2 AS (
       |  SELECT word,
       |    CAST(substr(fin, 1, 12) AS BIGINT) AS cost_millibits,
       |    CAST(substr(fin, 13, 4) AS BIGINT) AS n_pieces
       |  FROM (SELECT word,
       |          list_extract(string_split(tbl, '|'),
       |            len(string_split(tbl, '|'))) AS fin
       |        FROM dp2))""".stripMargin

  private def unigramPruneEffectSql =
    s"""WITH $unigramSqlCtes,
       |$pruneSqlCtes,
       |$vitPrunedSqlCtes,
       |sizes AS (
       |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pbase) AS vocab_before,
       |         (SELECT CAST(COUNT(*) AS BIGINT) FROM kept) AS vocab_after)
       |SELECT s.vocab_before, s.vocab_after,
       |  CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
       |  CAST(SUM(b.freq) AS BIGINT) AS n_words,
       |  CAST(SUM(b.freq * b.n_pieces) AS BIGINT) AS pieces_before,
       |  CAST(SUM(b.freq * a.n_pieces) AS BIGINT) AS pieces_after,
       |  (1000 * CAST(SUM(b.freq * b.n_pieces) AS BIGINT))
       |    // CAST(SUM(b.freq) AS BIGINT) AS fert_before_milli,
       |  (1000 * CAST(SUM(b.freq * a.n_pieces) AS BIGINT))
       |    // CAST(SUM(b.freq) AS BIGINT) AS fert_after_milli,
       |  CAST(SUM(b.freq * b.cost_millibits) AS BIGINT) AS cost_before,
       |  CAST(SUM(b.freq * a.cost_millibits) AS BIGINT) AS cost_after,
       |  CASE WHEN SUM(b.freq * b.cost_millibits) > 0 THEN
       |    (1000 * (CAST(SUM(b.freq * a.cost_millibits) AS BIGINT)
       |      - CAST(SUM(b.freq * b.cost_millibits) AS BIGINT)))
       |    // CAST(SUM(b.freq * b.cost_millibits) AS BIGINT)
       |  END AS cost_regret_milli
       |FROM vit b JOIN vit2 a USING (word) CROSS JOIN sizes s
       |GROUP BY s.vocab_before, s.vocab_after""".stripMargin

  // ------------------------------------------------- WordPiece greedy

  /** Greedy longest-match-first fold over `word` — the WordPiece RUNTIME
    * algorithm (the BERT tokenizer's deployed segmenter: at each
    * position take the longest vocabulary piece, advance by its length;
    * training differs, inference is exactly this). State string:
    * nextPos(4) | cost(12) | n_pieces(4) | seg — positions the fold
    * visits mid-piece pass the state through untouched. Shares the
    * [[CostCeil]]/[[NCeil]] saturation and the `·` seg encoding with the
    * Viterbi DP so the two segmenters decode identically. Single-char
    * pieces are always in vocabulary (every corpus char is), so the
    * greedy never needs an UNK branch on this universe. */
  private def greedyFinal(word: Column,
      stepCost: (Column, Int) => Column): Column = {
    val base = "0001" + "0" * 12 + "0000"
    aggregate(sequence(lit(1), length(word)), lit(base), (acc, i) => {
      val nextPos = substring(acc, 1, 4).cast("long")
      val cost = substring(acc, 5, 12).cast("long")
      val n = substring(acc, 17, 4).cast("long")
      val seg = acc.substr(lit(21), length(acc))
      def enc(j: Int): Column = concat(
        lpad((i + lit(j)).cast("string"), 4, "0"),
        lpad(least(cost + stepCost(i, j), lit(CostCeil)).cast("string"),
          12, "0"),
        lpad(least(n + 1, lit(NCeil)).cast("string"), 4, "0"),
        seg, lit("·"), word.substr(i, lit(j)))
      val pick = (MaxPiece to 2 by -1).foldRight(enc(1)) { (j, shorter) =>
        when(i + lit(j) - 1 <= length(word) &&
          stepCost(i, j) < Sentinel, enc(j)).otherwise(shorter)
      }
      when(i =!= nextPos, acc).otherwise(pick)
    })
  }

  /** WordPiece-vs-Viterbi segmenter audit — the third tokenizer family
    * beside BPE and the unigram LM, measured against the optimal
    * segmentation it approximates: both segmenters run over the SAME
    * seed vocabulary and cost table (the shared [[costsArrWith]] dense
    * array — one copy of the slot math), and each of the top-30 corpus
    * words reports its greedy segmentation next to the Viterbi one with
    * `excess_millibits = greedy − viterbi` — provably ≥ 0 (Viterbi is
    * cost-optimal over all segmentations, greedy's included), so the
    * hash-green row pins the optimality theorem cross-engine, and the
    * `greedy_optimal` flags show exactly WHERE longest-match-first pays
    * for its O(len) simplicity. The published trade this audits: BERT's
    * runtime uses greedy for speed; SentencePiece's unigram uses the DP
    * for likelihood — a corpus where excess ≈ 0 everywhere can ship the
    * cheaper segmenter.
    *
    * Scale shape: one fold over the cached per-word cost arrays
    * (vocabulary-universe-sized, never token-scale), a word-keyed join
    * of the two segmenters' outputs, TakeOrdered(30). */
  /** Greedy segmentation relation over an arbitrary vocabulary — the
    * [[greedyFinal]] fold bound to a dense cost array (one copy of the
    * slot math, shared by the audit and [[greedyExcessTotal]]). */
  private def greedyRel(s: SparkSession, dir: String, vcIn: DataFrame,
      cacheKey: String): DataFrame = {
    val arr = costsArrWith(s, dir, vcIn, cacheKey)
    val stepCost = (i: Column, j: Int) =>
      element_at(col("costs"), (i - lit(1)) * lit(MaxPiece) + lit(j))
    arr.withColumn("gfin", greedyFinal(col("word"), stepCost))
      .select(col("word"), col("freq"),
        substring(col("gfin"), 5, 12).cast("long").as("greedy_cost_millibits"),
        substring(col("gfin"), 17, 4).cast("long").as("n_pieces_greedy"),
        ltrim(col("gfin").substr(lit(21), length(col("gfin"))), "·")
          .as("seg_greedy"))
  }

  private def wordpieceGreedyAudit(s: SparkSession, dir: String): DataFrame = {
    val g = greedyRel(s, dir, vocabRel(s, dir), "unigramViterbiArr")
    val v = viterbiRel(s, dir).select(col("word"),
      col("cost_millibits").as("viterbi_cost_millibits"),
      col("n_pieces").as("n_pieces_viterbi"),
      col("seg").as("seg_viterbi"))
    g.join(v, "word")
      .select(col("word"), col("freq"),
        col("n_pieces_greedy"), col("greedy_cost_millibits"),
        col("seg_greedy"),
        col("n_pieces_viterbi"), col("viterbi_cost_millibits"),
        col("seg_viterbi"),
        (col("greedy_cost_millibits") - col("viterbi_cost_millibits"))
          .as("excess_millibits"),
        (col("greedy_cost_millibits") === col("viterbi_cost_millibits"))
          .as("greedy_optimal"))
      .orderBy(col("freq").desc, col("word")).limit(30)
  }

  /** DuckDB twin of [[greedyFinal]]'s longest-first pick ladder —
    * generated from the same j range. */
  private def sqlGreedyLadder: String =
    (MaxPiece to 2 by -1).map(j =>
      s"WHEN $j <= length(word) - pos + 1 AND " +
        s"costs[(pos - 1) * $MaxPiece + $j] < $Sentinel THEN $j")
      .mkString("\n      ") + "\n      ELSE 1 END"

  /** The greedy fold as a RECURSIVE CTE, not a second list_reduce:
    * DuckDB 1.0's executor miscomputes a query whose final sort sits
    * above a join of TWO list_reduce-projected relations (one word's
    * fold result lands on another word's row — observed directly, and
    * independent of AS MATERIALIZED or lambda-variable renaming; the
    * lone Viterbi fold is fine). One piece per recursion step, depth
    * ≤ MaxWordLen, exactly one pos = len + 1 final row per word. */
  private val wordpieceGreedyAuditSql =
    s"""WITH RECURSIVE $unigramSqlCtes,
       |grec AS (
       |  SELECT word, freq, costs, 1 AS pos, CAST(0 AS BIGINT) AS cost,
       |    CAST(0 AS BIGINT) AS n, '' AS seg
       |  FROM arr
       |  UNION ALL
       |  SELECT word, freq, costs, pos + j,
       |    least(cost + costs[(pos - 1) * $MaxPiece + j], $CostCeil),
       |    least(n + 1, $NCeil),
       |    seg || '·' || substr(word, pos, j)
       |  FROM (
       |    SELECT *, CASE
       |      $sqlGreedyLadder AS j
       |    FROM grec WHERE pos <= length(word))),
       |greedy AS (
       |  SELECT word, freq, cost AS greedy_cost_millibits,
       |    n AS n_pieces_greedy, ltrim(seg, '·') AS seg_greedy
       |  FROM grec WHERE pos = length(word) + 1)
       |SELECT g.word, CAST(g.freq AS BIGINT) AS freq,
       |  g.n_pieces_greedy, g.greedy_cost_millibits, g.seg_greedy,
       |  v.n_pieces AS n_pieces_viterbi,
       |  v.cost_millibits AS viterbi_cost_millibits,
       |  v.seg AS seg_viterbi,
       |  g.greedy_cost_millibits - v.cost_millibits AS excess_millibits,
       |  g.greedy_cost_millibits = v.cost_millibits AS greedy_optimal
       |FROM greedy g JOIN vit v USING (word)
       |ORDER BY g.freq DESC, g.word LIMIT 30""".stripMargin

  // ------------------------------------------------- WordPiece trainer

  /** Merge rounds of the WordPiece TRAINER — matches
    * TextOps.bpeMergeRoundsK so the two merge-based trainers are
    * comparable round-for-round. */
  private[queries] val wpTrainK = 8

  /** Integer scale of the likelihood score: score_nano =
    * ⌊10⁹·cnt(ab)/(cnt(a)·cnt(b))⌋. All operands are non-negative, so
    * DuckDB `//` and Spark `div` agree exactly; cnt ≤ corpus tokens keeps
    * cnt·10⁹ far inside BIGINT up to ~9·10⁹-token corpora (beyond that a
    * deployment lowers the scale one decade — the ranking, not the
    * absolute value, is what the argmax consumes). */
  private val wpScoreScale = 1000000000L

  /** WordPiece TRAINING loop (Schuster & Nakajima 2012; the BERT
    * vocabulary builder) — the missing half of the third tokenizer
    * family, next to the runtime segmenter [[wordpieceGreedyAudit]]
    * audits: like BPE it repeatedly merges an adjacent symbol pair, but
    * the pick maximizes the unigram-LM LIKELIHOOD GAIN
    * cnt(ab)/(cnt(a)·cnt(b)) — merging the pair whose joint frequency
    * most exceeds what independent pieces predict — instead of BPE's raw
    * pair count. The two trainers share the merge-fold semantics
    * (leftmost non-overlapping, TextOps.bpeTrained's fold) and differ
    * ONLY in the argmax, which is the published difference between the
    * algorithms.
    *
    * Symbol counts come from ONE padded pair stream per round: pairs over
    * ['^', s₁…sₙ, '$'] give every real symbol occurrence exactly once as
    * a left element (sentinels cannot collide with corpus symbols — the
    * universe is ^[a-z]+$), so pair counts (l≠'^', r≠'$') and symbol
    * counts (group by l≠'^') are two aggregates of the same
    * vocabulary-sized relation — no second corpus scan, no separate
    * symbol-count pass.
    *
    * Scale shape: token-scale work is the shared [[wordFreq]] count (paid
    * once per session); each round runs on |vocab| rows — pad + explode +
    * two hash aggs + a 1-ROW driver argmax (the bounded-scalar class) +
    * map-only fold — with generation-by-generation checkpoint release,
    * exactly the bpeTrained loop discipline. At 100 TB vocab ≪ tokens
    * under any zipfian corpus. */
  private def wpTrained(s: SparkSession, dir: String)
      : (Seq[(Int, String, String, String, Long, Long, Long, Long)],
         DataFrame) =
    Util.cached(s, dir, "wpTrained", "") {
      var vocab = wordFreq(s, dir)
        .select(col("word"), col("freq"),
          array_join(expr("regexp_extract_all(word, '.', 0)"), "·").as("s"))
        .localCheckpoint()
      val merges = scala.collection.mutable.ArrayBuffer
        .empty[(Int, String, String, String, Long, Long, Long, Long)]
      var round = 1
      var exhausted = false
      while (round <= wpTrainK && !exhausted) {
        val syms = split(col("s"), "·")
        val padded = concat(array(lit("^")), syms, array(lit("$")))
        val pp = vocab.select(col("freq"), padded.as("a"))
          .select(col("freq"), col("a"),
            explode(expr("sequence(1, size(a) - 1)")).as("i"))
          .select(element_at(col("a"), col("i")).as("l"),
            element_at(col("a"), col("i") + 1).as("r"), col("freq"))
        val sc = pp.filter(col("l") =!= "^")
          .groupBy(col("l").as("sym")).agg(sum("freq").as("scnt"))
        // the top-1 argmax stays a 1-ROW SUBQUERY instead of a collect:
        // broadcast-cross-joined into the fold, ONE localCheckpoint
        // action per round computes pair stats, argmax and the folded
        // next state together (the round's former two heavy actions —
        // a take(1) over the scored pairs and then the fold checkpoint
        // — each re-ran the pair aggregate's input; guide §2.6). The
        // picked pair's columns ride the checkpointed frame as
        // constants and are read back by a trivial local head().
        val top = pp.filter(col("l") =!= "^" && col("r") =!= "$")
          .groupBy("l", "r").agg(sum("freq").as("cnt"))
          .join(sc.select(col("sym").as("l"), col("scnt").as("lcnt")), "l")
          .join(sc.select(col("sym").as("r"), col("scnt").as("rcnt")), "r")
          .withColumn("score_nano",
            expr(s"(cnt * $wpScoreScale) div (lcnt * rcnt)"))
          .orderBy(col("score_nano").desc, col("l"), col("r"))
          .limit(1)
        // identical fold, with the pair as COLUMNS of the broadcast row
        val folded = aggregate(syms, lit(""), (acc, x) =>
          when(acc === "", x)
            .when((acc === col("l") ||
              acc.endsWith(concat(lit("·"), col("l")))) && x === col("r"),
              concat(acc, x))
            .otherwise(concat(acc, lit("·"), x)))
        val next = vocab.crossJoin(broadcast(top))
          .select(col("word"), col("freq"), folded.as("s"), col("l"),
            col("r"), col("cnt"), col("lcnt"), col("rcnt"),
            col("score_nano"))
          .localCheckpoint()
        val h = next.select("l", "r", "cnt", "lcnt", "rcnt", "score_nano")
          .head(1)
        if (h.isEmpty) { Util.unpersistDeep(next); exhausted = true }
        else {
          val r0 = h(0)
          val (l, r) = (r0.getAs[String]("l"), r0.getAs[String]("r"))
          merges += ((round, l, r, l + r, r0.getAs[Long]("cnt"),
            r0.getAs[Long]("lcnt"), r0.getAs[Long]("rcnt"),
            r0.getAs[Long]("score_nano")))
          Util.unpersistDeep(vocab)
          vocab = next.select("word", "freq", "s")
          round += 1
        }
      }
      (merges.toSeq, vocab)
    }

  /** The trained merge table, one row per round: the pair picked, its
    * joint count, both marginal symbol counts, and the integer likelihood
    * score the argmax ranked — the bpe_merge_rounds shape extended with
    * the quantities WordPiece's criterion actually reads, so a consumer
    * can audit each round's pick against its own recount. */
  private def wordpieceTrainRounds(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    wpTrained(s, dir)._1
      .toDF("round", "left_sym", "right_sym", "merged", "pair_count",
        "left_count", "right_count", "score_nano")
      .orderBy("round")
  }

  /** Unrolled w0 → w8 training chain (the bpeCtes pattern): per round a
    * padded pair stream, its two aggregates, a Top-1 argmax by
    * score_nano, and the same list_reduce merge fold — THE single copy
    * of the oracle's WordPiece training math. */
  private val wpCtes = {
    val w0 =
      s"""w0 AS MATERIALIZED (
         |  SELECT word, freq,
         |    array_to_string(regexp_extract_all(word, '.'), '·') AS s
         |  FROM (SELECT word, COUNT(*) AS freq FROM (
         |          SELECT UNNEST(string_split(text, ' ')) AS word
         |          FROM documents)
         |        WHERE regexp_matches(word, '^[a-z]+$$')
         |          AND length(word) BETWEEN 2 AND $MaxWordLen
         |        GROUP BY word))""".stripMargin
    val rounds = (1 to wpTrainK).map { k =>
      s"""pp$k AS MATERIALIZED (
         |  SELECT syms[i] AS l, syms[i+1] AS r, freq
         |  FROM (SELECT freq, ['^'] || string_split(s, '·') || ['$$'] AS syms
         |        FROM w${k - 1}),
         |       UNNEST(generate_series(1, len(syms) - 1)) AS u(i)),
         |sc$k AS MATERIALIZED (
         |  SELECT l AS sym, CAST(SUM(freq) AS BIGINT) AS scnt
         |  FROM pp$k WHERE l <> '^' GROUP BY 1),
         |t$k AS MATERIALIZED (
         |  SELECT p.l, p.r, p.cnt, a.scnt AS lcnt, b.scnt AS rcnt,
         |    (p.cnt * $wpScoreScale) // (a.scnt * b.scnt) AS score_nano
         |  FROM (SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt
         |        FROM pp$k WHERE l <> '^' AND r <> '$$' GROUP BY 1, 2) p
         |  JOIN sc$k a ON p.l = a.sym JOIN sc$k b ON p.r = b.sym
         |  ORDER BY score_nano DESC, p.l, p.r LIMIT 1),
         |w$k AS MATERIALIZED (
         |  SELECT word, freq,
         |    list_reduce(string_split(s, '·'), (acc, x) ->
         |      CASE WHEN (acc = t$k.l OR ends_with(acc, '·' || t$k.l))
         |                AND x = t$k.r
         |           THEN acc || x ELSE acc || '·' || x END) AS s
         |  FROM w${k - 1} CROSS JOIN t$k)""".stripMargin
    }
    s"""$w0,
       |${rounds.mkString(",\n")}""".stripMargin
  }

  private val wordpieceTrainRoundsSql = {
    val unions = (1 to wpTrainK).map(k =>
      s"""SELECT $k AS round, l AS left_sym, r AS right_sym,
         |  l || r AS merged, CAST(cnt AS BIGINT) AS pair_count,
         |  CAST(lcnt AS BIGINT) AS left_count,
         |  CAST(rcnt AS BIGINT) AS right_count,
         |  CAST(score_nano AS BIGINT) AS score_nano FROM t$k""".stripMargin)
    s"""WITH $wpCtes
       |${unions.mkString("\nUNION ALL\n")}
       |ORDER BY round""".stripMargin
  }

  /** Trainer ROI for the WordPiece family — the bpe_compression
    * acceptance report on the third trainer: the 8 learned merges applied
    * back to the corpus (the trained final state's per-word symbol
    * counts), per source the char-level vs post-merge token counts and
    * the exact-milli savings. Reads: which sources the likelihood-greedy
    * vocab compresses (their pair statistics dominated the argmax) and
    * which stay near char-level (underrepresented — want more rounds or
    * their own merges). The universe is [[wordFreq]]'s (the trainer's
    * own), so the ROI is measured exactly over what was trained on.
    *
    * Scale shape: token-scale work is ONE (source, word) map-side-
    * combining count; symbol counts come from the session-cached trained
    * state joined at vocabulary grain; output is |sources| rows. The
    * float division is the bpe_compression exactness argument: quotient
    * magnitudes sit far inside 2⁵³, so floor(1000.0·x/y) is IEEE-exact
    * and engine-identical. */
  private def wordpieceCompression(s: SparkSession, dir: String)
      : DataFrame = {
    val nsym = wpTrained(s, dir)._2
      .select(col("word"), size(split(col("s"), "·")).cast("long")
        .as("n_sym"))
    val occ = t(s, dir, "documents")
      .select(coalesce(col("source"), lit("")).as("source"),
        explode(split(col("text"), " ")).as("word"))
      .where(wordUniverseFilter(col("word")))
      .groupBy("source", "word").agg(count(lit(1)).as("occ"))
    occ.join(nsym, "word")
      .groupBy("source").agg(
        sum(col("occ")).as("n_words"),
        sum(col("occ") * length(col("word"))).as("n_char_tokens"),
        sum(col("occ") * col("n_sym")).as("n_wp_tokens"))
      .withColumn("saved_milli",
        floor(lit(1000.0) * (col("n_char_tokens") - col("n_wp_tokens")) /
          col("n_char_tokens")).cast("long"))
      .orderBy("source")
  }

  private val wordpieceCompressionSql =
    s"""WITH $wpCtes,
       |nsym AS (SELECT word, len(string_split(s, '·')) AS n_sym FROM w8),
       |occ AS (
       |  SELECT COALESCE(source, '') AS source, word, COUNT(*) AS occ
       |  FROM (SELECT source, UNNEST(string_split(text, ' ')) AS word
       |        FROM documents)
       |  WHERE regexp_matches(word, '^[a-z]+$$')
       |    AND length(word) BETWEEN 2 AND $MaxWordLen
       |  GROUP BY 1, 2)
       |SELECT source,
       |  CAST(SUM(occ) AS BIGINT) AS n_words,
       |  CAST(SUM(occ * length(word)) AS BIGINT) AS n_char_tokens,
       |  CAST(SUM(occ * n_sym) AS BIGINT) AS n_wp_tokens,
       |  CAST(floor(1000.0 * (SUM(occ * length(word)) - SUM(occ * n_sym))
       |       / SUM(occ * length(word))) AS BIGINT) AS saved_milli
       |FROM occ JOIN nsym USING (word)
       |GROUP BY source ORDER BY source""".stripMargin

  /** Trained WordPiece vocabulary as a (piece, cnt, cost) relation — the
    * final training state's symbol counts under the SAME 500·halfbit
    * cost rule as the seed [[vocabRel]], unioned with any initial single
    * chars the merges fused away everywhere (a WordPiece vocab always
    * keeps its base alphabet, so every word stays segmentable without
    * the sentinel fallback). Feeds [[viterbiWith]]/[[costsArrWith]] so
    * the trained vocab runs the IDENTICAL segmenters as the seed vocab —
    * the UnigramOpsSpec pin that training lowers the greedy segmenter's
    * excess rides this relation. Pieces longer than [[MaxPiece]] keep
    * their row but no cost-array slot (the segmenters' dense arrays are
    * MaxPiece-wide) — they price nothing, exactly like any other
    * non-slot piece. */
  private[queries] def wordpieceVocabRel(s: SparkSession, dir: String)
      : DataFrame =
    cachedRelation(s, dir, "wordpieceVocab", "") {
      val counts = wpTrained(s, dir)._2
        .select(explode(split(col("s"), "·")).as("piece"), col("freq"))
        .groupBy("piece").agg(sum("freq").as("cnt"))
      val chars = wordFreq(s, dir)
        .select(explode(expr("regexp_extract_all(word, '.', 0)")).as("piece"),
          col("freq"))
        .groupBy("piece").agg(sum("freq").as("cnt"))
      val vocab = counts.unionByName(
        chars.join(counts, Seq("piece"), "left_anti"))
      val tot = vocab.agg(sum("cnt").as("ntot"))
      vocab.crossJoin(broadcast(tot)) // scalar broadcast
        .select(col("piece"), col("cnt"),
          (lit(500L) * (halfBits(col("ntot")) - halfBits(col("cnt"))))
            .as("cost"))
    }

  /** Greedy-vs-Viterbi freq-weighted excess totals over an arbitrary
    * vocabulary — the [[wordpieceGreedyAudit]] comparison collapsed to
    * one row, parameterized on the cost source so UnigramOpsSpec can pin
    * trained-vocab excess ≤ seed-vocab excess on identical machinery. */
  private[queries] def greedyExcessTotal(s: SparkSession, dir: String,
      vcIn: DataFrame, cacheKey: String): (Long, Long) = {
    val g = greedyRel(s, dir, vcIn, cacheKey + "Arr")
    val v = viterbiWith(s, dir, vcIn, cacheKey)
      .select(col("word"), col("cost_millibits"))
    val r = g.join(v, "word")
      .agg(sum(col("freq") *
          (col("greedy_cost_millibits") - col("cost_millibits")))
          .as("excess"),
        sum(when(col("greedy_cost_millibits") =!= col("cost_millibits"),
          lit(1L)).otherwise(lit(0L))).as("n_suboptimal"))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  def all: Seq[Q] = Seq(
    Q("wordpiece_train_rounds", wordpieceTrainRounds,
      Some(wordpieceTrainRoundsSql)),
    Q("wordpiece_compression", wordpieceCompression,
      Some(wordpieceCompressionSql)),
    Q("wordpiece_greedy_audit", wordpieceGreedyAudit,
      Some(wordpieceGreedyAuditSql)),
    Q("unigram_lm_step", unigramLmStep, Some(unigramLmStepSql)),
    Q("unigram_segment_words", unigramSegmentWords,
      Some(unigramSegmentWordsSql)),
    Q("tokenizer_fertility", tokenizerFertility,
      Some(tokenizerFertilitySql)),
    Q("unigram_vocab_prune", unigramVocabPrune,
      Some(unigramVocabPruneSql)),
    Q("unigram_prune_effect", unigramPruneEffect,
      Some(unigramPruneEffectSql)))
}
