package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Util._

/** Text-analysis operators for a training-data pipeline over `documents`:
  * token counting, quality scoring, heuristic language ID, fingerprinting.
  *
  * All scores are exact-integer (counts, milli-ratios via a single double
  * divide + floor — bit-deterministic in both engines). Every operator is a
  * narrow per-row projection + optional aggregation: embarrassingly parallel,
  * no shuffle except final ordering — the shape that scales to 100 TB of
  * documents (scan → codegen'd projection → write).
  */
object TextOps {

  private def words(c: Column): Column = split(c, " ")

  /** floor(1000 * a / b) with a single double division (IEEE-identical in
    * Spark and DuckDB). */
  private def milli(a: Column, b: Column): Column =
    floor(lit(1000.0) * a / b).cast("long")

  /** Token counting: whitespace tokens, alphabetic tokens, distinct tokens,
    * chars per token. */
  private def textTokens(s: SparkSession, dir: String): DataFrame = {
    val w = words(col("text"))
    t(s, dir, "documents").select(
      col("doc_id"),
      size(w).as("n_tokens"),
      size(filter(w, x => x.rlike("^[a-z]+$"))).as("n_alpha_tokens"),
      size(array_distinct(w)).as("n_distinct_tokens"),
      // BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation
      size(regexp_extract_all(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0)))
        .as("n_bpe_ish_tokens"),
      length(col("text")).as("n_chars_obs"),
      milli(length(col("text")), size(w)).as("chars_per_token_milli"))
      .orderBy("doc_id")
  }

  private val textTokensSql =
    """SELECT doc_id,
      |  CAST(len(string_split(text,' ')) AS INT) AS n_tokens,
      |  CAST(len(list_filter(string_split(text,' '), x -> regexp_matches(x,'^[a-z]+$'))) AS INT) AS n_alpha_tokens,
      |  CAST(len(list_distinct(string_split(text,' '))) AS INT) AS n_distinct_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INT) AS n_bpe_ish_tokens,
      |  CAST(length(text) AS INT) AS n_chars_obs,
      |  CAST(floor(1000.0*length(text)/len(string_split(text,' '))) AS BIGINT) AS chars_per_token_milli
      |FROM documents ORDER BY doc_id""".stripMargin

  private val stopEn = Seq("the", "a", "of", "and", "to", "in", "is", "it",
    "for", "on")

  /** Quality scoring: length/punctuation/stopword/uppercase signals plus a
    * keep/drop gate — the standard pre-training corpus filters. */
  private def textQuality(s: SparkSession, dir: String): DataFrame = {
    val w = words(col("text"))
    val nWords = size(w)
    val nStop = size(filter(w, x => x.isin(stopEn: _*)))
    val nPunct = length(col("text")) -
      length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""))
    val nUpper = length(col("text")) -
      length(regexp_replace(col("text"), "[A-Z]", ""))
    val stopMilli = milli(nStop, nWords)
    t(s, dir, "documents").select(
      col("doc_id"),
      nWords.as("n_words"),
      nStop.as("n_stopwords"),
      nPunct.as("n_punct"),
      nUpper.as("n_upper"),
      stopMilli.as("stop_ratio_milli"),
      (nWords.between(5, 2000) && stopMilli >= 10).as("keep"))
      .orderBy("doc_id")
  }

  private val textQualitySql = {
    val stopList = stopEn.map(sw => s"'$sw'").mkString(", ")
    s"""SELECT doc_id,
       |  CAST(len(string_split(text,' ')) AS INT) AS n_words,
       |  CAST(len(list_filter(string_split(text,' '), x -> x IN ($stopList))) AS INT) AS n_stopwords,
       |  CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS INT) AS n_punct,
       |  CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS INT) AS n_upper,
       |  CAST(floor(1000.0*len(list_filter(string_split(text,' '), x -> x IN ($stopList)))/len(string_split(text,' '))) AS BIGINT) AS stop_ratio_milli,
       |  (len(string_split(text,' ')) BETWEEN 5 AND 2000
       |   AND floor(1000.0*len(list_filter(string_split(text,' '), x -> x IN ($stopList)))/len(string_split(text,' '))) >= 10) AS keep
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Adaptive quality cutoff: the fixed thresholds of [[textQuality]]
    * (5–2000 words, stop ratio ≥ 10‰) are corpus-blind — the right cut for
    * web crawl is wrong for code or chat transcripts. This derives each
    * SOURCE's thresholds from its own score distribution: trim the bottom
    * decile by stopword ratio and the top decile by length, i.e. keep docs
    * with stop_ratio_milli ≥ the source's P10 value and n_words ≤ its P90
    * value — the per-domain percentile filter tuning step a real corpus
    * pipeline runs before committing a quality gate.
    *
    * Determinism: discrete percentiles only — the cutoff is the VALUE AT
    * RANK ceil(n/10) (resp. ceil(9n/10)) in each source's sort, computed
    * with integer rank arithmetic ((n+9) div 10, never 0.1·n in floating
    * point, where ceil(50·0.1) is already engine-UB), so ties in the score
    * dimension cannot change the selected value and both engines pick the
    * identical cutoff. Interpolating percentile_cont/approx_percentile
    * would be float-order-sensitive (or non-deterministic outright).
    *
    * Scale shape: one shuffle on source, two sorts inside the same hash
    * partitioning (both windows share it), cutoffs broadcast back per
    * partition via a window max — no second pass over the corpus and no
    * driver collect. Skewed sources sort in parallel by range within the
    * partition; at 100 TB the unit becomes (source, shard) exactly like
    * pack_token_shards. */
  private def adaptiveQualityCutoff(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = words(col("text"))
    val nWords = size(w)
    val nStop = size(filter(w, x => x.isin(stopEn: _*)))
    val scored = t(s, dir, "documents").select(
      col("doc_id"),
      coalesce(col("source"), lit("")).as("source"),
      nWords.cast("long").as("n_words"),
      milli(nStop, nWords).as("stop_ratio_milli"))
    val wSrc = Window.partitionBy(col("source"))
    // NULLS LAST explicitly: a NULL-text doc has NULL scores, and Spark's
    // ASC default is nulls FIRST while DuckDB's is nulls LAST — left
    // implicit, one NULL doc shifts every rank and the engines pick
    // different cutoff values (the fuzz-gate divergence class)
    val byStop = Window.partitionBy(col("source"))
      .orderBy(col("stop_ratio_milli").asc_nulls_last, col("doc_id"))
    val byLen = Window.partitionBy(col("source"))
      .orderBy(col("n_words").asc_nulls_last, col("doc_id"))
    scored
      // rank positions over the NON-NULL-scored docs per dimension
      // (count(col) skips NULLs): with NULLS LAST, ranks 1..n_nonnull are
      // exactly the scored docs, so the selected cutoff value can never be
      // NULL while any scored doc exists — a NULL-text-heavy source used to
      // lose its whole verdict column when ceil(9n/10) landed in the NULL
      // tail. An all-NULL source still yields NULL cutoffs (pos = 0 matches
      // no rank): there is genuinely nothing to calibrate on.
      .withColumn("n_stop_src", count(col("stop_ratio_milli")).over(wSrc))
      .withColumn("n_len_src", count(col("n_words")).over(wSrc))
      // integer ceil(n/10) / ceil(9n/10); `div`, never `/` (double) — and
      // `div` vs DuckDB `//` agree here because operands are positive
      .withColumn("pos_lo", expr("(n_stop_src + 9) div 10"))
      .withColumn("pos_hi", expr("(n_len_src * 9 + 9) div 10"))
      .withColumn("rn_stop", row_number().over(byStop))
      .withColumn("rn_len", row_number().over(byLen))
      .withColumn("stop_cutoff",
        max(when(col("rn_stop") === col("pos_lo"), col("stop_ratio_milli")))
          .over(wSrc))
      .withColumn("words_cap",
        max(when(col("rn_len") === col("pos_hi"), col("n_words"))).over(wSrc))
      .select(col("doc_id"), col("source"), col("n_words"),
        col("stop_ratio_milli"), col("stop_cutoff"), col("words_cap"),
        (col("stop_ratio_milli") >= col("stop_cutoff") &&
          col("n_words") <= col("words_cap")).as("keep_adaptive"))
      .orderBy("doc_id")
  }

  private val adaptiveQualityCutoffSql = {
    val stopList = stopEn.map(sw => s"'$sw'").mkString(", ")
    s"""WITH scored AS (
       |  SELECT doc_id, COALESCE(source, '') AS source,
       |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_words,
       |    CAST(floor(1000.0*len(list_filter(string_split(text,' '),
       |      x -> x IN ($stopList)))/len(string_split(text,' '))) AS BIGINT)
       |      AS stop_ratio_milli
       |  FROM documents),
       |ranked AS (
       |  SELECT *,
       |    COUNT(stop_ratio_milli) OVER (PARTITION BY source) AS n_stop_src,
       |    COUNT(n_words) OVER (PARTITION BY source) AS n_len_src,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |                       ORDER BY stop_ratio_milli NULLS LAST, doc_id) AS rn_stop,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |                       ORDER BY n_words NULLS LAST, doc_id) AS rn_len
       |  FROM scored),
       |cut AS (
       |  SELECT *,
       |    MAX(CASE WHEN rn_stop = (n_stop_src + 9) // 10
       |             THEN stop_ratio_milli END)
       |      OVER (PARTITION BY source) AS stop_cutoff,
       |    MAX(CASE WHEN rn_len = (n_len_src * 9 + 9) // 10
       |             THEN n_words END)
       |      OVER (PARTITION BY source) AS words_cap
       |  FROM ranked)
       |SELECT doc_id, source, n_words, stop_ratio_milli, stop_cutoff,
       |  words_cap,
       |  (stop_ratio_milli >= stop_cutoff AND n_words <= words_cap)
       |    AS keep_adaptive
       |FROM cut ORDER BY doc_id""".stripMargin
  }

  /** Marker-stopword lists per language (tiny, deterministic heuristic). */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein"),
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "dans"))

  /** Per-language marker-hit counts over a word array, in [[langMarkers]]
    * order — THE single definition of the language scores (three operators
    * consume it; a tweak here changes all of them in lockstep). */
  private def langScores(w: Column): Seq[(String, Column)] =
    langMarkers.map { case (lang, ms) =>
      lang -> size(filter(w, x => x.isin(ms: _*)))
    }

  /** Deterministic argmax language (ties break alphabetically). */
  private def langPred(scores: Seq[(String, Column)]): Column = {
    val Seq(de, en, es, fr) = scores.map(_._2)
    when(de >= en && de >= es && de >= fr, "de")
      .when(en >= es && en >= fr, "en")
      .when(es >= fr, "es")
      .otherwise("fr")
  }

  /** SQL twins of [[langScores]] / [[langPred]]. */
  private def langScoresSql: Seq[String] = langMarkers.map { case (_, ms) =>
    s"len(list_filter(string_split(text,' '), x -> x IN (${ms.map(m => s"'$m'").mkString(",")})))"
  }
  private def langPredSql: String = {
    val Seq(de, en, es, fr) = langScoresSql
    s"""CASE WHEN $de >= $en AND $de >= $es AND $de >= $fr THEN 'de'
       |       WHEN $en >= $es AND $en >= $fr THEN 'en'
       |       WHEN $es >= $fr THEN 'es' ELSE 'fr' END""".stripMargin
  }

  /** Heuristic language ID: score = marker-word hits per language; argmax
    * with alphabetical tiebreak. (A real system uses char n-gram models;
    * the Spark shape — one codegen'd projection — is identical.) */
  private def textLangid(s: SparkSession, dir: String): DataFrame = {
    val scores = langScores(words(col("text")))
    t(s, dir, "documents").select(
      Seq(col("doc_id")) ++
        scores.map { case (l, c) => c.as(s"score_$l") } ++
        Seq(langPred(scores).as("lang_pred"), col("lang").as("lang_label")): _*)
      .orderBy("doc_id")
  }

  private val textLangidSql = {
    val Seq(de, en, es, fr) = langScoresSql
    s"""SELECT doc_id,
       |  CAST($de AS INT) AS score_de, CAST($en AS INT) AS score_en,
       |  CAST($es AS INT) AS score_es, CAST($fr AS INT) AS score_fr,
       |  $langPredSql AS lang_pred,
       |  lang AS lang_label
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Document fingerprinting: whitespace-normalized md5, head-of-doc md5
    * (first 8 tokens), length bucket. */
  private def docFingerprint(s: SparkSession, dir: String): DataFrame = {
    // materialize the normalized text once (the regex is the hot part)
    val normed = t(s, dir, "documents").select(col("doc_id"),
      lower(trim(regexp_replace(col("text"), "\\s+", " "))).as("norm"))
    val head8 = array_join(slice(split(col("norm"), " "), 1, 8), " ")
    normed.select(
      col("doc_id"),
      md5(col("norm")).as("fp_full"),
      md5(head8).as("fp_head8"),
      (length(col("norm")).cast("long") / 100).cast("long").as("len_bucket"))
      .orderBy("doc_id")
  }

  private val docFingerprintSql =
    """SELECT doc_id,
      |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp_full,
      |  md5(array_to_string(list_slice(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),' '), 1, 8), ' ')) AS fp_head8,
      |  CAST(length(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) // 100 AS BIGINT) AS len_bucket
      |FROM documents ORDER BY doc_id""".stripMargin

  val winnowK = 3 // words per gram
  val winnowW = 4 // grams per window

  /** Word k-gram rows (doc_id, pos, n_words, gram), assembled relationally
    * — posexplode single words, then lead(word, 1..k-1) over (doc_id, pos)
    * — instead of a `transform` higher-order lambda, which evaluates
    * interpreted per element (millions of interpreter round trips at
    * sf0.1; HOFs don't participate in whole-stage codegen). Only full
    * k-grams survive (pos ≤ n_words − k). Shared by winnowing and
    * boilerplate detection — one definition of "gram". */
  private def wordGrams(d: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id"))
    val ord = byDoc.orderBy(col("pos"))
    d.select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w0")))
      .withColumn("n_words", count(lit(1)).over(byDoc))
      .withColumn("gram", concat_ws(" ",
        (col("w0") +: (1 until k).map(i => lead(col("w0"), i).over(ord))): _*))
      .filter(col("pos") <= col("n_words") - k)
  }

  /** Winnowing document fingerprints (the MOSS scheme): hash every k-word
    * gram, slide a w-gram window, keep each window's minimal hash (position
    * tiebreak) — guarantees any shared run of ≥ k+w−1 words between two
    * docs shares a fingerprint, with ~2/(w+1) selection density.
    * All narrow or hash-keyed — 100 TB-safe. */
  private def docWinnowFingerprints(s: SparkSession, dir: String): DataFrame = {
    // Sliding-frame formulation: each window's min is a frame aggregate
    // over [pos, pos+w-1] — ONE hash-partition on doc_id and a sort, no
    // gram-row multiplication (the explode-into-windows variant shuffled
    // w× the rows through two extra exchanges). Gram assembly rides the
    // same sort (see wordGrams).
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id"))
    val frame = byDoc.orderBy(col("pos")).rowsBetween(0, winnowW - 1)
    wordGrams(t(s, dir, "documents"), winnowK)
      .withColumn("h", md5(col("gram")))
      .withColumn("n_grams", col("n_words") - (winnowK - 1))
      .withColumn("m", min(struct(col("h"), col("pos"))).over(frame))
      .filter(col("pos") <= col("n_grams") - winnowW) // full windows only
      .select(col("doc_id"), col("m.pos").as("pos"), col("m.h").as("fp"))
      .distinct()
      .orderBy("doc_id", "pos")
  }

  private val docWinnowFingerprintsSql =
    s"""WITH g AS (
       |  SELECT doc_id, CAST(i AS INT) AS pos, md5(w[i+1]||' '||w[i+2]||' '||w[i+3]) AS h
       |  FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |       UNNEST(range(greatest(len(w)-${winnowK - 1}, 0))) t(i)),
       |counts AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY 1),
       |windowed AS (
       |  SELECT g.doc_id, g.h, g.pos, CAST(ws AS INT) AS wstart
       |  FROM g JOIN counts USING (doc_id),
       |       UNNEST(range(greatest(0, g.pos - ${winnowW - 1}),
       |                    least(counts.n_grams - $winnowW, g.pos) + 1)) t(ws)
       |  WHERE counts.n_grams >= $winnowW),
       |mins AS (
       |  SELECT doc_id, wstart, MIN(struct_pack(h := h, pos := pos)) AS m
       |  FROM windowed GROUP BY doc_id, wstart)
       |SELECT DISTINCT doc_id, m.pos AS pos, m.h AS fp
       |FROM mins ORDER BY doc_id, pos""".stripMargin

  /** TF-IDF top-3 terms per document, in exact integer arithmetic: the IDF
    * is the rational (N·10^6) div df instead of a logarithm — log/ln are
    * transcendental and their last-ulp behavior is libm-specific, while
    * integer division is exact in every engine. Same ordering as log-IDF
    * for ranking within a document when tf is equal (both monotone
    * decreasing in df); score = tf · idf_rational.
    *
    * Scale shape: tokenize (narrow explode) → tf hash-agg keyed (doc, word)
    * → df hash-agg keyed word → broadcast scalar N → per-doc top-k window.
    * The df join is the only wide shuffle and its key (word) is
    * high-cardinality; skew from stopwords is bounded because df rows are
    * one per word after aggregation. */
  /** The (doc_id, word, tf) term-frequency relation, persisted once per
    * (session, dir) — the shared base of the lexical-retrieval family:
    * tfidf_topk, bm25_topk and rrf_hybrid_topk (via [[bm25Ranked]]) each
    * reference it up to four times (tf / df / dl / query-term subtrees),
    * and Catalyst does not dedupe identical DataFrame subplans — uncached,
    * every reference re-scans and re-aggregates the token explosion (the
    * quantizedBase lesson, lexical side). Derived doc length dl = Σ tf is
    * computed FROM this relation, never from a second corpus scan. */
  private[queries] def tfRelation(s: SparkSession, dir: String): DataFrame =
    Util.cachedRelation(s, dir, "tfRelation", "") {
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(filter(words(col("text")), x => x =!= "")).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    }

  private def tfidfTopk(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = t(s, dir, "documents")
    val n = d.agg(count(lit(1)).as("n_docs"))
    val tf = tfRelation(s, dir)
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val win = Window.partitionBy("doc_id").orderBy(col("score").desc, col("word"))
    tf.join(df, "word")
      .crossJoin(broadcast(n))
      .withColumn("score", expr("tf * ((n_docs * 1000000) div df)"))
      .withColumn("rk", row_number().over(win))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("word"), col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rk")
  }

  private val tfidfTopkSql =
    """WITH w AS (
      |  SELECT doc_id, w AS word
      |  FROM documents, UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) t(w)),
      |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
      |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.word, tf.tf, df.df,
      |    tf.tf * ((n.n_docs * 1000000) // df.df) AS score
      |  FROM tf JOIN df ON tf.word = df.word CROSS JOIN n)
      |SELECT doc_id, rk, word, tf, df, score FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
      |    ORDER BY score DESC, word) AS INT) AS rk FROM scored)
      |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** The composed training-corpus cleaning pipeline — quality gate →
    * language gate → exact-dedup canonicalization — as ONE query: every
    * document gets a final status (kept / quality / lang / duplicate), the
    * shape a 100 TB corpus run needs (one pass computing all gate signals
    * in a single codegen'd projection, one hash-agg for canonical ids, one
    * join back; no per-gate rescans of the corpus). */
  private def corpusClean(s: SparkSession, dir: String): DataFrame = {
    val w = words(col("text"))
    val nWords = size(w)
    val nStop = size(filter(w, x => x.isin(stopEn: _*)))
    val stopMilli = milli(nStop, nWords)
    val pred = langPred(langScores(w))
    val g = t(s, dir, "documents").select(
      col("doc_id"),
      nWords.as("n_words"),
      pred.as("lang_pred"),
      (nWords.between(5, 2000) && stopMilli >= 10).as("q_keep"),
      md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("fp"))
    val elig = g.filter(col("q_keep") && col("lang_pred") === "en")
      .select(col("doc_id").as("e_id"), col("fp").as("e_fp"))
    val canon = elig.groupBy(col("e_fp")).agg(min(col("e_id")).as("canonical"))
    g.join(elig, g("doc_id") === elig("e_id"), "left")
      .join(canon, elig("e_fp") === canon("e_fp"), "left")
      .select(g("doc_id"), col("lang_pred"), col("n_words"),
        when(!col("q_keep"), "quality")
          .when(col("lang_pred") =!= "en", "lang")
          .when(g("doc_id") =!= col("canonical"), "duplicate")
          .otherwise("kept").as("status"))
      .orderBy("doc_id")
  }

  private val corpusCleanSql = {
    val stopList = stopEn.map(sw => s"'$sw'").mkString(", ")
    s"""WITH g AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text,' ')) AS INT) AS n_words,
       |    $langPredSql AS lang_pred,
       |    (len(string_split(text,' ')) BETWEEN 5 AND 2000
       |     AND floor(1000.0*len(list_filter(string_split(text,' '), x -> x IN ($stopList)))/len(string_split(text,' '))) >= 10) AS q_keep,
       |    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
       |  FROM documents),
       |elig AS (SELECT doc_id AS e_id, fp AS e_fp FROM g WHERE q_keep AND lang_pred = 'en'),
       |canon AS (SELECT e_fp, MIN(e_id) AS canonical FROM elig GROUP BY e_fp)
       |SELECT g.doc_id, g.lang_pred, g.n_words,
       |  CASE WHEN NOT g.q_keep THEN 'quality'
       |       WHEN g.lang_pred <> 'en' THEN 'lang'
       |       WHEN g.doc_id <> c.canonical THEN 'duplicate'
       |       ELSE 'kept' END AS status
       |FROM g LEFT JOIN elig e ON e.e_id = g.doc_id
       |LEFT JOIN canon c ON c.e_fp = e.e_fp
       |ORDER BY doc_id""".stripMargin
  }

  /** Quality scoring against the PREDICTED language's stopword list — the
    * multilingual refinement of text_quality: a French document scored
    * against English stopwords looks spuriously low-quality; scoring
    * against its own language's markers fixes the gate. One codegen'd
    * projection computing all four language scores, the argmax, and the
    * ratio against the winning list. */
  private def textQualityPerlang(s: SparkSession, dir: String): DataFrame = {
    val w = words(col("text"))
    val nWords = size(w)
    val scores = langScores(w)
    val Seq(de, en, es, fr) = scores.map(_._2)
    val pred = langPred(scores)
    val predHits = when(pred === "de", de).when(pred === "en", en)
      .when(pred === "es", es).otherwise(fr)
    val stopMilli = milli(predHits, nWords)
    t(s, dir, "documents").select(
      col("doc_id"),
      pred.as("lang_pred"),
      nWords.as("n_words"),
      predHits.as("n_stop_pred"),
      stopMilli.as("stop_milli_pred"),
      (nWords.between(5, 2000) && stopMilli >= 10).as("keep"))
      .orderBy("doc_id")
  }

  private val textQualityPerlangSql = {
    val Seq(de, en, es, fr) = langScoresSql
    val pred = langPredSql
    val predHits = s"""CASE ($pred) WHEN 'de' THEN $de WHEN 'en' THEN $en
                      |  WHEN 'es' THEN $es ELSE $fr END""".stripMargin
    s"""SELECT doc_id,
       |  $pred AS lang_pred,
       |  CAST(len(string_split(text,' ')) AS INT) AS n_words,
       |  CAST($predHits AS INT) AS n_stop_pred,
       |  CAST(floor(1000.0*($predHits)/len(string_split(text,' '))) AS BIGINT) AS stop_milli_pred,
       |  (len(string_split(text,' ')) BETWEEN 5 AND 2000
       |   AND floor(1000.0*($predHits)/len(string_split(text,' '))) >= 10) AS keep
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Boilerplate detection (C4-style): the fraction of a document's
    * distinct word trigrams that occur in ≥ 5 % of all documents — high
    * ratios mark templated/boilerplate text. Trigrams are assembled with
    * the same codegen-friendly lead() pattern as winnowing (no interpreted
    * HOF); document frequency is one hash-agg on the trigram; the 5 %
    * threshold is exact integer arithmetic (df · 20 ≥ N). */
  private def textBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val tri = wordGrams(d, 3).select(col("doc_id"), col("gram")).distinct()
    val dfCnt = tri.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    // docs with < 3 words have no gram rows and are absent from the output
    // (both engines); within a group n_tri >= 1 always, so the ratio needs
    // no zero guard
    tri.join(dfCnt, "gram")
      .crossJoin(broadcast(nDocs))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tri"),
        sum(when(col("df") * 20 >= col("n_docs"), 1L).otherwise(0L)).as("n_boiler"))
      .select(col("doc_id"), col("n_tri"), col("n_boiler"),
        milli(col("n_boiler"), col("n_tri")).as("boiler_milli"))
      .orderBy("doc_id")
  }

  private val textBoilerplateSql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tri AS (
      |  SELECT DISTINCT doc_id, ws[i+1]||' '||ws[i+2]||' '||ws[i+3] AS gram
      |  FROM w, UNNEST(range(greatest(len(ws)-2, 0))) t(i)),
      |dfc AS (SELECT gram, COUNT(*) AS df FROM tri GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT doc_id, COUNT(*) AS n_tri,
      |  CAST(SUM(CASE WHEN df * 20 >= n_docs THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
      |  CAST(floor(1000.0 * SUM(CASE WHEN df * 20 >= n_docs THEN 1 ELSE 0 END) / COUNT(*)) AS BIGINT) AS boiler_milli
      |FROM tri JOIN dfc USING (gram) CROSS JOIN n
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Gopher-style repetition filters (Rae et al. 2021 §A1.1, public):
    * documents dominated by a repeated phrase are low-quality training
    * data. Per doc: the token share of the single most frequent word
    * 2-gram, and the token share covered by 3-grams occurring more than
    * once (overlaps counted — the signal is deliberately monotone in
    * repetition, so it may exceed 1000 milli on degenerate docs).
    *
    * Scale shape: both gram sizes assemble from ONE posexplode + one
    * per-doc sort (lead() windows, same trick as winnowing — no
    * interpreted HOF, no per-gram-size rescans), then a (doc, k, gram)
    * hash-agg and a (doc) hash-agg, both map-side combining. The widest
    * key is (doc_id, gram) — high-cardinality, skew-free. */
  private def textRepetition(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id"))
    val ord = byDoc.orderBy(col("pos"))
    val d = t(s, dir, "documents").filter(col("text").isNotNull)
    val grams = d
      .select(col("doc_id"), posexplode(words(col("text"))).as(Seq("pos", "w0")))
      .withColumn("n_words", count(lit(1)).over(byDoc))
      .withColumn("w1", lead(col("w0"), 1).over(ord))
      .withColumn("w2", lead(col("w0"), 2).over(ord))
      .select(col("doc_id"), col("pos"), col("n_words"), explode(array(
        struct(lit(2).as("k"), concat_ws(" ", col("w0"), col("w1")).as("gram")),
        struct(lit(3).as("k"),
          concat_ws(" ", col("w0"), col("w1"), col("w2")).as("gram")))).as("g"))
      .filter(col("pos") <= col("n_words") - col("g.k"))
      .select(col("doc_id"), col("g.k").as("k"), col("g.gram").as("gram"))
    val cnts = grams.groupBy("doc_id", "k", "gram").agg(count(lit(1)).as("cnt"))
    val aggs = cnts.groupBy("doc_id").agg(
      max(when(col("k") === 2, col("cnt"))).as("top2_raw"),
      sum(when(col("k") === 3 && col("cnt") > 1, col("cnt") * 3)).as("dup3_raw"))
    // join back to the doc base so gram-less docs (< 2 words) are still
    // reported — the oracle's LEFT JOIN shape, kept identical here
    d.select(col("doc_id"), size(words(col("text"))).cast("int").as("n_tokens"))
      .join(aggs, Seq("doc_id"), "left")
      .withColumn("top2_cnt", coalesce(col("top2_raw"), lit(0L)))
      .withColumn("dup3_tokens", coalesce(col("dup3_raw"), lit(0L)))
      .withColumn("top2gram_milli", milli(lit(2) * col("top2_cnt"), col("n_tokens")))
      .withColumn("dup3gram_milli", milli(col("dup3_tokens"), col("n_tokens")))
      // the Gopher cut points: most-common-2-gram share ≤ 0.20, duplicated
      // 3-gram coverage ≤ 0.18 (paper thresholds, in milli)
      .withColumn("keep",
        col("top2gram_milli") <= 200 && col("dup3gram_milli") <= 180)
      .select("doc_id", "n_tokens", "top2_cnt", "top2gram_milli",
        "dup3_tokens", "dup3gram_milli", "keep")
      .orderBy("doc_id")
  }

  private val textRepetitionSql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |           WHERE text IS NOT NULL),
      |g2 AS (SELECT doc_id, w[i+1] || ' ' || w[i+2] AS gram
      |       FROM d, UNNEST(range(greatest(len(w)-1, 0))) t(i)),
      |g3 AS (SELECT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS gram
      |       FROM d, UNNEST(range(greatest(len(w)-2, 0))) t(i)),
      |c2 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2),
      |c3 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g3 GROUP BY 1, 2),
      |a2 AS (SELECT doc_id, MAX(cnt) AS top2_cnt FROM c2 GROUP BY 1),
      |a3 AS (SELECT doc_id,
      |         CAST(COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt * 3 END), 0) AS BIGINT)
      |           AS dup3_tokens
      |       FROM c3 GROUP BY 1),
      |n AS (SELECT doc_id, len(w) AS n_tokens FROM d)
      |SELECT n.doc_id, CAST(n.n_tokens AS INT) AS n_tokens,
      |  COALESCE(a2.top2_cnt, 0) AS top2_cnt,
      |  CAST(floor(1000.0 * 2 * COALESCE(a2.top2_cnt, 0) / n.n_tokens) AS BIGINT)
      |    AS top2gram_milli,
      |  COALESCE(a3.dup3_tokens, 0) AS dup3_tokens,
      |  CAST(floor(1000.0 * COALESCE(a3.dup3_tokens, 0) / n.n_tokens) AS BIGINT)
      |    AS dup3gram_milli,
      |  CAST(floor(1000.0 * 2 * COALESCE(a2.top2_cnt, 0) / n.n_tokens) AS BIGINT) <= 200
      |    AND CAST(floor(1000.0 * COALESCE(a3.dup3_tokens, 0) / n.n_tokens) AS BIGINT) <= 180
      |    AS keep
      |FROM n LEFT JOIN a2 ON n.doc_id = a2.doc_id
      |       LEFT JOIN a3 ON n.doc_id = a3.doc_id
      |ORDER BY n.doc_id""".stripMargin

  /** Out-of-vocabulary rate per document against the corpus TOP-20
    * vocabulary (rank by count desc, word asc — fully deterministic): the
    * Gopher-style "fraction of words outside the common vocabulary"
    * quality signal, plus a type-token ratio (distinct/total words,
    * milli) — both integer-exact, so the twins hash-match.
    *
    * Scale shape: the vocabulary is ONE map-side-combining token
    * aggregate + a bounded TakeOrdered (top-20), collapsed to a single
    * array row and attached to every doc as a BROADCAST single-row cross
    * join; the per-doc OOV count is then a ROW-LOCAL array filter on the
    * codegen'd path — the corpus never explodes into a token shuffle for
    * scoring. At a real deployment's 10⁵-word vocabulary the same plan
    * holds (a 1 MB broadcast array); only `vocabK` changes. */
  private def oovRate(s: SparkSession, dir: String): DataFrame = {
    val vocabK = 20
    val vocab = t(s, dir, "documents").filter(col("text").isNotNull)
      .select(explode(words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w"))
      .limit(vocabK)
      .agg(collect_set(col("w")).as("vocab"))
    val w = words(col("text"))
    t(s, dir, "documents").filter(col("text").isNotNull)
      .crossJoin(broadcast(vocab))
      .select(
        col("doc_id"),
        size(w).as("n_words"),
        size(filter(w, x => !array_contains(col("vocab"), x))).as("n_oov"),
        size(array_distinct(w)).as("n_types"))
      .select(col("doc_id"), col("n_words"), col("n_oov"),
        milli(col("n_oov"), col("n_words")).as("oov_milli"),
        milli(col("n_types"), col("n_words")).as("ttr_milli"))
      .orderBy("doc_id")
  }

  private val oovRateSql =
    """WITH v AS (
      |  SELECT list(w) AS vocab FROM (
      |    SELECT w FROM (
      |      SELECT w, COUNT(*) AS cnt
      |      FROM documents, UNNEST(string_split(text, ' ')) t(w)
      |      WHERE text IS NOT NULL GROUP BY 1)
      |    ORDER BY cnt DESC, w LIMIT 20)),
      |d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |      WHERE text IS NOT NULL)
      |SELECT doc_id,
      |  CAST(len(w) AS INT) AS n_words,
      |  CAST(len(list_filter(w, x -> NOT list_contains(vocab, x))) AS INT) AS n_oov,
      |  CAST(floor(1000.0 * len(list_filter(w, x -> NOT list_contains(vocab, x)))
      |    / len(w)) AS BIGINT) AS oov_milli,
      |  CAST(floor(1000.0 * len(list_distinct(w)) / len(w)) AS BIGINT) AS ttr_milli
      |FROM d CROSS JOIN v ORDER BY doc_id""".stripMargin

  /** End-to-end per-doc PRUNE DECISION table — what a corpus-prune job
    * actually materializes before writing shards: one verdict row per doc
    * composing the exact-dup canonical rule (`dedup_canonical`'s
    * normalize-then-hash, keep the min id per group), the row-local
    * quality gate (`text_quality`'s keep) and the Gopher repetition gate
    * (`text_repetition`'s keep), with a precedence-ordered `reason`
    * (exact_dup > quality > repetition > ok).
    *
    * Shape discipline: canon is a WINDOW over the scan (no self-join),
    * the quality gate is an inline row-local expression, and only the
    * repetition gate joins (its gram aggregate needs one). The oracle
    * mirrors the exact join topology, so a dirty corpus with duplicate
    * doc_ids multiplies identically on both engines. NULL-text docs are
    * NEVER canonical (no content to canonicalize): explicit on both
    * engines, because the alternative — window-grouping the NULL hashes
    * and electing a min id — is not computable by a stateless stream
    * (a NULL join key matches nothing), and `pruneStream` must emit the
    * identical verdict. Both gate flags coalesce to false — never NULL
    * verdicts.
    *
    * Scale: one documents scan + one window on the canon hash (uniform
    * md5 key) + the bounded repetition join — no stage beyond what the
    * component queries already run, and the verdict table is exactly
    * doc-count rows. */
  /** Adjacent k-grams of the word array as a row-local array expression
    * (same gram set as `text_repetition`'s posexplode + lead pipeline:
    * positions 0..n−k, space-joined). */
  private def gramsLocal(w: Column, k: Int): Column =
    when(size(w) >= k,
      transform(sequence(lit(0), size(w) - k),
        i => concat_ws(" ", (0 until k).map(j => element_at(w, i + j + 1)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Run-length fold over a SORTED gram array: returns
    * struct(best = longest run, dup = Σ run length over runs ≥ 2) — the
    * row-local equivalents of "max per-gram count" and "Σ count where
    * count > 1". A run's second element contributes 2 (itself + the first,
    * retroactively), later elements 1 each. */
  private def runFold(sortedGrams: Column): Column =
    aggregate(sortedGrams,
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("best"), lit(0L).as("dup")),
      (acc, x) => {
        val same = x <=> acc("prev")
        val run2 = when(same, acc("run") + 1).otherwise(lit(1L))
        struct(x.as("prev"), run2.as("run"),
          greatest(acc("best"), run2).as("best"),
          (acc("dup") + when(same,
            when(acc("run") === 1, lit(2L)).otherwise(lit(1L)))
            .otherwise(lit(0L))).as("dup"))
      },
      acc => struct(acc("best").as("best"), acc("dup").as("dup")))

  /** ROW-LOCAL reformulation of the Gopher repetition gate — the exact
    * same statistics `text_repetition` computes via posexplode + per-doc
    * gram aggregation, here as one narrow expression over the word array
    * (sorted grams + run-length fold, O(n log n) per doc): what a
    * STATELESS streaming stage can evaluate per arriving document with no
    * shuffle and no state. RepetitionLocalParitySpec pins field-for-field
    * equality against the batch query. Returns
    * struct(n_tokens, top2_cnt, top2gram_milli, dup3_tokens,
    * dup3gram_milli, keep); NULL text → NULL fields (callers coalesce). */
  def repetitionLocal(text: Column): Column = {
    val w = words(text)
    val n = size(w)
    val f2 = runFold(array_sort(gramsLocal(w, 2)))
    val f3 = runFold(array_sort(gramsLocal(w, 3)))
    val top2 = f2("best")
    val dup3 = f3("dup") * 3
    val m2 = milli(lit(2) * top2, n)
    val m3 = milli(dup3, n)
    when(text.isNotNull,
      struct(n.cast("int").as("n_tokens"), top2.as("top2_cnt"),
        m2.as("top2gram_milli"), dup3.as("dup3_tokens"),
        m3.as("dup3gram_milli"), (m2 <= 200 && m3 <= 180).as("keep")))
  }

  /** Normalize-then-hash canonical fingerprint (`dedup_canonical`'s rule;
    * row-local, streaming-safe). */
  def canonHash(text: Column): Column =
    md5(trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " ")))

  /** SQL twin of [[canonHash]] over a bare `text` column — shared with
    * the cross-object yield report so the canon rule exists once per
    * engine side. */
  private[queries] val canonHashSql =
    "md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))"

  /** SQL twin of [[qualityKeepLocal]] over a bare `text` column. */
  private[queries] def qualityKeepSql: String = {
    val stopList = stopEn.map(sw => s"'$sw'").mkString(", ")
    s"(len(string_split(text, ' ')) BETWEEN 5 AND 2000 AND " +
      s"floor(1000.0 * len(list_filter(string_split(text, ' '), " +
      s"x -> x IN ($stopList))) / len(string_split(text, ' '))) >= 10)"
  }

  /** The row-local quality gate `text_quality`/`corpus_prune_verdicts`
    * apply (length band + stopword floor). NULL text → NULL (callers
    * coalesce to false). */
  def qualityKeepLocal(text: Column): Column = {
    val w = words(text)
    val nWords = size(w)
    val stopMilli = milli(size(filter(w, x => x.isin(stopEn: _*))), nWords)
    nWords.between(5, 2000) && stopMilli >= 10
  }

  /** Canonical-id index of a corpus batch for stream-static prune
    * classification: one row per canon hash with the lowest doc_id —
    * hash-domain-sized, broadcastable. */
  def canonIndex(corpus: DataFrame): DataFrame =
    corpus.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), canonHash(col("text")).as("ch"))
      .groupBy(col("ch")).agg(min(col("doc_id")).as("canonical_id"))

  /** Unordered verdict relation backing `corpus_prune_verdicts` — also
    * the survivor gate of CurationOps' curated_shard_manifest, which
    * filters `keep` and re-shards what passed every tier. */
  private[queries] def pruneVerdictRel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = t(s, dir, "documents")
      .select(col("doc_id"),
        qualityKeepLocal(col("text")).as("q_keep"),
        canonHash(col("text")).as("ch"),
        col("text").isNotNull.as("has_text"))
      .withColumn("is_canonical",
        col("has_text") &&
          col("doc_id") === min(col("doc_id")).over(Window.partitionBy(col("ch"))))
    val rep = textRepetition(s, dir).select(col("doc_id"), col("keep").as("r_keep"))
    base.join(rep, Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_canonical"),
        coalesce(col("q_keep"), lit(false)).as("quality_ok"),
        coalesce(col("r_keep"), lit(false)).as("repetition_ok"))
      .withColumn("keep",
        col("is_canonical") && col("quality_ok") && col("repetition_ok"))
      .withColumn("reason",
        when(!col("is_canonical"), "exact_dup")
          .when(!col("quality_ok"), "quality")
          .when(!col("repetition_ok"), "repetition")
          .otherwise("ok"))
  }

  private def corpusPruneVerdicts(s: SparkSession, dir: String): DataFrame =
    pruneVerdictRel(s, dir).orderBy("doc_id")

  private[queries] val corpusPruneVerdictsSql = {
    val stopList = stopEn.map(sw => s"'$sw'").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    (len(string_split(text,' ')) BETWEEN 5 AND 2000
       |     AND floor(1000.0*len(list_filter(string_split(text,' '), x -> x IN ($stopList)))
       |         /len(string_split(text,' '))) >= 10) AS q_keep,
       |    (text IS NOT NULL AND doc_id = MIN(doc_id) OVER (PARTITION BY
       |      md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
       |        ' +', ' ', 'g'))))) AS is_canonical
       |  FROM documents),
       |rep AS (SELECT doc_id, keep AS r_keep FROM ($textRepetitionSql))
       |SELECT base.doc_id, base.is_canonical,
       |  COALESCE(base.q_keep, FALSE) AS quality_ok,
       |  COALESCE(rep.r_keep, FALSE) AS repetition_ok,
       |  (base.is_canonical AND COALESCE(base.q_keep, FALSE)
       |    AND COALESCE(rep.r_keep, FALSE)) AS keep,
       |  CASE WHEN NOT base.is_canonical THEN 'exact_dup'
       |       WHEN NOT COALESCE(base.q_keep, FALSE) THEN 'quality'
       |       WHEN NOT COALESCE(rep.r_keep, FALSE) THEN 'repetition'
       |       ELSE 'ok' END AS reason
       |FROM base LEFT JOIN rep ON base.doc_id = rep.doc_id
       |ORDER BY base.doc_id""".stripMargin
  }

  /** BPE tokenizer-training statistics: the first merge iteration's
    * candidate table — corpus-wide counts of ADJACENT CHARACTER PAIRS,
    * weighted by word frequency, top 50 by count (pair-asc tiebreak so
    * the LIMIT boundary is deterministic).
    *
    * The scale shape is the point: pairs are aggregated over DISTINCT
    * WORDS (one row per vocabulary entry carrying its corpus frequency),
    * not over raw tokens. Under a zipfian corpus the vocabulary is orders
    * of magnitude smaller than the token stream, so the expensive
    * per-position pair explosion runs on |vocab| rows while the
    * token-scale work is one map-side-combining word count — exactly how
    * a real BPE trainer batches its pair statistics. Both hash aggregates
    * partial-combine; the top-50 is a single bounded reduce.
    *
    * Gate: lowercase alphabetic words of length ≥ 2 (BPE pre-tokenizer
    * symbols), so dirty/unicode/NULL rows drop identically on both
    * engines. */
  private def bpePairStats(s: SparkSession, dir: String): DataFrame = {
    val vocab = t(s, dir, "documents")
      .select(explode(words(col("text"))).as("word"))
      .where(col("word").rlike("^[a-z]+$") && length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    vocab
      .select(col("word"), col("freq"),
        explode(expr("sequence(1, length(word) - 1)")).as("i"))
      .select(expr("substring(word, i, 2)").as("pair"), col("freq"), col("word"))
      .groupBy("pair")
      .agg(sum("freq").as("pair_count"), countDistinct("word").as("n_words"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(50)
  }

  private val bpePairStatsSql =
    """WITH vocab AS (
      |  SELECT word, COUNT(*) AS freq FROM (
      |    SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
      |  WHERE regexp_matches(word, '^[a-z]+$') AND length(word) >= 2
      |  GROUP BY word),
      |p AS (
      |  SELECT substr(word, CAST(g AS INT), 2) AS pair, freq, word
      |  FROM vocab, UNNEST(generate_series(1, length(word) - 1)) AS t(g))
      |SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count,
      |  CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words
      |FROM p GROUP BY pair
      |ORDER BY pair_count DESC, pair LIMIT 50""".stripMargin

  /** BPE tokenizer training, k = 8 ACTUAL merge rounds — the iterative
    * loop [[bpePairStats]] is the first candidate table of: per round,
    * count adjacent symbol pairs over the DISTINCT VOCABULARY (each row
    * one word carrying its corpus frequency), pick the global argmax
    * (count desc, pair asc — the LIMIT-1 boundary is deterministic), apply
    * the merge greedily left-to-right inside every word, recount. Output =
    * the merge table a tokenizer trainer ships: (round, left, right,
    * merged, pair_count-at-selection).
    *
    * The greedy merge is ONE string fold shared semantically with the
    * oracle: symbols ride as a '·'-joined string (base symbols are [a-z]
    * chars, so the separator can never occur inside a symbol), and
    * "replace trailing symbol l + incoming r by lr" is literal
    * concatenation — append r without a separator. Both engines run the
    * identical fold (Spark `aggregate`, DuckDB `list_reduce`), so merge
    * application can't drift even on overlap chains (a·a·a·a + (a,a) →
    * aa·aa, never aa·a·a).
    *
    * Scale shape: the token-scale work is ONE map-side-combining word
    * count (same as [[bpePairStats]]); every round after that touches
    * |vocab| rows — pair explode + hash agg + map-only fold — and the
    * state checkpoint is released generation-by-generation like the CC
    * loop. The per-round argmax is a driver-side 1-ROW action (the same
    * bounded-scalar class as the CC convergence check): a real BPE
    * trainer's global argmax, k times. At 100 TB vocab ≪ tokens under
    * any zipfian corpus, so rounds cost vocabulary-, not corpus-, scale.
    * Reference: the reference tokenizes with a fixed external vocab; this
    * is the training loop that PRODUCES such a vocab from the corpus. */
  private val bpeMergeRoundsK = 8

  /** Trained-tokenizer state shared by `bpe_merge_rounds` and
    * `bpe_compression`: the ordered merge table plus the FINAL per-word
    * symbol state (word, freq, s), session-cached so one session pays the
    * k-round training loop once (the final generation's checkpoint stays
    * pinned by the cache; intermediates are released per round). */
  private[queries] def bpeFinalState(s: SparkSession, dir: String): DataFrame =
    bpeTrained(s, dir)._2

  private def bpeTrained(s: SparkSession, dir: String)
      : (Seq[(Int, String, String, String, Long)], DataFrame) =
    Util.cached(s, dir, "bpeTrained", "") {
      var vocab = t(s, dir, "documents")
        .select(explode(words(col("text"))).as("word"))
        .where(col("word").rlike("^[a-z]+$") && length(col("word")) >= 2)
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .select(col("word"), col("freq"),
          array_join(expr("regexp_extract_all(word, '.', 0)"), "·").as("s"))
        .localCheckpoint()
      val merges = scala.collection.mutable.ArrayBuffer
        .empty[(Int, String, String, String, Long)]
      var round = 1
      var exhausted = false
      while (round <= bpeMergeRoundsK && !exhausted) {
        val syms = split(col("s"), "·")
        // top-1 argmax as a 1-row broadcast subquery riding the fold's
        // checkpoint action — one heavy action per round instead of a
        // take(1) plus a separate fold checkpoint (the wpTrained
        // fusion, guide §2.6); the picked pair is read back from the
        // checkpointed frame's constant columns by a local head()
        val top = vocab
          .select(col("freq"), syms.as("a"))
          .select(col("freq"), col("a"), explode(expr(
            "if(size(a) > 1, sequence(1, size(a) - 1), array_repeat(1, 0))"))
            .as("i"))
          .select(element_at(col("a"), col("i")).as("l"),
            element_at(col("a"), col("i") + 1).as("r"), col("freq"))
          .groupBy("l", "r").agg(sum("freq").as("cnt"))
          .orderBy(col("cnt").desc, col("l"), col("r"))
          .limit(1)
        val folded = aggregate(syms, lit(""), (acc, x) =>
          when(acc === "", x)
            .when((acc === col("l") ||
              acc.endsWith(concat(lit("·"), col("l")))) && x === col("r"),
              concat(acc, x))
            .otherwise(concat(acc, lit("·"), x)))
        val next = vocab.crossJoin(broadcast(top))
          .select(col("word"), col("freq"), folded.as("s"), col("l"),
            col("r"), col("cnt"))
          .localCheckpoint()
        val h = next.select("l", "r", "cnt").head(1)
        if (h.isEmpty) { Util.unpersistDeep(next); exhausted = true }
        else {
          val (l, r, cnt) =
            (h(0).getString(0), h(0).getString(1), h(0).getLong(2))
          merges += ((round, l, r, l + r, cnt))
          Util.unpersistDeep(vocab)
          vocab = next.select("word", "freq", "s")
          round += 1
        }
      }
      (merges.toSeq, vocab)
    }

  private def bpeMergeRounds(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeTrained(s, dir)._1
      .toDF("round", "left_sym", "right_sym", "merged", "pair_count")
      .orderBy("round")
  }

  /** Tokenizer-training ROI: apply the k learned merges ([[bpeTrained]] —
    * shared state, paid once per session) back to the corpus and report
    * per-source compression — character-level token count vs post-merge
    * BPE token count. This is the acceptance report of a tokenizer build:
    * which sources does the learned vocab compress well (their digram
    * statistics dominated training) and which stay near char-level
    * (underrepresented, want more rounds or their own merges)?
    *
    * Scale shape: token-scale work is ONE (source, word) map-side-
    * combining count; the per-word symbol counts come from the trained
    * vocab state (vocabulary-sized), joined on word; the output aggregate
    * is |sources| rows. saved_milli = floor(1000·(chars−bpe)/chars), the
    * suite's standard exact-milli pattern. */
  private def bpeCompression(s: SparkSession, dir: String): DataFrame = {
    val nsym = bpeTrained(s, dir)._2
      .select(col("word"), size(split(col("s"), "·")).as("n_sym"))
    val occ = t(s, dir, "documents")
      .select(coalesce(col("source"), lit("")).as("source"),
        explode(words(col("text"))).as("word"))
      .where(col("word").rlike("^[a-z]+$") && length(col("word")) >= 2)
      .groupBy("source", "word").agg(count(lit(1)).as("occ"))
    occ.join(nsym, "word")
      .groupBy("source").agg(
        sum(col("occ")).as("n_words"),
        sum(col("occ") * length(col("word"))).as("n_char_tokens"),
        sum(col("occ") * col("n_sym")).as("n_bpe_tokens"))
      .withColumn("saved_milli",
        floor(lit(1000.0) * (col("n_char_tokens") - col("n_bpe_tokens")) /
          col("n_char_tokens")).cast("long"))
      .orderBy("source")
  }

  /** Unrolled v0 → v8 training chain (the [[pagerankLinksSql]] pattern):
    * k rounds of (pair count → argmax → list_reduce merge fold), `word`
    * carried through so [[bpeCompressionSql]] can join the final state
    * back to the corpus — THE single copy of the oracle's training math,
    * shared by both BPE oracles. */
  private[queries] val bpeCtes = {
    val v0 =
      """v0 AS (
        |  SELECT word, freq,
        |    array_to_string(regexp_extract_all(word, '.'), '·') AS s
        |  FROM (SELECT word, COUNT(*) AS freq FROM (
        |          SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
        |        WHERE regexp_matches(word, '^[a-z]+$') AND length(word) >= 2
        |        GROUP BY word))""".stripMargin
    val rounds = (1 to 8).map { k =>
      s"""p$k AS (
         |  SELECT syms[i] AS l, syms[i+1] AS r, SUM(freq) AS cnt
         |  FROM (SELECT freq, string_split(s, '·') AS syms FROM v${k - 1}),
         |       UNNEST(generate_series(1, len(syms) - 1)) AS u(i)
         |  GROUP BY 1, 2),
         |t$k AS (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
         |v$k AS (
         |  SELECT word, freq,
         |    list_reduce(string_split(s, '·'), (acc, x) ->
         |      CASE WHEN (acc = t$k.l OR ends_with(acc, '·' || t$k.l))
         |                AND x = t$k.r
         |           THEN acc || x ELSE acc || '·' || x END) AS s
         |  FROM v${k - 1} CROSS JOIN t$k)""".stripMargin
    }
    s"""$v0,
       |${rounds.mkString(",\n")}""".stripMargin
  }

  private val bpeMergeRoundsSql = {
    val unions = (1 to 8).map(k =>
      s"""SELECT $k AS round, l AS left_sym, r AS right_sym,
         |  l || r AS merged, CAST(cnt AS BIGINT) AS pair_count FROM t$k"""
        .stripMargin)
    s"""WITH $bpeCtes
       |${unions.mkString("\nUNION ALL\n")}
       |ORDER BY round""".stripMargin
  }

  private val bpeCompressionSql =
    s"""WITH $bpeCtes,
       |nsym AS (SELECT word, len(string_split(s, '·')) AS n_sym FROM v8),
       |occ AS (
       |  SELECT COALESCE(source, '') AS source, word, COUNT(*) AS occ
       |  FROM (SELECT source, UNNEST(string_split(text, ' ')) AS word
       |        FROM documents)
       |  WHERE regexp_matches(word, '^[a-z]+$$') AND length(word) >= 2
       |  GROUP BY 1, 2)
       |SELECT source,
       |  CAST(SUM(occ) AS BIGINT) AS n_words,
       |  CAST(SUM(occ * length(word)) AS BIGINT) AS n_char_tokens,
       |  CAST(SUM(occ * n_sym) AS BIGINT) AS n_bpe_tokens,
       |  CAST(floor(1000.0 * (SUM(occ * length(word)) - SUM(occ * n_sym))
       |       / SUM(occ * length(word))) AS BIGINT) AS saved_milli
       |FROM occ JOIN nsym USING (word)
       |GROUP BY source ORDER BY source""".stripMargin

  /** Data-mixing allocator: fill a training-run token budget (half the
    * corpus's total tokens — a fixed, knob-free policy so the oracle twin
    * is exact) from the highest-quality sources first. Per source:
    * token volume, quality share (fraction of docs passing the row-local
    * quality gate, exact milli), then a greedy quality-ordered fill —
    * each source contributes min(its tokens, remaining budget). This is
    * the planning artifact a 100 TB mixing step emits before sampling:
    * which sources are fully taken, which one is the marginal partial
    * source, which are excluded — the deterministic skeleton under
    * mix_upsample / corpus_balance_langs (those reweight WITHIN sources;
    * this decides BETWEEN them).
    *
    * Determinism: the fill order is (quality_milli DESC, source) — unique
    * per source; the cumulative-before sum is a frame-bounded window over
    * the |sources|-row slice relation, so the whole allocation is integer
    * arithmetic both engines replay exactly. Scale shape: the corpus-
    * scale work is one map-side-combining per-source aggregate; the
    * single-partition fill window runs on |sources| rows (dimension-
    * sized — the same deliberate choice as corpus_mix_report's scalar
    * cross join). */
  private def tokenBudgetFill(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = t(s, dir, "documents").select(
      coalesce(col("source"), lit("")).as("source"),
      size(words(col("text"))).cast("long").as("toks"),
      coalesce(qualityKeepLocal(col("text")), lit(false)).as("q"))
    val slices = d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("toks")), lit(0L)).as("n_tokens"),
        sum(when(col("q"), 1L).otherwise(0L)).as("n_q"))
      .withColumn("quality_milli",
        floor(lit(1000.0) * col("n_q") / col("n_docs")).cast("long"))
    val wFill = Window.orderBy(col("quality_milli").desc, col("source"))
    // budget as a whole-relation window over the |sources|-row slice
    // relation, NOT a scalar cross join — the scalar-subquery form would
    // re-scan the corpus for the total; this reuses the aggregate already
    // computed (one corpus scan in the whole plan)
    slices
      .withColumn("budget", expr("sum(n_tokens) over () div 2"))
      .withColumn("fill_rank", row_number().over(wFill))
      .withColumn("cum_before", coalesce(
        sum(col("n_tokens"))
          .over(wFill.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("allocated_tokens",
        greatest(lit(0L),
          least(col("n_tokens"), col("budget") - col("cum_before"))))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("quality_milli"), col("fill_rank"), col("allocated_tokens"),
        (col("allocated_tokens") === col("n_tokens")).as("fully_taken"))
      .orderBy("fill_rank")
  }

  private val tokenBudgetFillSql = {
    val stopList = stopEn.map(sw => s"'$sw'").mkString(", ")
    s"""WITH d AS (
       |  SELECT COALESCE(source, '') AS source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
       |    COALESCE(len(string_split(text, ' ')) BETWEEN 5 AND 2000
       |      AND floor(1000.0 * len(list_filter(string_split(text, ' '),
       |            x -> x IN ($stopList))) / len(string_split(text, ' ')))
       |          >= 10, FALSE) AS q
       |  FROM documents),
       |slices AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(COALESCE(SUM(toks), 0) AS BIGINT) AS n_tokens,
       |    SUM(CASE WHEN q THEN 1 ELSE 0 END) AS n_q
       |  FROM d GROUP BY 1),
       |s2 AS (SELECT *, CAST(floor(1000.0 * n_q / n_docs) AS BIGINT)
       |         AS quality_milli FROM slices),
       |f AS (
       |  SELECT s2.*,
       |    CAST(SUM(n_tokens) OVER () // 2 AS BIGINT) AS budget,
       |    ROW_NUMBER() OVER (ORDER BY quality_milli DESC, source) AS fill_rank,
       |    COALESCE(SUM(n_tokens) OVER (ORDER BY quality_milli DESC, source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM s2)
       |SELECT source, n_docs, n_tokens, quality_milli, fill_rank,
       |  CAST(GREATEST(0, LEAST(n_tokens, budget - cum_before)) AS BIGINT)
       |    AS allocated_tokens,
       |  GREATEST(0, LEAST(n_tokens, budget - cum_before)) = n_tokens
       |    AS fully_taken
       |FROM f ORDER BY fill_rank""".stripMargin
  }

  /** Language-model fluency proxy WITHOUT a language model: per-document
    * average word-bigram surprisal against the corpus's own bigram
    * statistics — the KenLM-perplexity-filter role (CCNet/Gopher pipelines
    * score docs by LM perplexity and drop the tail; here the "LM" is the
    * corpus bigram table itself, so gibberish / shuffled / machine-mangled
    * text whose adjacent-word pairs never recur scores high while natural
    * prose built from common transitions scores low).
    *
    * Exactness contract: surprisal of a bigram with corpus count c out of
    * N total occurrences is 1000·(⌊log₂N⌋−⌊log₂c⌋) milli — the log₂ comes
    * from binary-rendering length (libm-free, exact on both engines; an
    * IEEE log could mis-bucket exact powers of two), and the per-doc
    * average is floor-divided, so the twins agree bit-for-bit.
    *
    * Scale shape: one narrow row-local pair assembly (zip_with over the
    * ONCE-materialized split array — no window shuffle, the wordGrams
    * lesson) → (doc, gram) hash aggregate (map-side combining, the token-
    * scale stage) → vocabulary-sized gram-count aggregate (Zipf: ≪
    * occurrences) → one gram-keyed equi-join at (doc, gram) grain → one
    * doc-keyed final aggregate. Same plan family as tfidf_topk; nothing
    * is all-pairs and the only broadcast is the single-row total. */
  /** Per-doc surprisal frame (doc_id, n_bigrams, surprisal_milli,
    * max_rarity_milli) — shared by [[wordBigramSurprisal]] and the
    * signal-agreement audit. */
  private def bigramSurprisalFrame(s: SparkSession, dir: String): DataFrame =
    // session-cached (lazy persist): word_bigram_surprisal, the Spearman
    // audit and curriculum_buckets share this token-scale subtree — and
    // curriculum_buckets alone references it THREE times (histogram,
    // count, bucketing); without the cache Catalyst re-derives the whole
    // (doc, gram) tower per reference (measured 30.5 s at 100×, ~3× the
    // single-pass cost)
    Util.cachedRelation(s, dir, "bigramSurprisal", "") {
      bigramSurprisalFrameUncached(s, dir)
    }

  private def bigramSurprisalFrameUncached(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    // materialize the split ONCE (lambdas get no CSE — the 2× plan-shape
    // fix), then assemble adjacent pairs row-locally
    val grams = d.select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1)," +
          " (a, b) -> concat(a, ' ', b))")).as("g"))
    val tf = grams.groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))
    val cnt = tf.groupBy("g").agg(sum("tf").as("cnt"))
    val n = cnt.agg(sum("cnt").as("n_total"))
    tf.join(cnt, "g")
      .crossJoin(broadcast(n))
      .withColumn("rarity_milli",
        expr("1000 * (length(bin(n_total)) - length(bin(cnt)))").cast("long"))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_bigrams"),
        sum(col("tf") * col("rarity_milli")).as("sum_rarity"),
        max(col("rarity_milli")).as("max_rarity_milli"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("sum_rarity div n_bigrams").as("surprisal_milli"),
        col("max_rarity_milli"))
  }

  private def wordBigramSurprisal(s: SparkSession, dir: String): DataFrame =
    bigramSurprisalFrame(s, dir).orderBy("doc_id")

  private val wordBigramSurprisalSql =
    """WITH grams AS (
      |  SELECT doc_id, g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |    UNNEST(list_transform(range(len(w) - 1),
      |      i -> w[i+1] || ' ' || w[i+2])) t(g)),
      |tf AS (SELECT doc_id, g, COUNT(*) AS tf FROM grams GROUP BY 1, 2),
      |cnt AS (SELECT g, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
      |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM cnt),
      |r AS (
      |  SELECT tf.doc_id, tf.tf,
      |    CAST(1000 * (length(bin(n_total)) - length(bin(cnt))) AS BIGINT)
      |      AS rarity_milli
      |  FROM tf JOIN cnt USING (g) CROSS JOIN n)
      |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(tf * rarity_milli) // SUM(tf) AS BIGINT) AS surprisal_milli,
      |  MAX(rarity_milli) AS max_rarity_milli
      |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Do two quality signals measure the same thing? Exact Spearman rank
    * correlation (integer milli, ties broken by doc_id — distinct-rank
    * variant) between the row-local lexical diversity signal (type-token
    * ratio) and the corpus-statistical LM proxy ([[bigramSurprisalFrame]]),
    * per source. The audit a pipeline runs before composing gates: a rho
    * near ±1000 means the second signal adds nothing over the first; near
    * 0 means the gates prune different documents. Also the suite's exact
    * rank-correlation primitive (quartiles/MAD/z-score exist; correlation
    * did not).
    *
    * Exactness: ranks are row_number with doc_id tiebreak (deterministic,
    * distinct ranks), rho_milli = 1000 − ⌊6000·Σd²/(n³−n)⌋ in BIGINT floor
    * division on both engines. n³ and 6000·Σd² stay inside int64 up to
    * ~10⁶ docs per source; past that both engines fail LOUDLY (ANSI
    * overflow / DuckDB OOR) — switch both sides to DECIMAL(38)/HUGEINT at
    * that corpus size. Sources with n < 2 are dropped (rho undefined).
    *
    * Scale shape: signals are row-local or the surprisal plan (see
    * [[wordBigramSurprisal]]); the correlation stage is two windows over
    * ONE source partitioning plus a source-keyed aggregate — per-source
    * sort, never a global one. */
  private def signalAgreementAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wcol = filter(split(col("text"), " "), x => x =!= "")
    val sig = t(s, dir, "documents").filter(col("doc_id").isNotNull)
      .select(col("doc_id"), col("source"), wcol.as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), col("source"),
        expr("1000 * size(array_distinct(w)) div size(w)").cast("long")
          .as("ttr_milli"))
      .join(bigramSurprisalFrame(s, dir).select("doc_id", "surprisal_milli"),
        "doc_id")
    val ra = Window.partitionBy("source").orderBy(col("ttr_milli"), col("doc_id"))
    val rb = Window.partitionBy("source")
      .orderBy(col("surprisal_milli"), col("doc_id"))
    sig.withColumn("ra", row_number().over(ra))
      .withColumn("rb", row_number().over(rb))
      .withColumn("d2",
        (col("ra").cast("long") - col("rb")) * (col("ra").cast("long") - col("rb")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("d2").as("sum_d2"))
      .filter(col("n_docs") >= 2)
      .select(col("source"), col("n_docs"), col("sum_d2"),
        expr("1000 - (6000 * sum_d2) div (n_docs * n_docs * n_docs - n_docs)")
          .as("rho_milli"))
      .orderBy("source")
  }

  private val signalAgreementAuditSql =
    """WITH grams AS (
      |  SELECT doc_id, g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |    UNNEST(list_transform(range(len(w) - 1),
      |      i -> w[i+1] || ' ' || w[i+2])) t(g)),
      |tf AS (SELECT doc_id, g, COUNT(*) AS tf FROM grams GROUP BY 1, 2),
      |cnt AS (SELECT g, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
      |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM cnt),
      |surp AS (
      |  SELECT tf.doc_id,
      |    CAST(SUM(tf * 1000 * (length(bin(n_total)) - length(bin(cnt))))
      |      // SUM(tf) AS BIGINT) AS surprisal_milli
      |  FROM tf JOIN cnt USING (g) CROSS JOIN n GROUP BY 1),
      |sig AS (
      |  SELECT d.doc_id, d.source,
      |    CAST(1000 * len(list_distinct(w)) // len(w) AS BIGINT) AS ttr_milli,
      |    s.surprisal_milli
      |  FROM (SELECT doc_id, source,
      |          list_filter(string_split(text, ' '), x -> x <> '') AS w
      |        FROM documents WHERE doc_id IS NOT NULL) d
      |  JOIN surp s ON d.doc_id = s.doc_id
      |  WHERE len(w) > 0),
      |ranked AS (
      |  SELECT source,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY ttr_milli, doc_id) AS ra,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY surprisal_milli, doc_id) AS rb
      |  FROM sig)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2,
      |  CAST(1000 - (6000 * SUM((ra - rb) * (ra - rb)))
      |    // (COUNT(*) * COUNT(*) * COUNT(*) - COUNT(*)) AS BIGINT) AS rho_milli
      |FROM ranked GROUP BY source HAVING COUNT(*) >= 2
      |ORDER BY source""".stripMargin

  /** Naive-Bayes quality/affinity classifier — the fasttext-linear-model
    * role in a CCNet-style pipeline (score every crawl doc by a cheap
    * linear text classifier trained on a trusted seed vs a noisy seed,
    * then gate or bucket on the score), with the corpus's own labeled
    * slices as seeds: positive = `lang = 'en'` occurrences, negative =
    * `lang = 'zh'` (stand-ins for "wiki-like" vs "out-of-target" seed
    * sets; the seed predicate is one line a deployment swaps). Every
    * word's log-likelihood-ratio weight is Laplace-smoothed
    * 1000·(log₂(c₊+1) − log₂(N₊+1) − log₂(c₋+1) + log₂(N₋+1)) with the
    * libm-free binary-length log₂ (the surprisal contract — exact on
    * both engines); a doc's score is the occurrence-weighted sum, and
    * the per-word average (IEEE floor of one double division — `div`
    * would truncate toward zero on NEGATIVE sums, the value_bucket
    * floor-semantics class) gives the keep verdict at 0.
    *
    * Scale shape: the tfidf/surprisal plan family — token-scale work is
    * ONE (doc, lang, word) map-side-combining count, the weight relation
    * is vocabulary-sized (Zipf: ≪ occurrences), the scoring join is
    * word-keyed at (doc, word) grain, and the verdict is a doc-keyed
    * aggregate. The seed "training" and the corpus scoring share the
    * same tf relation — one corpus scan total. */
  private def nbQualityScore(s: SparkSession, dir: String): DataFrame = {
    val occ = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
    val tf = occ.groupBy("doc_id", "lang", "w").agg(count(lit(1)).as("tf"))
    val stats = tf.groupBy("w").agg(
      sum(when(col("lang") === "en", col("tf")).otherwise(0L)).as("cpos"),
      sum(when(col("lang") === "zh", col("tf")).otherwise(0L)).as("cneg"))
    val tot = stats.agg(sum("cpos").as("npos"), sum("cneg").as("nneg"))
    val llr = stats.crossJoin(broadcast(tot)) // scalar broadcast
      .select(col("w"), (lit(1000L) *
        ((length(bin(col("cpos") + 1)) - length(bin(col("npos") + 1))) -
          (length(bin(col("cneg") + 1)) - length(bin(col("nneg") + 1))))
          .cast("long")).as("llr_milli"))
    tf.join(llr, "w")
      .groupBy("doc_id", "lang")
      .agg(sum("tf").as("n_words"),
        sum(col("tf") * col("llr_milli")).as("sum_llr_milli"))
      .select(col("doc_id"), col("lang"), col("n_words"), col("sum_llr_milli"),
        floor(col("sum_llr_milli").cast("double") / col("n_words"))
          .cast("long").as("avg_llr_milli"),
        (floor(col("sum_llr_milli").cast("double") / col("n_words")) >= 0)
          .as("pred_target"))
      .orderBy(col("doc_id"), col("lang").asc_nulls_last)
  }

  /** The trained NB model collapsed to ONE broadcastable row
    * (wmap: word → llr_milli over the whole seed vocabulary, w0: the
    * constant weight of an UNSEEN word — Laplace gives cpos = cneg = 0
    * the same smoothed value everywhere) — the bloom-bitmap collapse
    * pattern for the streaming scorer
    * ([[graft.streaming.StreamingPipeline]] `nbScoreStream`): a crawl
    * gate scores arrivals with zero joins, one map lookup per token. At
    * a production vocabulary (~10⁶ words) the map row is tens of MB —
    * squarely broadcastable. */
  def nbWeightsRow(docs: DataFrame): DataFrame = {
    val occ = docs.select(col("lang"),
      explode(split(col("text"), " ")).as("w"))
    val stats = occ.groupBy("w").agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("cpos"),
      sum(when(col("lang") === "zh", 1L).otherwise(0L)).as("cneg"))
    val tot = stats.agg(sum("cpos").as("npos"), sum("cneg").as("nneg"))
    stats.crossJoin(broadcast(tot))
      .select(struct(col("w"), (lit(1000L) *
        ((length(bin(col("cpos") + 1)) - length(bin(col("npos") + 1))) -
          (length(bin(col("cneg") + 1)) - length(bin(col("nneg") + 1))))
          .cast("long")).as("llr")).as("e"),
        (lit(1000L) * (length(bin(col("nneg") + 1)) -
          length(bin(col("npos") + 1))).cast("long")).as("w0"))
      .agg(map_from_entries(collect_list(col("e"))).as("wmap"),
        min(col("w0")).as("w0"))
  }

  /** NB scorer as a composable CTE chain ending in `nbv` (the scored
    * verdict relation) — ONE copy of the classifier math, shared by the
    * public query and the gate-agreement audit
    * ([[graft.queries.LmOps]] `quality_gate_agreement`). */
  private[queries] val nbSqlCtes: String =
    """occ AS (
      |  SELECT doc_id, lang, w
      |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
      |    UNNEST(ws) t(w)),
      |tf AS (SELECT doc_id, lang, w, COUNT(*) AS tf FROM occ GROUP BY 1, 2, 3),
      |stats AS (
      |  SELECT w,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS BIGINT) AS cpos,
      |    CAST(SUM(CASE WHEN lang = 'zh' THEN tf ELSE 0 END) AS BIGINT) AS cneg
      |  FROM tf GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cpos) AS BIGINT) AS npos,
      |               CAST(SUM(cneg) AS BIGINT) AS nneg FROM stats),
      |llr AS (
      |  SELECT w, CAST(1000 * ((length(bin(cpos+1)) - length(bin(npos+1)))
      |    - (length(bin(cneg+1)) - length(bin(nneg+1)))) AS BIGINT) AS llr_milli
      |  FROM stats CROSS JOIN tot),
      |nbv AS (
      |  SELECT doc_id, lang, n_words, sum_llr_milli,
      |    CAST(floor(CAST(sum_llr_milli AS DOUBLE) / n_words) AS BIGINT)
      |      AS avg_llr_milli,
      |    floor(CAST(sum_llr_milli AS DOUBLE) / n_words) >= 0 AS pred_target
      |  FROM (
      |    SELECT t.doc_id, t.lang, CAST(SUM(t.tf) AS BIGINT) AS n_words,
      |      CAST(SUM(t.tf * l.llr_milli) AS BIGINT) AS sum_llr_milli
      |    FROM tf t JOIN llr l USING (w) GROUP BY 1, 2))""".stripMargin

  private val nbQualityScoreSql =
    s"""WITH $nbSqlCtes
       |SELECT * FROM nbv ORDER BY doc_id, lang NULLS LAST""".stripMargin

  /** The scored NB verdict frame for composition (the public query minus
    * its ORDER BY). */
  private[queries] def nbScored(s: SparkSession, dir: String): DataFrame =
    nbQualityScore(s, dir)

  /** Calibration-bucket width in milli (a twentieth of a log-likelihood
    * bit — the labeled scores here span ~half a bit, so quarter-bit
    * buckets collapsed the curve to two points). */
  val nbCalibBucketMilli = 50

  /** NB classifier reliability curve — the calibration audit a pipeline
    * reads before treating the quality score as a probability-like
    * gate: over the LABELED slice (the en/zh seed langs — seed-sized in
    * a real deployment, where the crawl itself is unlabeled), docs land
    * in fixed-width score buckets ([[nbCalibBucketMilli]] milli)
    * and each bucket reports its positive rate. A well-calibrated
    * scorer shows pos_milli rising monotonically through bucket 0 (the
    * gate's threshold); a flat curve means the score ranks nothing.
    *
    * Buckets are VALUE-width, not rank deciles — the
    * curriculum_buckets discipline: no global sort exists in the plan,
    * one row-local floor and one hash aggregate. The floor is computed
    * in DOUBLE (floor(x / nbCalibBucketMilli)) because integer division on NEGATIVE
    * scores never crosses engines (DuckDB `//` floors, Spark `div`
    * truncates); the quotient magnitudes sit far inside 2⁵³ so the IEEE
    * result is exact and identical. */
  private def nbCalibrationCurve(s: SparkSession, dir: String): DataFrame =
    nbScored(s, dir)
      .filter(col("lang") === "en" || col("lang") === "zh")
      .withColumn("bucket",
        floor(col("avg_llr_milli") / lit(nbCalibBucketMilli.toDouble))
          .cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_pos"))
      .select(col("bucket"),
        (col("bucket") * nbCalibBucketMilli).as("score_lo_milli"),
        col("n_docs"), col("n_pos"),
        expr("(1000 * n_pos) div n_docs").as("pos_milli"))
      .orderBy("bucket")

  private val nbCalibrationCurveSql =
    s"""WITH $nbSqlCtes,
       |lab AS (
       |  SELECT CAST(floor(avg_llr_milli / ${nbCalibBucketMilli.toDouble})
       |      AS BIGINT) AS bucket,
       |    lang
       |  FROM nbv WHERE lang IN ('en', 'zh')),
       |bk AS (
       |  SELECT bucket, COUNT(*) AS n_docs,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_pos
       |  FROM lab GROUP BY 1)
       |SELECT bucket, bucket * $nbCalibBucketMilli AS score_lo_milli,
       |  n_docs, n_pos, (1000 * n_pos) // n_docs AS pos_milli
       |FROM bk ORDER BY bucket""".stripMargin

  /** Curriculum schedule buckets — the easy-to-hard data-ordering
    * artifact (curriculum-learning pipelines feed low-perplexity docs
    * first): every scored doc lands in a surprisal decile, reported as
    * (decile, n_docs, surprisal_lo/hi, total bigram mass) — the schedule
    * a training run consumes directly. Doc difficulty is the corpus-LM
    * surprisal ([[bigramSurprisalFrame]], shared subtree with
    * `word_bigram_surprisal` and the Spearman audit).
    *
    * Scale shape — deliberately NOT a global row_number: an exact global
    * rank is a single-partition sort at 100 TB. Instead the rank-select
    * runs on the VALUE HISTOGRAM (the outlier_mad lesson): surprisal
    * values are bin-length-derived milli integers with a tiny distinct
    * set, so the cumulative histogram is value-bounded however large the
    * corpus; the nine decile cuts (value at rank ⌈d·n/10⌉, integer ceil
    * arithmetic) collapse to ONE broadcast row and each doc buckets
    * row-locally as 1 + |cuts < surprisal|. Docs sharing a surprisal
    * value share a decile (deterministic; boundary deciles absorb ties —
    * documented, the discrete-rank-statistic contract). */
  private def curriculumBuckets(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val f = bigramSurprisalFrame(s, dir)
      .select(col("doc_id"), col("n_bigrams"), col("surprisal_milli"))
    val hist = f.groupBy(col("surprisal_milli").as("v"))
      .agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum",
      sum(col("c")).over(Window.orderBy(col("v"))))
    val n = f.agg(count(lit(1)).as("nn"))
    val cuts = cum.crossJoin(broadcast(n))
      .select(col("v"), col("cum"), col("nn"),
        explode(array((1 to 9).map(lit(_)): _*)).as("d"))
      .filter(col("cum") >= expr("(d * nn + 9) div 10")) // int ceil division
      .groupBy(col("d")).agg(min(col("v")).as("cut"))
      .agg(sort_array(collect_list(col("cut"))).as("cuts"))
    f.crossJoin(broadcast(cuts)) // one-row broadcast
      .withColumn("decile",
        (lit(1) + size(filter(col("cuts"), c => c < col("surprisal_milli"))))
          .cast("int"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("surprisal_milli")).as("surprisal_lo"),
        max(col("surprisal_milli")).as("surprisal_hi"),
        sum(col("n_bigrams")).as("total_bigrams"))
      .orderBy("decile")
  }

  private val curriculumBucketsSql =
    """WITH grams AS (
      |  SELECT doc_id, g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |    UNNEST(list_transform(range(len(w) - 1),
      |      i -> w[i+1] || ' ' || w[i+2])) t(g)),
      |tf AS (SELECT doc_id, g, COUNT(*) AS tf FROM grams GROUP BY 1, 2),
      |cnt AS (SELECT g, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
      |ntot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM cnt),
      |f AS (
      |  SELECT tf.doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(tf * 1000 * (length(bin(n_total)) - length(bin(cnt))))
      |      // SUM(tf) AS BIGINT) AS surprisal_milli
      |  FROM tf JOIN cnt USING (g) CROSS JOIN ntot GROUP BY 1),
      |hist AS (SELECT surprisal_milli AS v, COUNT(*) AS c FROM f GROUP BY 1),
      |cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM hist),
      |n AS (SELECT COUNT(*) AS nn FROM f),
      |cuts AS (
      |  SELECT list(cut ORDER BY d) AS cuts FROM (
      |    SELECT d, MIN(v) AS cut
      |    FROM cum CROSS JOIN n, UNNEST([1,2,3,4,5,6,7,8,9]) t(d)
      |    WHERE cum >= (d * nn + 9) // 10
      |    GROUP BY d))
      |SELECT decile, COUNT(*) AS n_docs,
      |  MIN(surprisal_milli) AS surprisal_lo,
      |  MAX(surprisal_milli) AS surprisal_hi,
      |  CAST(SUM(n_bigrams) AS BIGINT) AS total_bigrams
      |FROM (
      |  SELECT f.*, CAST(1 + len(list_filter(cuts, c -> c < surprisal_milli)) AS INT) AS decile
      |  FROM f CROSS JOIN cuts)
      |GROUP BY 1 ORDER BY decile""".stripMargin

  /** BM25 ad-hoc retrieval (k1 = 1.2, b = 0.75) re-derived as EXACT integer
    * arithmetic so both engines rank identically with no libm call:
    *
    *  - idf: the Robertson idf's ARGUMENT (N − df + ½)/(df + ½) kept
    *    rational instead of logged — milli-scaled as
    *    ((2(N−df)+1)·1000) div (2df+1). Monotone in classic log-idf, so
    *    per-term orderings agree; across terms the rational form weights
    *    rare terms more aggressively than the log (a documented engine
    *    semantic, exact and engine-portable).
    *  - tf saturation tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)): with
    *    avgdl = total_len/N, multiplying numerator and denominator by
    *    10·total_len clears every fraction —
    *    (22·tf·total_len·1000) div (10·tf·total_len + 3·total_len + 9·dl·N),
    *    milli-scaled, ≤ 2200. int64-safe: ≈2.2e4·tf·total_len stays under
    *    2^63 past a 10^12-token corpus.
    *  - score := Σ_terms idf_milli · tfsat_milli.
    *
    * Queries are the first 3 documents; their distinct length-≥4 tokens form
    * the bag-of-words query (short tokens ≈ stopwords carry ~no idf anyway).
    *
    * Scale shape: corpus-side tf/df/dl are the tfidf_topk relations
    * (token-scale explode → (doc,word) hash-agg). The query side is 3 docs
    * → a BROADCAST join on word, so scoring touches only the postings of
    * query terms — the inverted-index access path, expressed relationally;
    * the per-query top-k window runs over candidates, never the corpus. */
  private[queries] def bm25Ranked(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = tfRelation(s, dir)
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val tot = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
    val qterms = tf.filter(col("doc_id") < 3 && length(col("word")) >= 4)
      .select(col("doc_id").as("query_id"), col("word"))
    val scored = tf.join(broadcast(qterms), "word")
      .filter(col("doc_id") =!= col("query_id"))
      .join(df, "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(tot))
      .withColumn("idf_milli",
        expr("((2*(n_docs - df) + 1) * 1000) div (2*df + 1)"))
      .withColumn("tfsat_milli",
        expr("(22*tf*total_len*1000) div (10*tf*total_len + 3*total_len + 9*dl*n_docs)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(expr("idf_milli * tfsat_milli")).as("score_micro"))
    val win = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col("doc_id"))
    scored.withColumn("rk", row_number().over(win))
  }

  private def bm25Topk(s: SparkSession, dir: String): DataFrame =
    bm25Ranked(s, dir).filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("doc_id"), col("n_terms"),
        col("score_micro"))
      .orderBy("query_id", "rk")

  /** Ranked-but-unfiltered BM25 CTE chain (ends in a `ranked` relation with
    * rk) — shared verbatim by the bm25_topk oracle and the hybrid-fusion
    * oracle in [[SimilarityOps]], one copy of the scoring math. */
  private[queries] val bm25RankedCtes =
    """w AS (
      |  SELECT doc_id, w AS word
      |  FROM documents, UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) t(w)),
      |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
      |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM w GROUP BY 1),
      |tot AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM dl),
      |qterms AS (
      |  SELECT doc_id AS query_id, word FROM tf
      |  WHERE doc_id < 3 AND length(word) >= 4),
      |bm25scored AS (
      |  SELECT q.query_id, tf.doc_id,
      |    COUNT(*) AS n_terms,
    -- CAST: DuckDB SUM(BIGINT) is HUGEINT (→ float64 in the driver compare)
      |    CAST(SUM((((2*(n_docs - df) + 1) * 1000) // (2*df + 1))
      |      * ((22*tf*total_len*1000) // (10*tf*total_len + 3*total_len + 9*dl*n_docs)))
      |      AS BIGINT) AS score_micro
      |  FROM tf JOIN qterms q ON tf.word = q.word AND tf.doc_id <> q.query_id
      |  JOIN df ON df.word = tf.word
      |  JOIN dl ON dl.doc_id = tf.doc_id
      |  CROSS JOIN tot
      |  GROUP BY 1, 2),
      |bm25ranked AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY score_micro DESC, doc_id) AS INT) AS rk FROM bm25scored)""".stripMargin

  private val bm25TopkSql =
    s"""WITH $bm25RankedCtes
       |SELECT query_id, rk, doc_id, n_terms, score_micro
       |FROM bm25ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** BM25 with pseudo-relevance feedback (Rocchio's query expansion, the
    * standard second stage of a production lexical retrieval stack): the
    * first BM25 pass's top-3 docs per query are ASSUMED relevant, their 5
    * highest idf-weighted-tf terms (length ≥ 4, not already in the query,
    * deterministic (score DESC, word) pick) join the query at HALF weight
    * (Rocchio β = 0.5 as 500 milli vs 1000), and the corpus is rescored —
    * per-term contribution (weight·idf_milli·tfsat_milli) div 1000. PRF
    * recalls docs sharing NO original term (they surface through
    * expansion terms only; n_exp_terms says how much of each hit is
    * expansion-driven — the audit column for topic drift, PRF's known
    * failure mode).
    *
    * All arithmetic stays the exact integer BM25 contract (idf ≤ ~667·N
    * milli, tfsat ≤ 2200 milli, weight ≤ 1000: per-term ≤ ~7·10¹⁴ —
    * int64-safe). Scale shape: pass 1 IS [[bm25Ranked]] (postings of
    * query terms only); expansion reads the 3·|queries| feedback docs'
    * postings; pass 2 is the same broadcast-terms inverted-index access
    * with ≤ |qterms| + 5 terms per query. Nothing corpus-wide is sorted
    * or crossed. */
  private def bm25PrfTopk(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = tfRelation(s, dir)
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val tot = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
    val qterms = tf.filter(col("doc_id") < 3 && length(col("word")) >= 4)
      .select(col("doc_id").as("query_id"), col("word"))
    val idf = df.crossJoin(broadcast(tot))
      .select(col("word"),
        expr("((2*(n_docs - df) + 1) * 1000) div (2*df + 1)").as("idf_milli"))
    val fb = bm25Ranked(s, dir).filter(col("rk") <= 3)
      .select(col("query_id"), col("doc_id"))
    val expTerms = fb
      .join(tf, "doc_id")
      .filter(length(col("word")) >= 4)
      .join(qterms, Seq("query_id", "word"), "left_anti")
      .join(idf, "word")
      .groupBy(col("query_id"), col("word"))
      .agg(sum(col("tf") * col("idf_milli")).as("escore"))
      .withColumn("erk", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("escore").desc, col("word"))))
      .filter(col("erk") <= 5)
      .select(col("query_id"), col("word"), lit(500L).as("wgt"))
    val allq = qterms.select(col("query_id"), col("word"),
      lit(1000L).as("wgt")).unionByName(expTerms)
    val scored = tf.join(broadcast(allq), "word")
      .filter(col("doc_id") =!= col("query_id"))
      .join(df, "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(tot))
      .withColumn("idf_milli",
        expr("((2*(n_docs - df) + 1) * 1000) div (2*df + 1)"))
      .withColumn("tfsat_milli",
        expr("(22*tf*total_len*1000) div (10*tf*total_len + 3*total_len + 9*dl*n_docs)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(when(col("wgt") === 500L, 1L).otherwise(0L)).as("n_exp_terms"),
        sum(expr("(wgt * idf_milli * tfsat_milli) div 1000")).as("score_micro"))
    scored
      .withColumn("rk", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score_micro").desc, col("doc_id"))))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("doc_id"), col("n_terms"),
        col("n_exp_terms"), col("score_micro"))
      .orderBy("query_id", "rk")
  }

  private val bm25PrfTopkSql =
    s"""WITH $bm25RankedCtes,
       |idfr AS (
       |  SELECT word, ((2*(n_docs - df) + 1) * 1000) // (2*df + 1) AS idf_milli
       |  FROM df CROSS JOIN tot),
       |fb AS (SELECT query_id, doc_id FROM bm25ranked WHERE rk <= 3),
       |exp0 AS (
       |  SELECT f.query_id, tf.word,
       |    CAST(SUM(tf.tf * i.idf_milli) AS BIGINT) AS escore
       |  FROM fb f JOIN tf ON tf.doc_id = f.doc_id
       |  JOIN idfr i ON i.word = tf.word
       |  WHERE length(tf.word) >= 4 AND NOT EXISTS (
       |    SELECT 1 FROM qterms q
       |    WHERE q.query_id = f.query_id AND q.word = tf.word)
       |  GROUP BY 1, 2),
       |expt AS (
       |  SELECT query_id, word, CAST(500 AS BIGINT) AS wgt FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY escore DESC, word) AS erk FROM exp0)
       |  WHERE erk <= 5),
       |allq AS (
       |  SELECT query_id, word, CAST(1000 AS BIGINT) AS wgt FROM qterms
       |  UNION ALL SELECT query_id, word, wgt FROM expt),
       |scored2 AS (
       |  SELECT q.query_id, tf.doc_id,
       |    COUNT(*) AS n_terms,
       |    CAST(SUM(CASE WHEN q.wgt = 500 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_exp_terms,
       |    CAST(SUM((q.wgt * (((2*(n_docs - df) + 1) * 1000) // (2*df + 1))
       |      * ((22*tf*total_len*1000)
       |         // (10*tf*total_len + 3*total_len + 9*dl*n_docs))) // 1000)
       |      AS BIGINT) AS score_micro
       |  FROM tf JOIN allq q ON tf.word = q.word AND tf.doc_id <> q.query_id
       |  JOIN df ON df.word = tf.word
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN tot
       |  GROUP BY 1, 2)
       |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY score_micro DESC, doc_id) AS INT) AS rk,
       |  doc_id, n_terms, n_exp_terms, score_micro
       |FROM scored2
       |QUALIFY rk <= 5
       |ORDER BY query_id, rk""".stripMargin

  private val mgK = 32

  /** Heavy hitters via the engine's mergeable Misra–Gries Aggregator
    * ([[graft.functions.MisraGries]]) with the bound-verdict output
    * discipline of approx_sketches: the sketch runs ONE pass over the raw
    * token stream with ≤ k counters per map task and a partial-aggregation
    * combine — no vocabulary-sized shuffle — and the query emits, for the
    * exact top-20 words (computed from the shared tf relation, the
    * verification side), only DETERMINISTIC facts: the exact count, the
    * guarantee predicate exact > N div (k+1), and two verdict booleans that
    * the MG theorems force to TRUE under any merge order (tracked_ok: every
    * guaranteed word is in the sketch; bounds_ok: any estimate present
    * under-counts by at most N div (k+1)). Raw estimates are merge-order-
    * dependent and never emitted.
    *
    * Scale shape: sketch pass = scan → narrow explode → object hash
    * aggregate to ONE row; exact side rides the cached tf relation; the
    * top-20 window is vocabulary-bounded (the vocab_topk shape). */
  private def heavyHittersSketch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val stream = t(s, dir, "documents")
      .select(explode(filter(words(col("text")), x => x =!= "")).as("w"))
      .as[String]
    val sketch = stream
      .select(new graft.functions.MisraGries(mgK).toColumn.name("sketch"))
    val tf = tfRelation(s, dir)
    val totals = tf.groupBy("word").agg(sum(col("tf")).as("exact_cnt"))
    val n = tf.agg(sum(col("tf")).as("n_total"))
    val w = Window.orderBy(col("exact_cnt").desc, col("word"))
    totals
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 20)
      .crossJoin(broadcast(n))
      .crossJoin(broadcast(sketch))
      .withColumn("est", element_at(col("sketch"), col("word")))
      .select(col("rk"), col("word"), col("exact_cnt"),
        expr(s"exact_cnt > n_total div ${mgK + 1}").as("guaranteed_tracked"),
        expr(s"(NOT (exact_cnt > n_total div ${mgK + 1})) OR est IS NOT NULL")
          .as("tracked_ok"),
        expr(s"est IS NULL OR (est <= exact_cnt AND exact_cnt - est <= n_total div ${mgK + 1})")
          .as("bounds_ok"))
      .orderBy("rk")
  }

  /** Oracle: the exact side is fully SQL-expressible; the two verdict
    * columns are the theorems themselves — constants TRUE — exactly the
    * approx_sketches "exact values + in-bound booleans" contract. */
  private val heavyHittersSketchSql =
    s"""WITH w AS (
       |  SELECT doc_id, w AS word
       |  FROM documents, UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) t(w)),
       |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
       |totals AS (SELECT word, CAST(SUM(tf) AS BIGINT) AS exact_cnt FROM tf GROUP BY 1),
       |n AS (SELECT CAST(SUM(tf) AS BIGINT) AS n_total FROM tf)
       |SELECT rk, word, exact_cnt,
       |  exact_cnt > n_total // ${mgK + 1} AS guaranteed_tracked,
       |  TRUE AS tracked_ok,
       |  TRUE AS bounds_ok
       |FROM (
       |  SELECT word, exact_cnt,
       |    CAST(row_number() OVER (ORDER BY exact_cnt DESC, word) AS INT) AS rk
       |  FROM totals) CROSS JOIN n
       |WHERE rk <= 20 ORDER BY rk""".stripMargin

  /** Language-ID confusion matrix — the EVALUATION of the heuristic
    * classifier the corpus gates depend on (text_langid predicts, this
    * measures): per (label, prediction) cell, count and exact-milli share
    * of the label's row — the matrix that says WHICH languages the marker
    * heuristic confuses before anyone trusts corpus_balance_langs /
    * text_quality_perlang built on its predictions. NULL labels bucket as
    * '' (the cross_source_leakage rule: a NULL key must not vanish from
    * one engine's grouping).
    *
    * Scale shape: one corpus scan through the codegen'd marker projection
    * into a ≤ |langs|²-group hash-agg; the share window runs over the
    * matrix rows, never the corpus. */
  private def langidConfusion(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pred = langPred(langScores(words(col("text"))))
    val w = Window.partitionBy(col("lang_label"))
    t(s, dir, "documents")
      .select(coalesce(col("lang"), lit("")).as("lang_label"),
        pred.as("lang_pred"))
      .groupBy(col("lang_label"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .withColumn("label_total", sum(col("n")).over(w))
      .withColumn("label_share_milli", expr("(n * 1000) div label_total"))
      .orderBy("lang_label", "lang_pred")
  }

  private val langidConfusionSql =
    s"""WITH cells AS (
       |  SELECT COALESCE(lang, '') AS lang_label, $langPredSql AS lang_pred,
       |    COUNT(*) AS n
       |  FROM documents GROUP BY 1, 2)
       |SELECT lang_label, lang_pred, n,
       |  CAST(SUM(n) OVER (PARTITION BY lang_label) AS BIGINT) AS label_total,
       |  (n * 1000) // CAST(SUM(n) OVER (PARTITION BY lang_label) AS BIGINT)
       |    AS label_share_milli
       |FROM cells ORDER BY lang_label, lang_pred""".stripMargin

  /** RAKE keyphrase extraction (Rose et al. 2010) — the phrase-level
    * extraction beside tfidf's word-level ranking: candidate phrases are
    * maximal stopword-free token runs (capped at 4 tokens — longer runs
    * keep their first 4, the standard guard against run-on garbage), word
    * scores are the classic degree/frequency ratio over candidate-phrase
    * tokens in exact milli, and a phrase scores the SUM of its token
    * scores. Output: top-20 phrases by (score, phrase).
    *
    * All-integer determinism: degree and freq are counts; the only
    * division is one milli floor per word, phrase scores are integer sums
    * of those millis, and the row_number tie-break is the phrase string.
    *
    * Scale shape: the islands stage is the sessionize/gaps family (one
    * doc-keyed window over token positions); word stats are a
    * vocabulary-sized map-side aggregate; phrase scoring joins phrase
    * tokens (token-scale, 1:1 fan) to the thin word-score relation; the
    * final top-20 is a TakeOrdered over the distinct-phrase aggregate. */
  private def rakeKeyphrases(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), posexplode(words(col("text"))).as(Seq("pos", "w")))
      .withColumn("is_stop",
        col("w") === "" || col("w").isin(stopEn: _*))
      .withColumn("grp",
        sum(when(col("is_stop"), 1).otherwise(0)).over(byDoc))
    // one row per PHRASE INSTANCE (a doc's stopword-free run, first 4 toks)
    val phrases = toks.filter(!col("is_stop"))
      .groupBy(col("doc_id"), col("grp"))
      .agg(sort_array(collect_list(struct(col("pos"), col("w")))).as("pw"))
      .select(slice(expr("transform(pw, x -> x.w)"), 1, 4).as("ws"))
    // word stats count INSTANCE occurrences (classic RAKE freq/degree)
    val wordScore = phrases
      .select(size(col("ws")).as("len"), explode(col("ws")).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("degree"))
      .withColumn("wscore_milli", expr("(degree * 1000) div freq"))
    // content-level: one row per DISTINCT phrase (+ its occurrence count);
    // the score depends only on content, so re-split the joined string
    // (lossless: tokens contain no spaces) and sum token scores once
    val pAgg = phrases
      .select(array_join(col("ws"), " ").as("phrase"),
        size(col("ws")).as("n_words"))
      .groupBy(col("phrase"), col("n_words"))
      .agg(count(lit(1)).as("n_occurrences"))
    pAgg.select(col("phrase"), col("n_words"), col("n_occurrences"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(wordScore, "w")
      .groupBy(col("phrase"), col("n_words"), col("n_occurrences"))
      .agg(sum(col("wscore_milli")).as("score_milli"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score_milli").desc, col("phrase"))))
      .filter(col("rk") <= 20)
      .select(col("rk"), col("phrase"), col("n_words"), col("n_occurrences"),
        col("score_milli"))
      .orderBy("rk")
  }

  private val rakeKeyphrasesSql = {
    val stopList = stopEn.map(sw => s"'$sw'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, t.i AS pos, ws[t.i+1] AS w,
       |    (ws[t.i+1] = '' OR ws[t.i+1] IN ($stopList)) AS is_stop
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |    UNNEST(range(len(ws))) t(i)),
       |grps AS (
       |  SELECT doc_id, pos, w, is_stop,
       |    SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos
       |            ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM toks),
       |pinst AS (
       |  SELECT list_transform(
       |    list_slice(list_sort(list({'pos': pos, 'w': w})), 1, 4),
       |    x -> x.w) AS ws
       |  FROM grps WHERE NOT is_stop GROUP BY doc_id, grp),
       |wordscore AS (
       |  SELECT w, COUNT(*) AS freq, CAST(SUM(plen) AS BIGINT) AS degree,
       |    (CAST(SUM(plen) AS BIGINT) * 1000) // COUNT(*) AS wscore_milli
       |  FROM (SELECT len(ws) AS plen, t.w AS w FROM pinst, UNNEST(ws) t(w))
       |  GROUP BY 1),
       |pagg AS (
       |  SELECT array_to_string(ws, ' ') AS phrase, CAST(len(ws) AS INT) AS n_words,
       |    COUNT(*) AS n_occurrences
       |  FROM pinst GROUP BY 1, 2),
       |agg AS (
       |  SELECT phrase, n_words, n_occurrences,
       |    CAST(SUM(s.wscore_milli) AS BIGINT) AS score_milli
       |  FROM (SELECT phrase, n_words, n_occurrences, t.w AS w
       |        FROM pagg, UNNEST(string_split(phrase, ' ')) t(w)) c
       |  JOIN wordscore s ON s.w = c.w
       |  GROUP BY 1, 2, 3)
       |SELECT CAST(row_number() OVER (ORDER BY score_milli DESC, phrase) AS INT) AS rk,
       |  phrase, n_words, n_occurrences, score_milli
       |FROM agg
       |QUALIFY rk <= 20 ORDER BY rk""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("rake_keyphrases", rakeKeyphrases, Some(rakeKeyphrasesSql)),
    Q("langid_confusion", langidConfusion, Some(langidConfusionSql)),
    Q("heavy_hitters_sketch", heavyHittersSketch, Some(heavyHittersSketchSql)),
    Q("bm25_topk", bm25Topk, Some(bm25TopkSql)),
    Q("bm25_prf_topk", bm25PrfTopk, Some(bm25PrfTopkSql)),
    Q("curriculum_buckets", curriculumBuckets, Some(curriculumBucketsSql)),
    Q("nb_quality_score", nbQualityScore, Some(nbQualityScoreSql)),
    Q("nb_calibration_curve", nbCalibrationCurve,
      Some(nbCalibrationCurveSql)),
    Q("bpe_pair_stats", bpePairStats, Some(bpePairStatsSql)),
    Q("bpe_merge_rounds", bpeMergeRounds, Some(bpeMergeRoundsSql)),
    Q("bpe_compression", bpeCompression, Some(bpeCompressionSql)),
    Q("token_budget_fill", tokenBudgetFill, Some(tokenBudgetFillSql)),
    Q("signal_agreement_audit", signalAgreementAudit,
      Some(signalAgreementAuditSql)),
    Q("word_bigram_surprisal", wordBigramSurprisal, Some(wordBigramSurprisalSql)),
    Q("corpus_prune_verdicts", corpusPruneVerdicts, Some(corpusPruneVerdictsSql)),
    Q("oov_rate", oovRate, Some(oovRateSql)),
    Q("text_repetition", textRepetition, Some(textRepetitionSql)),
    Q("corpus_clean", corpusClean, Some(corpusCleanSql)),
    Q("text_quality_perlang", textQualityPerlang, Some(textQualityPerlangSql)),
    Q("text_boilerplate", textBoilerplate, Some(textBoilerplateSql)),
    Q("doc_winnow_fingerprints", docWinnowFingerprints, Some(docWinnowFingerprintsSql)),
    Q("text_tokens", textTokens, Some(textTokensSql)),
    Q("text_quality", textQuality, Some(textQualitySql)),
    Q("adaptive_quality_cutoff", adaptiveQualityCutoff,
      Some(adaptiveQualityCutoffSql)),
    Q("text_langid", textLangid, Some(textLangidSql)),
    Q("tfidf_topk", tfidfTopk, Some(tfidfTopkSql)),
    Q("doc_fingerprint", docFingerprint, Some(docFingerprintSql)))
}
