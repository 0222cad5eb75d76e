package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Util._

/** Deduplication suite for a training-data pipeline over `documents`:
  * exact (hash groupBy), word-shingle MinHash + LSH banding, SimHash
  * fingerprints, and n-gram Jaccard verification.
  *
  * Engine-portable hashing: every hash is md5 (identical hex output in
  * Spark and DuckDB); MinHash takes the lexicographic MIN of seeded md5
  * hex strings — a valid random-permutation min because the strings are
  * fixed-length hex, and fully order-deterministic.
  *
  * Scale shape: shingling is a narrow explode; the MinHash signature is one
  * hash-aggregate keyed by (doc, seed); LSH candidates come from an
  * equi-join on (band, band_sig) — the classic "join on bucket, never
  * all-pairs" pattern, so cost tracks candidate count, not n². At 100 TB the
  * band join is the only shuffle and its key is a hash — uniformly
  * distributed by construction.
  */
object DedupOps {

  /** The audits and the increment split run on the `doc_id % sampleMod`
    * slice of the corpus: `= 0` is the sample (the increment), `<> 0` the
    * rest. The SQL twins interpolate the same constant. */
  private val sampleMod = 10
  private def inSample: Column = col("doc_id") % sampleMod === 0

  /** Per-bucket candidate cap for the simhash band join: a (band, value)
    * bucket larger than this is dropped from candidate generation and
    * logged. 100 TB rationale: the all-zero band shared by short docs is a
    * single join key carrying |bucket|² candidate pairs — the cap bounds
    * the worst key at ~500k pairs. Never binds at test scale (≤ 500
    * sampled docs total), so oracle output is unchanged there.
    * Session conf `graft.cap.simhashBucket` overrides per deployment. */
  val maxSimhashBucketDefault = 1024
  def maxSimhashBucket(s: SparkSession): Int =
    s.conf.getOption("graft.cap.simhashBucket").map(_.toInt)
      .getOrElse(maxSimhashBucketDefault)

  /** Document-frequency cap for the n-gram Jaccard shingle equi-join: a
    * shingle appearing in more than this many docs is excluded from the
    * WHOLE computation — candidate discovery AND both set sizes — so the
    * output is a consistent restricted-vocabulary Jaccard (similarity over
    * the sub-universe of shingles with df ≤ cap), never a mixed-universe
    * underestimate. 100 TB rationale: a stop-shingle with df = 10⁶
    * contributes 10¹² join rows while carrying near-zero similarity signal
    * — the classic quadratic key. Never binds at test scale (max df ≤ 500
    * sampled docs), so oracle output is unchanged there.
    * Session conf `graft.cap.tokenDf` overrides per deployment. */
  val maxTokenDfDefault = 10000
  def maxTokenDf(s: SparkSession): Int =
    s.conf.getOption("graft.cap.tokenDf").map(_.toInt)
      .getOrElse(maxTokenDfDefault)

  /** Exact dedup: content-hash groups with canonical (min) doc id. */
  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id"))
      .orderBy("content_hash")

  private val dedupExactSql =
    """SELECT md5(text) AS content_hash, COUNT(*) AS n_docs,
      |  MIN(doc_id) AS canonical_id
      |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin

  /** Canonical-form exact dedup — the C4-style "normalize then hash" stage
    * that `dedup_exact` (byte-exact) misses: lowercase, strip everything
    * but [a-z0-9 ], collapse runs of spaces, trim, THEN hash. Catches
    * case/punctuation/whitespace variants of the same document, the most
    * common near-identical class in scraped corpora, at exact-dedup cost
    * (one hash groupBy, map-side combining — no candidate generation).
    * `n_raw_variants` counts distinct raw byte-strings per canonical group,
    * so `n_raw_variants > 1` rows are exactly what this stage catches over
    * the byte-exact one. Same 100 TB shape as dedup_exact: one shuffle on
    * the 128-bit hash, uniform by construction. */
  private def dedupCanonical(s: SparkSession, dir: String): DataFrame = {
    val canon = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    t(s, dir, "documents")
      .groupBy(md5(canon).as("canon_hash"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_raw_variants"),
        min(col("doc_id")).as("canonical_id"))
      .orderBy("canon_hash")
  }

  private val dedupCanonicalSql =
    """SELECT
      |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |    ' +', ' ', 'g'))) AS canon_hash,
      |  COUNT(*) AS n_docs,
      |  COUNT(DISTINCT text) AS n_raw_variants,
      |  MIN(doc_id) AS canonical_id
      |FROM documents GROUP BY 1 ORDER BY canon_hash""".stripMargin

  /** Log₂-bucketed duplicate-cluster size histogram over the canonical-hash
    * clusters — the one-page "how duplicated is this corpus, and in what
    * shapes?" report a pipeline reads BEFORE choosing its dedup strategy
    * (a corpus whose mass sits in a few giant clusters wants the cheap
    * exact pass first; a long tail of pairs wants the near-dup machinery).
    * Reference analog: the pre-load distinct counts the staging audit takes
    * before dedup (`python/03_upsert_dw_pedidos.py` audit counts), lifted
    * to cluster-size distribution.
    *
    * Same normalize-then-hash canonical rule as [[dedupCanonical]]; NULL
    * text is excluded on both sides (a NULL canon hash would group all
    * NULL-text docs into one fake "cluster" — NULL is never canonical,
    * the contract the streaming prune gate pins). Bucket index is
    * floor(log₂ size) via binary-rendering length — libm-free, exact on
    * both engines (the degree_histogram contract). dup_ratio_milli =
    * ⌊1000·(docs−clusters)/docs⌋ per bucket, integer floor division both
    * sides.
    *
    * Scale shape: scan → one hash aggregate on the canon hash (map-side
    * combining, key space = distinct clusters) → one ≤64-key aggregate.
    * No joins, no windows; the output is ≤64 rows whatever the corpus —
    * this runs as a side report at any scale. */
  private def dupClusterStats(s: SparkSession, dir: String): DataFrame = {
    val sizes = t(s, dir, "documents")
      .filter(col("text").isNotNull)
      .groupBy(TextOps.canonHash(col("text")).as("canon_hash"))
      .agg(count(lit(1)).as("sz"))
    sizes
      .select(col("sz"), (length(bin(col("sz"))) - 1).cast("int").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
      .select(col("bucket"), expr("shiftleft(1L, bucket)").as("size_lo"),
        col("n_clusters"), col("n_docs"),
        (col("n_docs") - col("n_clusters")).as("n_dupes"),
        expr("1000 * (n_docs - n_clusters) div n_docs").as("dup_ratio_milli"))
      .orderBy("bucket")
  }

  private val dupClusterStatsSql =
    """WITH sizes AS (
      |  SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |           ' +', ' ', 'g'))) AS canon_hash,
      |         COUNT(*) AS sz
      |  FROM documents WHERE text IS NOT NULL GROUP BY 1)
      |SELECT CAST(length(bin(sz)) - 1 AS INT) AS bucket,
      |  CAST((1::BIGINT << (length(bin(sz)) - 1)) AS BIGINT) AS size_lo,
      |  COUNT(*) AS n_clusters,
      |  CAST(SUM(sz) AS BIGINT) AS n_docs,
      |  CAST(SUM(sz) - COUNT(*) AS BIGINT) AS n_dupes,
      |  CAST(1000 * (SUM(sz) - COUNT(*)) // SUM(sz) AS BIGINT) AS dup_ratio_milli
      |FROM sizes GROUP BY 1, 2 ORDER BY bucket""".stripMargin

  /** Word trigram shingles (distinct) of a text column, exploded. */
  private[queries] def trigramShingles(docs: DataFrame): DataFrame = {
    // materialize the split ONCE per row: inlining `split` into the
    // transform lambda re-evaluates the regex split (and allocates the
    // full word array) for EVERY element_at call — 3 per trigram, ~300
    // per document; CollapseProject keeps a multiply-referenced non-cheap
    // alias materialized, so this projection is the fix, not a style
    // choice (measured 12.6 s → ~3 s on containment_pairs at sf0.1)
    val w = col("w")
    val tris = when(size(w) >= 3,
      transform(sequence(lit(0), size(w) - 3),
        i => concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2),
          element_at(w, i + 3))))
      .otherwise(array().cast("array<string>"))
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(array_distinct(tris)).as("sh"))
  }

  private val trigramShinglesSql =
    """SELECT DISTINCT doc_id, s AS sh
      |FROM docs, UNNEST(list_transform(range(greatest(len(w)-2, 0)),
      |  i -> w[i+1]||' '||w[i+2]||' '||w[i+3])) t(s)""".stripMargin

  /** N-gram Jaccard near-dup pairs: word-trigram shingle sets, pairwise
    * intersection via shingle equi-join (not all-pairs), jaccard in exact
    * milli units. Sampled (doc_id % 10 = 0) to bound candidate volume. */
  private def ngramJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(inSample)
    val sh = trigramShingles(docs)
    // df-cap the join key: a shingle shared by > maxTokenDf docs is the
    // quadratic key at web scale — drop it and log the drop. The drop is
    // applied CONSISTENTLY: intersection counts AND set sizes both run on
    // the capped shingle set, so when the cap binds the output is the exact
    // Jaccard over the restricted vocabulary (df ≤ cap), not a numerator-
    // only underestimate. Never binds at test scale → oracle unchanged.
    val shDf = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val okSh = withDropMetric(s, shDf, "graft_drop_ngram_shingle",
        sum(when(col("df") > maxTokenDf(s), 1L).otherwise(0L)))
      .filter(col("df") <= maxTokenDf(s))
      .select(col("sh"))
    // capped shingle relation feeds three consumers (set sizes + both
    // self-join sides): registry-cached LAZY persist so the explode +
    // df-cap subtree evaluates once across them AND repeated invocations
    // reuse one copy with release-ladder coverage (the kcoreEdges
    // discipline; LazyPlanSpec rationale for the laziness)
    val shOk = Util.cachedRelation(s, dir, "ngramShinglesCapped",
      s"df=${maxTokenDf(s)}")(sh.join(okSh, Seq("sh"), "left_semi"))
    val sizes = shOk.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = shOk.as("a"); val b = shOk.as("b")
    val inter = a.join(b, col("a.sh") === col("b.sh") &&
      col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "na"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "nb"), "b_id")
      .select(col("a_id"), col("b_id"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"),
        floor(lit(1000.0) * col("inter") / (col("na") + col("nb") - col("inter")))
          .cast("long").as("jaccard_milli"))
      .orderBy("a_id", "b_id")
  }

  private val ngramJaccardPairsSql =
    s"""WITH docs AS (SELECT doc_id, string_split(text,' ') w FROM documents WHERE doc_id % $sampleMod = 0),
       |sh AS ($trigramShinglesSql),
       |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id a_id, b.doc_id b_id, COUNT(*) inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT a_id, b_id, inter, sa.n + sb.n - inter AS uni,
       |  CAST(floor(1000.0 * inter / (sa.n + sb.n - inter)) AS BIGINT) AS jaccard_milli
       |FROM pairs JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id
       |ORDER BY a_id, b_id""".stripMargin

  val minhashSeeds = 16
  val bandSize = 4 // → 4 bands

  /** Per-doc 16-seed MinHash signature columns m0..m15 over word shingles.
    * One row per shingle carrying all 16 seeded hashes as columns: a single
    * map-side-combining hash aggregate (no seed cross-join, no collect_list
    * — 16× fewer shuffled rows than the naive plan). */
  private def minhashSignaturesOf(docs: DataFrame): DataFrame =
    sigsOfShingles(docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("sh")))

  /** Signature aggregate over an ARBITRARY (doc_id, sh) shingle relation —
    * the word-unigram dedup family and the trigram-shingled fuzzy
    * decontamination tier share this one copy of the seeded-md5 min
    * aggregate. */
  private def sigsOfShingles(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id")).agg(
      min(md5(concat(lit("0"), lit(":"), col("sh")))).as("m0"),
      (1 until minhashSeeds).map(seed =>
        min(md5(concat(lit(seed.toString), lit(":"), col("sh")))).as(s"m$seed")): _*)

  /** Band relation over an arbitrary shingle relation — see
    * [[sigsOfShingles]]. */
  private[queries] def minhashBandsOfShingles(sh: DataFrame): DataFrame =
    bandsOfSigs(sigsOfShingles(sh))

  /** THE session-cached 16-seed signature relation over the FULL
    * documents table — one copy of the family's dominant cost (the
    * word explode + 16-column min-md5 aggregate). Every word-unigram
    * MinHash consumer derives from this one relation: the cluster
    * query reads it directly, band consumers run [[bandsOfSigs]] over
    * it (4 md5s per doc — trivial against the in-memory cache), and
    * the %10-sampled audits FILTER it (signatures are per-doc
    * aggregates keyed by doc_id, so sigs(docs.filter(P)) ≡
    * sigs(docs).filter(P) exactly — same rows, same values). Before
    * round 18 the suite ran this aggregate six times per session
    * (three full-corpus copies + three subset copies); a scoped
    * single-audit run now pays the full-corpus pass where it paid a
    * subset pass — the right trade for the full-suite/service session
    * shape this cache exists for. Oracles are untouched: each query's
    * SQL twin still recomputes its own signatures, so the hash compare
    * keeps certifying the derivation, not shared code. */
  private def sharedMinhashSigs(s: SparkSession, dir: String): DataFrame =
    Util.cachedRelation(s, dir, "minhashSigs", "")(
      minhashSignaturesOf(t(s, dir, "documents")))

  /** The %10-SAMPLE signature relation the CC/audit consumers actually
    * read — its own cache entry built from the FILTERED documents scan,
    * not a filter over the full-corpus cache. Signatures are per-doc
    * aggregates, so sigs(docs.filter(P)) ≡ sigs(docs).filter(P) exactly
    * (same rows, same values — the [[sharedMinhashSigs]] invariance),
    * but the build cost is 10% of the corpus instead of 100%: round 18
    * charged the FULL word-explode + 16-seed aggregate to the first
    * sampled consumer in any sorted walk (`cc_incremental`, the round-18
    * verdict's item 3) because the shared relation filtered AFTER the
    * aggregate. Full-corpus consumers (clusters, band stats, the
    * incremental dedup) still share the one full cache. */
  private def sharedMinhashSigsSampled(s: SparkSession, dir: String): DataFrame =
    Util.cachedRelation(s, dir, "minhashSigsCc", "")(
      minhashSignaturesOf(
        t(s, dir, "documents").filter(inSample)))

  /** Band relation from an ALREADY-BUILT signature frame — split out so a
    * caller holding a cached m0..m15 relation (the estimator audit) can
    * band it without re-running the token explode + 16-column aggregate. */
  private def bandsOfSigs(minh: DataFrame): DataFrame = {
    val bandSigs = (0 until minhashSeeds / bandSize).map { b =>
      md5(concat_ws("|", (b * bandSize until (b + 1) * bandSize).map(seed =>
        concat(lit(f"$seed%02d:"), col(s"m$seed"))): _*)).as(s"sig$b")
    }
    minh.select(col("doc_id") +: bandSigs: _*)
      .select(col("doc_id"), explode(array(
        (0 until minhashSeeds / bandSize).map(b =>
          struct(lit(b).as("band"), col(s"sig$b").as("band_sig"))): _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"),
        col("bs.band_sig").as("band_sig"))
  }

  private val minhashSignaturesSql =
    s"""sh AS (SELECT DISTINCT doc_id, s AS sh FROM documents, UNNEST(string_split(text,' ')) t(s)),
       |minh AS (
       |  SELECT doc_id,
       |    ${(0 until minhashSeeds).map(i => s"MIN(md5('$i' || ':' || sh)) AS m$i").mkString(",\n    ")}
       |  FROM sh GROUP BY doc_id)""".stripMargin

  /** MinHash dedup: docs sharing the FULL 16-hash signature form a duplicate
    * cluster; each doc reports its cluster canonical (min doc id) and size.
    * Output is one row per doc — bounded at any scale, unlike materialized
    * candidate pairs which go quadratic inside near-dup clusters. */
  private def dedupMinhashClusters(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sig = md5(concat_ws("|",
      (0 until minhashSeeds).map(i => col(s"m$i")): _*))
    val w = Window.partitionBy(col("sig"))
    sharedMinhashSigs(s, dir)
      .withColumn("sig", sig)
      .select(col("doc_id"), col("sig"),
        min(col("doc_id")).over(w).as("canonical_id"),
        count(lit(1)).over(w).as("cluster_size"))
      .orderBy("doc_id")
  }

  private val dedupMinhashClustersSql =
    s"""WITH $minhashSignaturesSql,
       |sigs AS (SELECT doc_id,
       |  md5(${(0 until minhashSeeds).map(i => s"m$i").mkString(" || '|' || ")}) AS sig
       |  FROM minh)
       |SELECT doc_id, sig,
       |  MIN(doc_id) OVER (PARTITION BY sig) AS canonical_id,
       |  COUNT(*) OVER (PARTITION BY sig) AS cluster_size
       |FROM sigs ORDER BY doc_id""".stripMargin

  /** LSH banding statistics: the 16 minhashes in 4 bands of 4; per band,
    * how many bucket collisions and how many candidate pairs they imply
    * (Σ k·(k−1)/2). This is the cost model of the LSH join — the number the
    * scale path actually needs — without materializing the pairs. */
  private def lshBandStats(s: SparkSession, dir: String): DataFrame = {
    bandsOfSigs(sharedMinhashSigs(s, dir))
      .groupBy(col("band"), col("band_sig"))
      .agg(count(lit(1)).as("k"))
      .groupBy(col("band"))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(when(col("k") > 1, 1).otherwise(0)).as("n_colliding_buckets"),
        sum(col("k") * (col("k") - 1) / 2).cast("long").as("n_candidate_pairs"))
      .orderBy("band")
  }

  private val lshBandStatsSql = {
    val bandSigDefs = (0 until minhashSeeds / bandSize).map { b =>
      val parts = (b * bandSize until (b + 1) * bandSize)
        .map(seed => f"'$seed%02d:' || m$seed").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($parts) AS band_sig FROM minh"
    }.mkString("\n  UNION ALL ")
    s"""WITH $minhashSignaturesSql,
       |bands AS (
       |  $bandSigDefs),
       |buckets AS (
       |  SELECT band, band_sig, COUNT(*) AS k FROM bands GROUP BY 1, 2)
       |SELECT band, COUNT(*) AS n_buckets,
       |  CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_colliding_buckets,
       |  CAST(SUM(k * (k - 1) / 2) AS BIGINT) AS n_candidate_pairs
       |FROM buckets GROUP BY band ORDER BY band""".stripMargin
  }

  /** 64-bit SimHash per document over distinct words, emitted as 16 hex
    * nibbles (low nibble first). Bit j's source is bit (j mod 4) of hex
    * digit (j div 4) of md5(word); contribution ±1; bit set iff the sum is
    * ≥ 0. Everything is integer arithmetic on md5 hex digits, so the Spark
    * and DuckDB results are identical by construction. */
  /** Per-doc signed SimHash bit sums s0..s63 over distinct words (shared by
    * the signature query and the near-dup pair query). */
  private def simhashSums(docs: DataFrame): DataFrame = {
    val wordsDf = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("w"))
      .withColumn("h", md5(col("w")))
    // per-word hex digit values d0..d15
    val withDigits = (0 until 16).foldLeft(wordsDf) { (df, i) =>
      df.withColumn(s"d$i",
        (instr(lit("0123456789abcdef"), substring(col("h"), i + 1, 1)) - 1).cast("int"))
    }
    // per-doc signed bit sums s0..s63
    val sumExprs = (0 until 64).map { j =>
      val bit = shiftright(col(s"d${j / 4}"), j % 4).bitwiseAND(lit(1))
      sum(bit * 2 - 1).as(s"s$j")
    }
    withDigits.groupBy(col("doc_id")).agg(sumExprs.head, sumExprs.tail: _*)
  }

  private def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val sums = simhashSums(t(s, dir, "documents"))
    // reassemble nibbles → hex chars
    val hexChars = (0 until 16).map { i =>
      val n = (0 until 4).map { k =>
        when(col(s"s${4 * i + k}") >= 0, 1 << k).otherwise(0)
      }.reduce((a: Column, b: Column) => a + b)
      lit("0123456789abcdef").substr(n + 1, lit(1))
    }
    sums.select(col("doc_id"), concat(hexChars: _*).as("simhash"))
      .orderBy("doc_id")
  }

  private val dedupSimhashSql = {
    val digitDefs = (0 until 16).map(i =>
      s"strpos('0123456789abcdef', substr(h, ${i + 1}, 1)) - 1 AS d$i").mkString(",\n    ")
    val sumDefs = (0 until 64).map(j =>
      s"SUM(((d${j / 4} >> ${j % 4}) & 1) * 2 - 1) AS s$j").mkString(",\n    ")
    val nibbleChars = (0 until 16).map { i =>
      val n = (0 until 4).map(k => s"(CASE WHEN s${4 * i + k} >= 0 THEN ${1 << k} ELSE 0 END)")
        .mkString(" + ")
      s"substr('0123456789abcdef', ($n) + 1, 1)"
    }.mkString(" || ")
    s"""WITH w AS (SELECT DISTINCT doc_id, s AS w FROM documents, UNNEST(string_split(text,' ')) t(s)),
       |digits AS (SELECT doc_id, $digitDefs FROM (SELECT doc_id, md5(w) h FROM w)),
       |sums AS (SELECT doc_id, $sumDefs FROM digits GROUP BY doc_id)
       |SELECT doc_id, $nibbleChars AS simhash FROM sums ORDER BY doc_id""".stripMargin
  }

  /** SimHash near-duplicate pairs — the full simhash dedup pipeline, not
    * just the signature: the 64-bit signature splits into 4 bands of 16
    * bits; candidates are pairs sharing at least one band (equi-join on
    * (band, value) — never all-pairs), verified with the exact Hamming
    * distance (XOR + popcount per band). Recall contract: pigeonhole over
    * 4 bands GUARANTEES candidates for Hamming ≤ 3; beyond that recall is
    * probabilistic (standard LSH banding trade-off — more/narrower bands
    * raise recall and candidate cost). The oracle applies the identical
    * banding, so the compare checks the scheme, not an exhaustive pair
    * list. Sampled docs (% 10) bound candidate volume; the ≤ 12-bit flag
    * marks verified candidates as near-dups.
    *
    * Scale shape: band bucketing is the same "join on bucket" discipline
    * as MinHash-LSH; verification touches candidates only; popcount is a
    * codegen'd integer op. */
  private def simhashNeardupPairs(s: SparkSession, dir: String): DataFrame =
    simhashPairsRel(s, dir).orderBy("a_id", "b_id")

  /** The verified SimHash pair relation behind [[simhashNeardupPairs]] AND
    * [[dedupTierAgreement]], session-cached via [[Util.cachedRelation]]
    * (keyed on the bucket cap): the agreement matrix used to RECOMPUTE the
    * whole banded pass while the MinHash side rode the cached ccEdges —
    * asymmetric at scale. Now both tiers pay their pair discovery once per
    * session. Unordered — each consumer adds its own ordering. */
  private def simhashPairsRel(s: SparkSession, dir: String): DataFrame =
    Util.cachedRelation(s, dir, "simhashNeardupPairs",
      s"bucket=${maxSimhashBucket(s)}")(simhashPairsUncached(s, dir))

  private def simhashPairsUncached(s: SparkSession, dir: String): DataFrame = {
    val sums = simhashSums(
      t(s, dir, "documents").filter(inSample))
    val bandCols = (0 until 4).map { m =>
      (0 until 16).map { k =>
        when(col(s"s${16 * m + k}") >= 0, 1 << k).otherwise(0)
      }.reduce((a: Column, b: Column) => a + b).cast("int").as(s"b$m")
    }
    // one row per doc, 5 ints, referenced four times downstream (bucket
    // sizes, both self-join sides, both verification sides). A LAZY
    // registry-cached persist makes the heavy (md5 explode + 64-col
    // aggregate) subtree evaluate once across those references without
    // running anything at construction — a checkpoint would not: even
    // localCheckpoint(eager = false) calls physicalPlan.execute() at
    // construction, which under AQE materializes every shuffle stage and
    // breaks schema/explain-only callers (LazyPlanSpec guards this). The
    // registry (vs a bare persist) adds release-ladder coverage: the
    // outer simhashPairsRel cache made this a once-per-session build
    // already, but its blocks were otherwise unreclaimable.
    val bands = Util.cachedRelation(s, dir, "simhashBands", "")(
      sums.select((col("doc_id") +: bandCols): _*))
    // bucket per (band index, band value); candidates via a self-equi-join
    // on the bucket key (band, v) — exactly the oracle's formulation — so
    // pairs STREAM through the join instead of collecting one array per
    // bucket: a skewed band value (the all-zero band common to short docs)
    // can no longer put the whole sampled corpus on one task. Buckets
    // beyond maxSimhashBucket are dropped from one join side (bucket
    // membership is a (band, v) property, so one side suffices) with the
    // drop logged via the graft_drop_* observation; the cap never binds at
    // test scale, so oracle output is unchanged there.
    val longF = bands.select(col("doc_id"), explode(array(
      (0 until 4).map(m => struct(lit(m).as("band"), col(s"b$m").as("v"))): _*)).as("bv"))
      .select(col("doc_id"), col("bv.band").as("band"), col("bv.v").as("v"))
    val bucketSizes = longF.groupBy(col("band"), col("v"))
      .agg(count(lit(1)).as("k"))
    val okBuckets = withDropMetric(s, bucketSizes, "graft_drop_simhash_bucket",
        sum(when(col("k") > maxSimhashBucket(s), 1L).otherwise(0L)))
      .filter(col("k") > 1 && col("k") <= maxSimhashBucket(s))
      .select(col("band"), col("v"))
    val eligible = longF.join(okBuckets, Seq("band", "v"), "left_semi")
    val cand = eligible.as("x").join(longF.as("y"),
        col("x.band") === col("y.band") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    val ba = bands.select(col("doc_id").as("a_id"),
      col("b0").as("a0"), col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
    val bb = bands.select(col("doc_id").as("b_id"),
      col("b0").as("c0"), col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
    cand.join(ba, "a_id").join(bb, "b_id")
      .withColumn("hamming", (0 until 4).map(m =>
        bit_count(col(s"a$m").bitwiseXOR(col(s"c$m")).cast("long")))
        .reduce((a: Column, b: Column) => a + b).cast("long"))
      .select(col("a_id"), col("b_id"), col("hamming"),
        (col("hamming") <= 12).as("is_neardup"))
  }

  /** The sx_* WITH-chain of the SimHash oracle (sampled universe, 64-bit
    * signature as 4 bands, band-bucket candidate join) plus the hamming
    * expression over `ba`/`bb` band aliases — shared verbatim by
    * [[simhashNeardupPairsSql]] and [[dedupTierAgreementSql]] so the two
    * oracles can never drift. CTE names are sx_-prefixed so the chain
    * composes with [[ccEdgesSqlCtes]] (which owns `bands`/`cand`/`sh`). */
  private val simhashSqlCtes: String = {
    val digitDefs = (0 until 16).map(i =>
      s"strpos('0123456789abcdef', substr(h, ${i + 1}, 1)) - 1 AS d$i").mkString(",\n    ")
    val sumDefs = (0 until 64).map(j =>
      s"SUM(((d${j / 4} >> ${j % 4}) & 1) * 2 - 1) AS s$j").mkString(",\n    ")
    val bandDefs = (0 until 4).map { m =>
      "(" + (0 until 16).map(k =>
        s"(CASE WHEN s${16 * m + k} >= 0 THEN ${1 << k} ELSE 0 END)").mkString(" + ") +
        s") AS b$m"
    }.mkString(",\n  ")
    s"""sx_w AS (SELECT DISTINCT doc_id, s AS w
       |         FROM (SELECT doc_id, text FROM documents WHERE doc_id % $sampleMod = 0) sx_d,
       |              UNNEST(string_split(text,' ')) t(s)),
       |sx_digits AS (SELECT doc_id, $digitDefs FROM (SELECT doc_id, md5(w) h FROM sx_w)),
       |sx_sums AS (SELECT doc_id, $sumDefs FROM sx_digits GROUP BY doc_id),
       |sx_bands AS (SELECT doc_id, $bandDefs FROM sx_sums),
       |sx_long AS (
       |  SELECT doc_id, 0 AS band, b0 AS v FROM sx_bands
       |  UNION ALL SELECT doc_id, 1, b1 FROM sx_bands
       |  UNION ALL SELECT doc_id, 2, b2 FROM sx_bands
       |  UNION ALL SELECT doc_id, 3, b3 FROM sx_bands),
       |sx_cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM sx_long a JOIN sx_long b ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id)""".stripMargin
  }
  private val simhashHammingSql: String = (0 until 4).map(m =>
    s"bit_count(xor(CAST(ba.b$m AS BIGINT), CAST(bb.b$m AS BIGINT)))").mkString("\n  + ")

  private val simhashNeardupPairsSql =
    s"""WITH $simhashSqlCtes
       |SELECT c.a_id, c.b_id,
       |  CAST($simhashHammingSql AS BIGINT) AS hamming,
       |  ($simhashHammingSql) <= 12 AS is_neardup
       |FROM sx_cand c JOIN sx_bands ba ON ba.doc_id = c.a_id JOIN sx_bands bb ON bb.doc_id = c.b_id
       |ORDER BY a_id, b_id""".stripMargin

  /** Per-bucket candidate cap for connected-components edge discovery: a
    * (band, band_sig) bucket larger than this is dropped from the candidate
    * join and logged. 100 TB rationale: the quadratic key here is a giant
    * duplicate cluster (a boilerplate page with 10⁶ copies shares all 4
    * band signatures → |bucket|² candidates on one key); everything else is
    * md5-uniform by construction. Never binds at test scale, so oracle
    * output is unchanged there.
    * Session conf `graft.cap.ccBucket` overrides per deployment. */
  val maxCcBucketDefault = 1024
  def maxCcBucket(s: SparkSession): Int =
    s.conf.getOption("graft.cap.ccBucket").map(_.toInt)
      .getOrElse(maxCcBucketDefault)

  /** Connected components over the near-duplicate graph: nodes are sampled
    * docs; edges are MinHash-LSH candidate pairs (≥ 1 shared band of the
    * 16-seed / 4-band signature — [[bandsOfSigs]] over the same
    * [[sharedMinhashSigs]] relation as `lsh_band_stats`) verified at
    * word-set Jaccard ≥ 0.5 in exact milli
    * units; components come from iterative min-label propagation — the
    * Pregel-style loop that dedups transitively linked clusters at 100 TB
    * where a single groupBy on signature can't (A~B, B~C, A≁C must still
    * merge).
    *
    * Edge discovery is the band equi-join, NEVER a raw shared-word join: a
    * stop word with df = 10⁶ makes a word-keyed join quadratic no matter
    * how it is capped, while band buckets are md5-uniform and additionally
    * capped ([[maxCcBucket]], drop-logged). Verification then reads the two
    * word sets as row-local arrays (`array_intersect`) — candidate-pair-
    * sized work with no token shuffle at all. Recall contract: as with
    * [[simhashNeardupPairs]], banding guarantees a candidate for every pair
    * sharing a full band (identical docs always; a J = 0.5 pair with
    * probability 1−(1−J⁴)⁴); the oracle applies the IDENTICAL banding, so
    * the compare checks the scheme, not exhaustive edge recall.
    *
    * Each iteration is one join + one hash-agg (shuffle keyed by node), run
    * until the label sum reaches a fixpoint; labels decrease monotonically,
    * so the sum is a valid convergence metric and the fixpoint (min reachable
    * label per node) is unique — deterministic regardless of execution
    * order. localCheckpoint truncates the growing lineage each round.
    * The oracle is a recursive-CTE transitive closure over the same edges. */
  /** Edge-discovery subplan of [[connectedComponents]], exposed for plan
    * audits (graft.tools.Explain → PLANS.md): the iterative query
    * materializes edges EAGERLY at construction, so this — the expensive,
    * scale-critical part — is invisible in the final frame's explain.
    * Returns (band relation persist handle, undirected-candidate edges).
    * Explain-only callers never run an action, so the lazy persist is
    * registered but never materialized; [[connectedComponents]] releases
    * it once edges checkpoint. */
  def ccEdgeDiscovery(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents").filter(inSample)
    // candidate edges from the MinHash band relation: equi-join on the
    // bucket key (band, band_sig), buckets beyond maxCcBucket dropped from
    // one side (bucket membership is a key property, so one side kills the
    // pair) with the drop logged via the graft_drop_* observation
    // the band relation feeds three consumers (bucket sizes, the eligible
    // semi-join, the y join side): LAZY persist so the banding evaluates
    // once — same construction-safe pattern as the simhash `bands` persist
    // above. The signatures underneath come from the SAMPLED shared cache
    // ([[sharedMinhashSigsSampled]]): per-doc invariance makes it row-equal
    // to filtering the full relation, at 10% of the build cost — round 18
    // built the full corpus's signatures here and cc_incremental paid it.
    val bl = bandsOfSigs(sharedMinhashSigsSampled(s, dir)).persist()
    val bucketSizes = bl.groupBy(col("band"), col("band_sig"))
      .agg(count(lit(1)).as("k"))
    val okBuckets = withDropMetric(s, bucketSizes, "graft_drop_cc_bucket",
        sum(when(col("k") > maxCcBucket(s), 1L).otherwise(0L)))
      .filter(col("k") > 1 && col("k") <= maxCcBucket(s))
      .select(col("band"), col("band_sig"))
    val eligible = bl.join(okBuckets, Seq("band", "band_sig"), "left_semi")
    val cand = eligible.as("x").join(bl.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_sig") === col("y.band_sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    // verification: exact word-set Jaccard per candidate on row-local
    // arrays. The milli cut is cross-multiplied (floor((1000·i)/u) ≥ 500 ⟺
    // 1000·i ≥ 500·u for positive u) so neither engine divides; i ≥ 1 pins
    // both engines to the shared-word requirement (u > 0 follows).
    val docsW = docs.select(col("doc_id"),
      array_distinct(filter(split(col("text"), " "), x => x =!= "")).as("ws"))
    val wa = docsW.select(col("doc_id").as("a_id"), col("ws").as("wa"),
      size(col("ws")).as("na"))
    val wb = docsW.select(col("doc_id").as("b_id"), col("ws").as("wb"),
      size(col("ws")).as("nb"))
    val edges0 = cand.join(wa, "a_id").join(wb, "b_id")
      .withColumn("i", size(array_intersect(col("wa"), col("wb"))))
      .filter(col("i") >= 1 &&
        lit(1000) * col("i") >= lit(500) * (col("na") + col("nb") - col("i")))
      .select("a_id", "b_id")
    (bl, edges0)
  }

  /** Converged CC labels (node, label), cached per (session, dir,
    * bucket-cap knob) exactly like [[ccEdges]]: [[connectedComponents]] and
    * [[softDedupWeights]] both need the full iterative fixpoint, so one
    * session pays the label-propagation loop ONCE and each consumer layers
    * its own windows on the checkpointed result. The miss path runs Spark
    * jobs; [[Util.cached]] pays it once however many callers race, and
    * its ccEdges fetch nests under its own key. */
  private def ccLabels(s: SparkSession, dir: String): DataFrame =
    Util.cached(s, dir, "ccLabels", maxCcBucket(s).toString)(
      ccLabelsUncached(s, dir))
  private def ccLabelsUncached(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(inSample)
    // session-cached checkpoint; bl released inside ccEdges
    ccFixpointLoop(docs.select(col("doc_id").as("node")), ccEdges(s, dir))
  }

  /** The min-label-propagation fixpoint itself, factored from the graph it
    * runs on: `nodes` is one LongType column `node`, `edges0` an undirected
    * (a_id, b_id) pair relation. Returns converged (node, label) where label
    * = MIN node id reachable from `node` — the unique fixpoint, independent
    * of execution order. Runs on the FULL graph for [[ccLabels]] and on the
    * increment-sized contracted graph for [[ccIncremental]]; cost is
    * O(|edges| log diameter) either way, which is exactly why the
    * incremental path contracts first. */
  private def ccFixpointLoop(nodes: DataFrame, edges0: DataFrame): DataFrame = {
    val edges = edges0.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(edges0.select(col("b_id").as("src"), col("a_id").as("dst")))
      .localCheckpoint() // iterations re-join this directed form
    // intermediates are released by Util.unpersistDeep as soon as they are
    // superseded (no getPersistentRDDs diffing, which could race a
    // concurrent query). Only the final labels generation stays pinned —
    // the returned frame reads it.
    var labels = nodes.select(col("node"), col("node").as("label"))
      .localCheckpoint()
    // coalesce: sum over zero rows is null (empty node set must return an
    // empty result, not NPE)
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("label")), lit(0L))).head().getLong(0)
    var prevSum = -1L
    var curSum = labelSum(labels)
    var iter = 0
    val maxIter = 40
    while (curSum != prevSum && iter < maxIter) {
      // neighbor propagation: min over adjacent labels
      val prop = edges.join(labels, edges("src") === labels("node"))
        .select(col("dst").as("node"), col("label"))
      val stepped = labels.unionByName(prop)
        .groupBy("node").agg(min(col("label")).as("label"))
      // pointer doubling: also adopt the label OF my label, which halves
      // the remaining path each round — convergence in O(log diameter)
      // iterations instead of O(diameter), so a 10^6-node chain needs ~20
      // rounds, not 10^6
      val byLabel = stepped.select(col("node").as("l_node"), col("label").as("l_label"))
      val next = stepped.join(byLabel, stepped("label") === byLabel("l_node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("l_label"), col("label"))).as("label"))
        .localCheckpoint()
      // the new checkpoint is materialized and lineage-free: the previous
      // generation's blocks are dead weight — free them immediately
      Util.unpersistDeep(labels)
      labels = next
      prevSum = curSum
      curSum = labelSum(labels)
      iter += 1
    }
    Util.unpersistDeep(edges) // done; only the final labels stay pinned
    // fail loudly rather than emit wrong components: the oracle computes
    // the exact closure, and a silent cap would diverge invisibly
    if (curSum != prevSum)
      throw new IllegalStateException(
        s"connected_components did not converge in $maxIter iterations")
    labels
  }

  private def connectedComponents(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    ccLabels(s, dir)
      .select(col("node").as("doc_id"), col("label").as("component"))
      .withColumn("comp_size", count(lit(1)).over(Window.partitionBy(col("component"))))
      .orderBy("doc_id")
  }

  /** The d → … → edges0 WITH-chain of the CC oracle (sampled universe,
    * banding, capless candidate join, exact Jaccard verify at J ≥ 0.5) —
    * shared verbatim by [[connectedComponentsSql]] and
    * [[crossSourceLeakageSql]] so the two oracles can never drift. */
  /** Parametrized oracle CTE chain `${p}sh` / `${p}minh` / `${p}bands`
    * over a named (doc_id, text) CTE — ONE copy of the seeded-md5 MinHash
    * and 4×4 banding SQL for every oracle that bands a non-default doc
    * universe: [[ccEdgesSqlCtes]]'s sampled docs and the fuzzy
    * decontamination tier's train/bench splits
    * ([[CorpusOps]] `decontaminate_minhash`). The p = "" / src = "d"
    * instantiation is byte-identical to the chain the CC oracles always
    * used, so their hashes are untouched. */
  private[queries] def minhashBandsSqlCte(p: String, src: String): String =
    s"""${p}sh AS (SELECT DISTINCT doc_id, s AS sh FROM $src, UNNEST(string_split(text,' ')) t(s)),
      |${minhashBandsSqlCteOverShingles(p)}""".stripMargin

  /** The signature + banding half of [[minhashBandsSqlCte]] over a
    * caller-defined `${p}sh` (doc_id, sh) CTE — the SQL twin of
    * [[minhashBandsOfShingles]], for oracles whose shingle universe is
    * not word unigrams (the trigram-shingled fuzzy decontamination). */
  private[queries] def minhashBandsSqlCteOverShingles(p: String): String = {
    val minhDefs = (0 until minhashSeeds)
      .map(i => s"MIN(md5('$i' || ':' || sh)) AS m$i").mkString(",\n    ")
    val bandDefs = (0 until minhashSeeds / bandSize).map { b =>
      val parts = (b * bandSize until (b + 1) * bandSize)
        .map(seed => f"'$seed%02d:' || m$seed").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($parts) AS band_sig FROM ${p}minh"
    }.mkString("\n  UNION ALL ")
    s"""${p}minh AS (SELECT doc_id, $minhDefs FROM ${p}sh GROUP BY doc_id),
      |${p}bands AS (
      |  $bandDefs)""".stripMargin
  }

  private val ccEdgesSqlCtes: String = {
    s"""d AS (SELECT doc_id, text FROM documents WHERE doc_id % $sampleMod = 0),
      |${minhashBandsSqlCte("", "d")},
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
      |uw AS (SELECT DISTINCT doc_id, w
      |       FROM d, UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) t(w)),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM uw GROUP BY 1),
      |inter AS (
      |  SELECT c.a_id, c.b_id, COUNT(*) AS i
      |  FROM cand c
      |  JOIN uw a ON a.doc_id = c.a_id
      |  JOIN uw b ON b.doc_id = c.b_id AND b.w = a.w
      |  GROUP BY 1, 2),
      |edges0 AS (
      |  SELECT a_id, b_id FROM inter
      |  JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
      |  WHERE 1000 * i >= 500 * (sa.n + sb.n - i))""".stripMargin
  }

  /** Can dedup shard per source? Of the verified near-dup edges (the CC
    * edge relation: banded candidates, exact Jaccard ≥ 0.5, same sampled
    * universe and caps), how many CROSS a source boundary — aggregated per
    * unordered source pair. At 100 TB this report decides the most
    * consequential layout choice of the dedup stage: near-zero cross-source
    * mass means each source dedups independently (embarrassingly parallel,
    * no global shuffle); heavy cross rows name exactly which source pairs
    * must be co-partitioned. NULL sources bucket as '' on BOTH sides (a
    * NULL key would vanish from one engine's equi-join and not the
    * other's ordering — the fuzz-gate class).
    *
    * Scale shape: everything up to the edge list is the CC machinery
    * (shared relation, shared caps, shared drop metrics); this adds two
    * doc-keyed joins to a dimension-thin (doc_id, source) projection and
    * one ≤|sources|² aggregate. Edges materialize via localCheckpoint and
    * the band relation is released before return — the CC persist
    * lifecycle. */
  /** Checkpointed CC edge relation (a_id, b_id), cached per (session, dir,
    * bucket-cap knob) — [[connectedComponents]] and [[crossSourceLeakage]]
    * both consume it, so one bench/driver session pays edge discovery ONCE.
    * The band relation is released once the edges materialize. */
  private def ccEdges(s: SparkSession, dir: String): DataFrame =
    Util.cached(s, dir, "ccEdges", maxCcBucket(s).toString) {
      val (bl, edges0) = ccEdgeDiscovery(s, dir)
      val edges = edges0.localCheckpoint()
      bl.unpersist()
      edges
    }

  private def crossSourceLeakage(s: SparkSession, dir: String): DataFrame = {
    val edges = ccEdges(s, dir)
    val src = t(s, dir, "documents").filter(inSample)
      .select(col("doc_id"), coalesce(col("source"), lit("")).as("source"))
    edges
      .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")), "a_id")
      .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")), "b_id")
      .select(
        when(col("sa") <= col("sb"), col("sa")).otherwise(col("sb")).as("source_lo"),
        when(col("sa") <= col("sb"), col("sb")).otherwise(col("sa")).as("source_hi"))
      .groupBy("source_lo", "source_hi")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_cross", col("source_lo") =!= col("source_hi"))
      .orderBy("source_lo", "source_hi")
  }

  private val crossSourceLeakageSql =
    s"""WITH $ccEdgesSqlCtes,
      |src AS (SELECT doc_id, COALESCE(source, '') AS source
      |        FROM documents WHERE doc_id % $sampleMod = 0),
      |pairs AS (
      |  SELECT
      |    CASE WHEN sa.source <= sb.source THEN sa.source ELSE sb.source END
      |      AS source_lo,
      |    CASE WHEN sa.source <= sb.source THEN sb.source ELSE sa.source END
      |      AS source_hi
      |  FROM edges0 e
      |  JOIN src sa ON e.a_id = sa.doc_id
      |  JOIN src sb ON e.b_id = sb.doc_id)
      |SELECT source_lo, source_hi, COUNT(*) AS n_pairs,
      |  source_lo <> source_hi AS is_cross
      |FROM pairs GROUP BY 1, 2
      |ORDER BY source_lo, source_hi""".stripMargin

  /** Dedup-tier agreement matrix: of the near-dup PAIRS the two text tiers
    * find on the SAME sampled universe — MinHash-banded candidates verified
    * at word-set Jaccard ≥ 0.5 (the CC edge relation) vs SimHash band
    * candidates at hamming ≤ 12 — how many does each tier see that the
    * other misses? The 2×2 count table (both / minhash-only /
    * simhash-only) is the threshold-calibration report a 100 TB dedup run
    * computes on a sample BEFORE committing to a tier: heavy
    * minhash-only mass means simhash's hamming cut is too strict for this
    * corpus (or its 16-bit bands under-candidate), heavy simhash-only
    * mass means bag-of-words Jaccard is blind to the reorderings simhash
    * tolerates. Complements the recall audits ([[lsh_recall_audit]]
    * measures banding vs exact Jaccard; this measures tier vs tier).
    *
    * Scale shape: the MinHash side is the session-cached checkpointed CC
    * edge relation (paid once across connected_components /
    * cross_source_leakage / soft_dedup_weights / this); the SimHash side
    * is the session-cached [[simhashPairsRel]] shared with
    * `simhash_neardup_pairs` — both tiers' pair discovery is paid once per
    * session; the full-outer join is pair-count-sized and the output is
    * ≤ 3 rows. */
  private def dedupTierAgreement(s: SparkSession, dir: String): DataFrame = {
    val mh = ccEdges(s, dir)
      .select(col("a_id"), col("b_id"), lit(true).as("mh"))
    val sx = simhashPairsRel(s, dir).filter(col("is_neardup"))
      .select(col("a_id"), col("b_id"), lit(true).as("sx"))
    mh.join(sx, Seq("a_id", "b_id"), "full_outer")
      .select(coalesce(col("mh"), lit(false)).as("in_minhash"),
        coalesce(col("sx"), lit(false)).as("in_simhash"))
      .groupBy("in_minhash", "in_simhash")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("in_minhash", "in_simhash")
  }

  private val dedupTierAgreementSql =
    s"""WITH $ccEdgesSqlCtes,
      |$simhashSqlCtes,
      |sx_pairs AS (
      |  SELECT c.a_id, c.b_id
      |  FROM sx_cand c JOIN sx_bands ba ON ba.doc_id = c.a_id
      |                 JOIN sx_bands bb ON bb.doc_id = c.b_id
      |  WHERE ($simhashHammingSql) <= 12),
      |flags AS (
      |  SELECT COALESCE(m.ok, FALSE) AS in_minhash,
      |         COALESCE(s.ok, FALSE) AS in_simhash
      |  FROM (SELECT a_id, b_id, TRUE AS ok FROM edges0) m
      |  FULL JOIN (SELECT a_id, b_id, TRUE AS ok FROM sx_pairs) s
      |    USING (a_id, b_id))
      |SELECT in_minhash, in_simhash, COUNT(*) AS n_pairs
      |FROM flags GROUP BY 1, 2
      |ORDER BY in_minhash, in_simhash""".stripMargin

  private val connectedComponentsSql = {
    s"""WITH RECURSIVE $ccEdgesSqlCtes,
      |edges AS (SELECT a_id AS src, b_id AS dst FROM edges0
      |          UNION ALL SELECT b_id, a_id FROM edges0),
      |reach AS (
      |  SELECT doc_id AS node, doc_id AS label FROM d
      |  UNION
      |  SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node)
      |SELECT doc_id, component,
      |  COUNT(*) OVER (PARTITION BY component) AS comp_size
      |FROM (SELECT node AS doc_id, MIN(label) AS component FROM reach GROUP BY node)
      |ORDER BY doc_id""".stripMargin
  }

  /** Soft dedup: instead of DROPPING near-duplicates, emit a per-doc
    * sampling weight 1/|cluster| over the verified near-dup components
    * (the [[connectedComponents]] fixpoint — shared via [[ccLabels]], so a
    * session running both queries pays the propagation loop once), plus
    * the hard-dedup alternative as a flag: `is_kept` marks each cluster's
    * canonical copy, chosen as the LONGEST text (most tokens, ties to the
    * lowest doc_id) — the copy that preserves the most content, where the
    * min-id pick of `dedup_minhash_clusters` preserves an arbitrary one.
    *
    * This is the table a training sampler consumes when the corpus policy
    * is "each distinct content contributes equally": sampling every doc
    * with weight 1/comp_size is expectation-equivalent to keeping one
    * uniform copy, but keeps provenance diversity (every source's copy
    * stays addressable) and lets the same table drive hard dedup (filter
    * is_kept) without a second pass.
    *
    * Scale shape: everything heavy is the shared CC machinery; this adds
    * one token-count projection over the sampled docs, a doc-keyed join,
    * and two windows over ONE component-hash partitioning. Weight is
    * 1.0/comp_size in IEEE double — small-integer division, bit-identical
    * across engines. */
  private def softDedupWeights(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = ccLabels(s, dir)
      .select(col("node").as("doc_id"), col("label").as("component"))
    val toks = t(s, dir, "documents").filter(inSample)
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), x => x =!= "")).cast("long")
          .as("n_tokens"))
    val wComp = Window.partitionBy(col("component"))
    // NULLS LAST explicit on both engines: a NULL-text doc has a NULL
    // token count, and implicit engine defaults for DESC null placement
    // must not decide the canonical pick
    val wPick = Window.partitionBy(col("component"))
      .orderBy(col("n_tokens").desc_nulls_last, col("doc_id"))
    comp.join(toks, "doc_id")
      .withColumn("comp_size", count(lit(1)).over(wComp))
      .withColumn("rk", row_number().over(wPick))
      .select(col("doc_id"), col("component"), col("comp_size"), col("n_tokens"),
        (lit(1.0) / col("comp_size")).as("weight"),
        (col("rk") === 1).as("is_kept"))
      .orderBy("doc_id")
  }

  private val softDedupWeightsSql = {
    s"""WITH RECURSIVE $ccEdgesSqlCtes,
      |edges AS (SELECT a_id AS src, b_id AS dst FROM edges0
      |          UNION ALL SELECT b_id, a_id FROM edges0),
      |reach AS (
      |  SELECT doc_id AS node, doc_id AS label FROM d
      |  UNION
      |  SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node),
      |comp AS (SELECT node AS doc_id, MIN(label) AS component FROM reach GROUP BY node),
      |toks AS (SELECT doc_id,
      |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
      |    AS n_tokens FROM d),
      |j AS (
      |  SELECT c.doc_id, c.component, t.n_tokens,
      |    COUNT(*) OVER (PARTITION BY c.component) AS comp_size,
      |    ROW_NUMBER() OVER (PARTITION BY c.component
      |                       ORDER BY t.n_tokens DESC NULLS LAST, c.doc_id) AS rk
      |  FROM comp c JOIN toks t USING (doc_id))
      |SELECT doc_id, component, comp_size, n_tokens,
      |  CAST(1 AS DOUBLE) / comp_size AS weight, rk = 1 AS is_kept
      |FROM j ORDER BY doc_id""".stripMargin
  }

  /** Per-source end-to-end YIELD funnel over the sampled universe — the
    * one-page report a corpus owner reads after a pipeline run: how many
    * docs each source contributes raw, how many survive each independent
    * gate (row-local quality; exact-canonical under the `dedup_canonical`
    * hash rule, scoped to this universe; near-dup component
    * representative — the CC min-id pick), how many survive ALL gates,
    * and the exact-milli final yield. Sources whose yield collapses are
    * the re-crawl/re-clean candidates; the BETWEEN-sources budget
    * allocator (`token_budget_fill`) consumes exactly this kind of
    * signal.
    *
    * Scale shape: one pass over the sampled docs with two row-local
    * expressions, one canon-hash window (hash-partitioned), one join to
    * the session-cached CC labels ([[ccLabels]] — shared with the whole
    * CC family), one |sources|-row aggregate. Gates are reported
    * INDEPENDENTLY (each against the raw universe) plus the all-gates
    * intersection — the additive-decomposition shape an ops dashboard
    * wants. */
  private def corpusYieldReport(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = ccLabels(s, dir)
      .select(col("node").as("doc_id"), col("label").as("component"))
    val canonW = Window.partitionBy(col("ch"))
    val flagged = t(s, dir, "documents").filter(inSample)
      .select(col("doc_id"), coalesce(col("source"), lit("")).as("source"),
        col("text"), TextOps.canonHash(col("text")).as("ch"),
        coalesce(TextOps.qualityKeepLocal(col("text")), lit(false)).as("q"))
      .withColumn("is_canonical", col("text").isNotNull &&
        col("doc_id") === min(col("doc_id")).over(canonW))
      .join(comp, "doc_id")
      .withColumn("is_cc_kept", col("doc_id") === col("component"))
    flagged.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("q"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("is_canonical"), 1L).otherwise(0L)).as("n_canonical"),
        sum(when(col("is_cc_kept"), 1L).otherwise(0L)).as("n_cc_kept"),
        sum(when(col("q") && col("is_canonical") && col("is_cc_kept"), 1L)
          .otherwise(0L)).as("n_all"))
      .withColumn("yield_milli",
        floor(lit(1000.0) * col("n_all") / col("n_docs")).cast("long"))
      .orderBy("source")
  }

  private val corpusYieldReportSql =
    s"""WITH RECURSIVE $ccEdgesSqlCtes,
      |edges AS (SELECT a_id AS src, b_id AS dst FROM edges0
      |          UNION ALL SELECT b_id, a_id FROM edges0),
      |reach AS (
      |  SELECT doc_id AS node, doc_id AS label FROM d
      |  UNION
      |  SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node),
      |comp AS (SELECT node AS doc_id, MIN(label) AS component FROM reach GROUP BY node),
      |f AS (
      |  SELECT dd.doc_id, COALESCE(dd.source, '') AS source,
      |    (dd.text IS NOT NULL AND dd.doc_id =
      |       MIN(dd.doc_id) OVER (PARTITION BY ${TextOps.canonHashSql}))
      |      AS is_canonical,
      |    COALESCE(${TextOps.qualityKeepSql}, FALSE) AS q,
      |    dd.doc_id = c.component AS is_cc_kept
      |  FROM (SELECT * FROM documents WHERE doc_id % $sampleMod = 0) dd
      |  JOIN comp c ON dd.doc_id = c.doc_id)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
      |  CAST(SUM(CASE WHEN is_canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical,
      |  CAST(SUM(CASE WHEN is_cc_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_cc_kept,
      |  CAST(SUM(CASE WHEN q AND is_canonical AND is_cc_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_all,
      |  CAST(floor(1000.0 * SUM(CASE WHEN q AND is_canonical AND is_cc_kept THEN 1 ELSE 0 END)
      |       / COUNT(*)) AS BIGINT) AS yield_milli
      |FROM f GROUP BY source ORDER BY source""".stripMargin

  /** Labels of the ESTABLISHED corpus for [[ccIncremental]] — the CC
    * fixpoint over the base slice only (sampled universe minus the
    * doc_id % 50 == 0 increment), session-cached like [[ccLabels]]: this is
    * the state a continuously-ingesting deployment would already HOLD from
    * the previous run, so the incremental query pays it at most once per
    * session and each subsequent increment pays only the merge. */
  private def ccBaseLabels(s: SparkSession, dir: String): DataFrame =
    Util.cached(s, dir, "ccBaseLabels", maxCcBucket(s).toString) {
      val baseDocs = t(s, dir, "documents")
        .filter(inSample && col("doc_id") % 50 =!= 0)
      val baseEdges = ccEdges(s, dir)
        .filter(col("a_id") % 50 =!= 0 && col("b_id") % 50 =!= 0)
      ccFixpointLoop(baseDocs.select(col("doc_id").as("node")), baseEdges)
    }

  /** Incremental connected-components maintenance — the last batch-only
    * dedup stage made incremental. The exact/near tiers already have a
    * per-increment-cost path ([[dedupIncremental]]); this closes CC: merge
    * an increment (doc_id % 50 == 0, a fifth of the sampled universe,
    * standing in for "this batch's crawl") into EXISTING component labels
    * ([[ccBaseLabels]], the state held from the previous run) without
    * re-running the full fixpoint. The reference's own operating mode is
    * exactly this cadence — 2-hourly incremental batches
    * (reference README.md:107-110) — so a 100 TB deployment of the dedup
    * stage re-pays the fixpoint per SNAPSHOT today; this query re-pays only
    * per INCREMENT.
    *
    * Algorithm (label contraction): (1) new edges = band-index candidates
    * with ≥ 1 increment endpoint (the maintained band index serves these as
    * an increment-keyed bucket join — corpus-side bands are precomputed
    * state, as in [[dedupIncremental]]); (2) CONTRACT each new edge's
    * endpoints to their current labels (base label for corpus nodes, own id
    * for increment nodes) — every base component collapses to one
    * supernode, so the graph the fixpoint sees is increment-sized:
    * O(inc edges) vertices, never O(corpus); (3) run the SAME
    * [[ccFixpointLoop]] on that contracted graph (frontier-only
    * propagation: only components the increment touches participate);
    * (4) compose final(node) = merged(cur(node)), labels of untouched
    * components pass through unchanged.
    *
    * Correctness: base labels are the MIN id of each base component;
    * contracted-fixpoint labels are the min over every label/id reachable
    * through new edges; composition therefore yields the min id of each
    * MERGED component — definitionally identical to the full recompute,
    * which is exactly what the oracle runs (full recursive closure over
    * corpus + increment; the hash compare proves the merge path equals the
    * recompute). Bucket caps ([[maxCcBucket]]) are evaluated on the full
    * band relation in both paths, so the edge universes agree by
    * construction.
    *
    * Scale shape: one filtered pass over the cached edge checkpoint, two
    * label-keyed joins (corpus side is the thin (node, label) relation),
    * a fixpoint over the contracted graph (increment-sized; its O(log d)
    * rounds touch only merged supernodes), one label-keyed backfill join,
    * one window for comp_size. SCALECHECK measures the warm-state marginal
    * cost at 10×/100×. */
  /** Fold ONE increment into held CC labels — the reusable library form of
    * the [[ccIncremental]] merge (a continuously-ingesting deployment
    * calls this per batch, feeding each result back in as the next
    * `labels`): contract the new edges' endpoints to their current labels
    * (held label for known nodes, own id for new ones), run the same
    * min-label fixpoint on the increment-sized contracted graph, compose.
    * `labels` (node, label) is the held state; `incNodes` (node) the
    * increment's node set (isolated arrivals label themselves);
    * `newEdges` (a_id, b_id) the edges the increment introduces (≥ 1 new
    * endpoint — base-base edges were already folded in a previous batch).
    * Returns the NEW held state (node, label) over old ∪ new nodes, equal
    * by construction to the full fixpoint over the accumulated graph —
    * CcIncrementalSpec proves multi-wave folding against an independent
    * union-find recount. */
  def ccMergeIncrement(labels: DataFrame, incNodes: DataFrame,
      newEdges: DataFrame): DataFrame = {
    val la = labels.select(col("node").as("a_id"), col("label").as("la"))
    val lb = labels.select(col("node").as("b_id"), col("label").as("lb"))
    val contracted = newEdges
      .join(la, Seq("a_id"), "left").join(lb, Seq("b_id"), "left")
      .select(coalesce(col("la"), col("a_id")).as("a_id"),
        coalesce(col("lb"), col("b_id")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
      .distinct()
    val superNodes = contracted.select(col("a_id").as("node"))
      .unionByName(contracted.select(col("b_id").as("node")))
      .unionByName(incNodes).distinct()
    val merged = ccFixpointLoop(superNodes, contracted)
      .select(col("node").as("cur"), col("label").as("merged"))
    // held state extended with the new nodes (self-labeled), then every
    // label routed through the merged supergraph labels where present
    val all0 = labels.unionByName(
      incNodes.join(labels, Seq("node"), "left_anti")
        .select(col("node"), col("node").as("label")))
    all0.join(merged, all0("label") === merged("cur"), "left")
      .select(col("node"),
        coalesce(col("merged"), col("label")).as("label"))
  }

  private def ccIncremental(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val isInc = (c: Column) => c % 50 === 0
    val base = ccBaseLabels(s, dir) // held state: labels of the old corpus
    val edges = ccEdges(s, dir) // maintained band index: full candidate set
    val incEdges = edges.filter(isInc(col("a_id")) || isInc(col("b_id")))
    val incNodes = t(s, dir, "documents").filter(isInc(col("doc_id")))
      .select(col("doc_id").as("node"))
    ccMergeIncrement(base, incNodes, incEdges)
      .select(col("node").as("doc_id"), col("label").as("component"),
        isInc(col("node")).as("is_increment"))
      .withColumn("comp_size",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .select("doc_id", "component", "comp_size", "is_increment")
      .orderBy("doc_id")
  }

  /** Leakage-safe train/heldout split: assign every sampled doc to a split
    * BY ITS NEAR-DUP COMPONENT, so no verified near-duplicate pair can
    * cross the boundary — the data-split hygiene rule an eval set needs
    * (a doc-level random split leaks ~J-similar copies of heldout docs
    * into training; the classic benchmark-contamination-by-construction
    * bug). Component → split is a deterministic hash rule (md5 of the
    * component label, first 8 hex digits as an integer, % 10 < 8 →
    * train ≈ 80 %), so the split is stable under re-runs and adding docs
    * to an existing component never moves the component.
    *
    * Scale shape: everything heavy is the session-cached CC fixpoint
    * ([[ccLabels]] — shared with connected_components /
    * soft_dedup_weights / cc_incremental's base path); this adds one
    * row-local hash projection and a component-keyed window for the
    * leak-proof invariant surface (comp_size rides along so an auditor
    * can see which heldout docs carry big duplicate families). */
  private def leakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = ccLabels(s, dir)
      .select(col("node").as("doc_id"), col("label").as("component"))
    comp
      .withColumn("comp_size",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .withColumn("bucket",
        conv(substring(md5(col("component").cast("string")), 1, 8), 16, 10)
          .cast("long") % 10)
      .select(col("doc_id"), col("component"), col("comp_size"),
        when(col("bucket") < 8, lit("train")).otherwise(lit("heldout"))
          .as("split"))
      .orderBy("doc_id")
  }

  private val leakageSafeSplitSql =
    s"""WITH RECURSIVE $ccEdgesSqlCtes,
      |edges AS (SELECT a_id AS src, b_id AS dst FROM edges0
      |          UNION ALL SELECT b_id, a_id FROM edges0),
      |reach AS (
      |  SELECT doc_id AS node, doc_id AS label FROM d
      |  UNION
      |  SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node),
      |comp AS (SELECT node AS doc_id, MIN(label) AS component FROM reach GROUP BY node)
      |SELECT doc_id, component,
      |  COUNT(*) OVER (PARTITION BY component) AS comp_size,
      |  CASE WHEN CAST('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 8)
      |            AS BIGINT) % 10 < 8
      |       THEN 'train' ELSE 'heldout' END AS split
      |FROM comp ORDER BY doc_id""".stripMargin

  /** Oracle = the FULL recompute over corpus + increment: if the merge path
    * is correct it is indistinguishable from re-running CC from scratch,
    * and the hash compare enforces exactly that. */
  private val ccIncrementalSql =
    s"""WITH RECURSIVE $ccEdgesSqlCtes,
      |edges AS (SELECT a_id AS src, b_id AS dst FROM edges0
      |          UNION ALL SELECT b_id, a_id FROM edges0),
      |reach AS (
      |  SELECT doc_id AS node, doc_id AS label FROM d
      |  UNION
      |  SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node)
      |SELECT doc_id, component,
      |  COUNT(*) OVER (PARTITION BY component) AS comp_size,
      |  doc_id % 50 = 0 AS is_increment
      |FROM (SELECT node AS doc_id, MIN(label) AS component FROM reach GROUP BY node)
      |ORDER BY doc_id""".stripMargin

  /** Incremental-ingest dedup — the operational shape at 100 TB: classify
    * each INCREMENT doc (the doc_id % 10 == 0 slice, standing in for
    * "today's crawl") against the ESTABLISHED corpus (the other 90%) as
    * exact_dup / near_dup / new, with the matched corpus doc. Per-increment
    * cost ∝ increment: the corpus contributes one hash/signature pass (in
    * a real deployment those live precomputed next to the corpus — this
    * query IS the recipe for maintaining them), every join is keyed
    * (md5 or band bucket, never all-pairs), and the increment's band
    * relation is the small broadcastable side. Near-dup matching uses the
    * [[connectedComponents]] banding contract: candidate ⟺ ≥ 1 shared
    * MinHash band, then exact word-set Jaccard ≥ 0.5 verified on
    * candidate pairs only (cross-multiplied milli, no division). */
  private def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val all = t(s, dir, "documents")
    val inc = all.filter(inSample)
    val corpus = all.filter(!inSample)
    // exact tier: corpus collapsed to (text hash → canonical id) — one row
    // per distinct text regardless of corpus duplication
    val corpusHash = corpus.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("exact_of"))
    val exact = inc.select(col("doc_id"), md5(col("text")).as("h"))
      .join(corpusHash, Seq("h"), "left")
      .select(col("doc_id"), col("exact_of"))
    // near tier: increment bands ⋈ corpus bands on the bucket key.
    // ONE signature pass over ALL docs, filtered per side — signatures
    // are per-doc, so bands(slice) ≡ bands(all).filter(slice). Since
    // round 18 the signatures are the family-wide [[sharedMinhashSigs]]
    // cache (the round-17 query-local `incDedupBands` cache was the
    // same relation, computed a second time when the cluster/band-stats
    // queries had already run); banding is a 4-md5 projection over the
    // in-memory cache, cheap enough to derive per side.
    val bandsAll = bandsOfSigs(sharedMinhashSigs(s, dir))
    val cand = bandsAll.filter(inSample).as("x")
      .join(bandsAll.filter(!inSample).as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_sig") === col("y.band_sig"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("cand_id"))
      .distinct()
    def wordSets(d: DataFrame) = d.select(col("doc_id"),
      array_distinct(filter(split(col("text"), " "), x => x =!= "")).as("ws"))
    val wi = wordSets(inc)
      .select(col("doc_id"), col("ws").as("wa"), size(col("ws")).as("na"))
    val wc = wordSets(corpus)
      .select(col("doc_id").as("cand_id"), col("ws").as("wb"),
        size(col("ws")).as("nb"))
    val near = cand.join(wi, "doc_id").join(wc, "cand_id")
      .withColumn("i", size(array_intersect(col("wa"), col("wb"))))
      .filter(col("i") >= 1 &&
        lit(1000) * col("i") >= lit(500) * (col("na") + col("nb") - col("i")))
      .groupBy("doc_id").agg(min(col("cand_id")).as("near_of"))
    inc.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_of").isNotNull, lit("exact_dup"))
          .when(col("near_of").isNotNull, lit("near_dup"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("exact_of"), col("near_of")).as("dup_of"))
      .orderBy("doc_id")
  }

  private val dedupIncrementalSql = {
    val bandDefs = (0 until minhashSeeds / bandSize).map { b =>
      val parts = (b * bandSize until (b + 1) * bandSize)
        .map(seed => f"'$seed%02d:' || m$seed").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($parts) AS band_sig FROM minh"
    }.mkString("\n  UNION ALL ")
    s"""WITH $minhashSignaturesSql,
       |bands AS (
       |  $bandDefs),
       |inc AS (SELECT doc_id, text FROM documents WHERE doc_id % $sampleMod = 0),
       |corp AS (SELECT doc_id, text FROM documents WHERE doc_id % $sampleMod <> 0),
       |ch AS (SELECT md5(text) AS h, MIN(doc_id) AS exact_of FROM corp GROUP BY 1),
       |ex AS (SELECT inc.doc_id, ch.exact_of
       |       FROM inc LEFT JOIN ch ON md5(inc.text) = ch.h),
       |cand AS (
       |  SELECT DISTINCT x.doc_id, y.doc_id AS cand_id
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_sig = y.band_sig
       |  WHERE x.doc_id % $sampleMod = 0 AND y.doc_id % $sampleMod <> 0),
       |uw AS (SELECT DISTINCT doc_id, w
       |       FROM documents, UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) t(w)),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM uw GROUP BY 1),
       |inter AS (
       |  SELECT c.doc_id, c.cand_id, COUNT(*) AS i
       |  FROM cand c
       |  JOIN uw a ON a.doc_id = c.doc_id
       |  JOIN uw b ON b.doc_id = c.cand_id AND b.w = a.w
       |  GROUP BY 1, 2),
       |near AS (
       |  SELECT inter.doc_id, MIN(inter.cand_id) AS near_of
       |  FROM inter
       |  JOIN sz sa ON sa.doc_id = inter.doc_id
       |  JOIN sz sb ON sb.doc_id = inter.cand_id
       |  WHERE 1000 * i >= 500 * (sa.n + sb.n - i)
       |  GROUP BY 1)
       |SELECT inc.doc_id,
       |  CASE WHEN ex.exact_of IS NOT NULL THEN 'exact_dup'
       |       WHEN near.near_of IS NOT NULL THEN 'near_dup'
       |       ELSE 'new' END AS status,
       |  COALESCE(ex.exact_of, near.near_of) AS dup_of
       |FROM inc LEFT JOIN ex ON inc.doc_id = ex.doc_id
       |         LEFT JOIN near ON inc.doc_id = near.doc_id
       |ORDER BY inc.doc_id""".stripMargin
  }

  /** The precomputed corpus-side dedup index the incremental/streaming
    * classifiers join against: (text-md5 → canonical id) for the exact
    * tier and (full 16-hash MinHash signature → canonical id) for the
    * near tier. In a deployment these live materialized next to the
    * corpus and are incrementally maintained; both are one aggregation
    * pass here. The signature definition is shared with
    * [[dedupMinhashClusters]] (md5 of the '|'-joined m0..m15). */
  def corpusDedupIndex(docs: DataFrame): (DataFrame, DataFrame) = {
    val exactIdx = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("exact_of"))
    val sig = md5(concat_ws("|", (0 until minhashSeeds).map(i => col(s"m$i")): _*))
    val nearIdx = minhashSignaturesOf(docs)
      .select(col("doc_id"), sig.as("sig"))
      .groupBy("sig").agg(min(col("doc_id")).as("near_of"))
    (exactIdx, nearIdx)
  }

  /** Containment near-dup pairs via the OVERLAP COEFFICIENT
    * |A∩B| / min(|A|,|B|): the asymmetric companion to
    * `ngram_jaccard_pairs` — a short doc quoted inside a long one scores
    * ~1000 milli here while its Jaccard stays tiny, which is exactly the
    * quote/subset duplication a Jaccard threshold misses (the C4/RefinedWeb
    * motivation for containment-based dedup).
    *
    * Shape: identical to the Jaccard plan — trigram shingle equi-join
    * (never all-pairs), the df-cap applied consistently to intersections
    * AND set sizes. Runs the FULL corpus (no %10 sample — containment pairs
    * are rare and the sample misses them); the ≥ 500 milli emit threshold
    * keeps the output candidate-sized.
    *
    * The shingle+df relation is the SHARED [[rankedShingles]] cache (same
    * metric name as the prefix family): a session running this query as
    * the comparison baseline next to `containment_prefix_pairs` /
    * `jaccard_prefix_pairs` builds shingle+df ONCE — the rnk/n window
    * columns this plan doesn't need ride along for free, and the df cap
    * (keyed into the cache) is identical by construction. Its role as the
    * UNOPTIMIZED twin is unchanged: the quadratic equi-join below is
    * deliberate — the prefix query is the scale path. */
  private def containmentPairs(s: SparkSession, dir: String): DataFrame = {
    val ranked = rankedShingles(s, dir, "graft_drop_prefix_shingle")
    val shOk = ranked.select(col("doc_id"), col("sh"))
    // n is the capped per-doc set size, constant within doc_id
    val sizes = ranked.select(col("doc_id"), col("n")).distinct()
    val a = shOk.as("a"); val b = shOk.as("b")
    val inter = a.join(b, col("a.sh") === col("b.sh") &&
      col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "na"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "nb"), "b_id")
      .select(col("a_id"), col("b_id"), col("inter"),
        least(col("na"), col("nb")).as("n_small"),
        greatest(col("na"), col("nb")).as("n_big"),
        floor(lit(1000.0) * col("inter") / least(col("na"), col("nb")))
          .cast("long").as("overlap_milli"))
      .filter(col("overlap_milli") >= 500)
      .orderBy("a_id", "b_id")
  }

  private val containmentPairsSql =
    s"""WITH docs AS (SELECT doc_id, string_split(text,' ') w FROM documents),
       |sh AS ($trigramShinglesSql),
       |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id a_id, b.doc_id b_id, COUNT(*) inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT a_id, b_id, inter,
       |  least(sa.n, sb.n) AS n_small, greatest(sa.n, sb.n) AS n_big,
       |  CAST(floor(1000.0 * inter / least(sa.n, sb.n)) AS BIGINT) AS overlap_milli
       |FROM pairs JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id
       |WHERE floor(1000.0 * inter / least(sa.n, sb.n)) >= 500
       |ORDER BY a_id, b_id""".stripMargin

  /** The SAME containment pairs as [[containmentPairs]], computed through an
    * exact PREFIX FILTER (Chaudhuri et al. ICDE'06 / Bayardo et al. WWW'07
    * All-Pairs): rank each doc's shingles by global df ascending (rarest
    * first) and join only each doc's first floor(n/2)+1 shingles against
    * the full relation. Sound for the ≥ 500-milli emit threshold: a pair
    * with |A∩B| ≥ ceil(n_small/2) must share a shingle inside the smaller
    * doc's rarest floor(n_small/2)+1 — if every common shingle sat in the
    * ceil(n/2)−1 suffix, the intersection would be < the threshold. So the
    * candidate set is a strict superset of the answer and the exact verify
    * restores equality: the DuckDB oracle is the UNOPTIMIZED containment
    * SQL, which is the whole point — same rows, different plan.
    *
    * This is the dense-corpus scale path SCALECHECK.md's containment
    * analysis calls for: the exact plan's equi-join cost is Σ_sh df², and
    * its quadratic keys are precisely the HIGH-df shingles — which the
    * rarest-first prefix systematically excludes from candidate
    * generation (a shingle joins only when it ranks in the rarest half of
    * at least one of its docs). Verify cost is candidate-bounded, not
    * corpus-bounded. The df cap (`graft.cap.tokenDf`) still guards the
    * true stop-shingle tail, same contract as [[containmentPairs]]. */
  /** Rarest-first ranked shingle relation for the prefix-filter family:
    * (doc_id, sh, df, rnk, n) with rnk = row_number by (df, sh) inside the
    * doc and n = the doc's capped shingle-set size — rank and size in ONE
    * doc-keyed shuffle (the two windows share the partitioning; sh is
    * distinct per doc, so the (df, sh) order is total and the prefix is
    * deterministic). Persisted through [[Util.cachedRelation]]: every
    * consumer — prefix side(s), full join side, and the verify's per-doc
    * set aggregation — scans one cached relation instead of re-running
    * the df join + window, and a REPEATED call in a long-lived session
    * reuses it instead of stacking a fresh InMemoryRelation (keyed on the
    * df cap so a retune rebuilds + evicts). BOTH prefix-family queries
    * pass the same `graft_drop_prefix_shingle` metric name, so they share
    * ONE relation per (session, dir) — the drop audit belongs to the
    * shared relation, and a bench/session running both builds it once. */
  private def rankedShingles(s: SparkSession, dir: String,
      dropMetric: String): DataFrame =
    Util.cachedRelation(s, dir, s"rankedShingles:$dropMetric",
        s"tokenDf=${maxTokenDf(s)}") {
      import org.apache.spark.sql.expressions.Window
      val sh = trigramShingles(t(s, dir, "documents"))
      val dfRel = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      val okDf = withDropMetric(s, dfRel, dropMetric,
          sum(when(col("df") > maxTokenDf(s), 1L).otherwise(0L)))
        .filter(col("df") <= maxTokenDf(s))
      val byDoc = Window.partitionBy(col("doc_id"))
      sh.join(okDf, Seq("sh"))
        .withColumn("rnk", row_number().over(byDoc.orderBy(col("df"), col("sh"))))
        .withColumn("n", count(lit(1)).over(byDoc))
    }

  /** Per-doc (shingle array, size) off the ranked relation — the row-local
    * verify side shared by the prefix-filter family. */
  private def docShingleSets(ranked: DataFrame): DataFrame =
    ranked.groupBy(col("doc_id"))
      .agg(collect_list(col("sh")).as("shs"), count(lit(1)).as("n"))

  private def containmentPrefixPairs(s: SparkSession, dir: String): DataFrame = {
    val ranked = rankedShingles(s, dir, "graft_drop_prefix_shingle")
    val prefix = ranked.filter(col("rnk") <= floor(col("n") / 2) + 1)
      .select(col("doc_id"), col("sh"), col("n"))
    val full = ranked.select(col("doc_id"), col("sh"), col("n"))
    // candidates: the prefix side must be the smaller set (equal sizes
    // qualify from either side — the id inequality just drops self-pairs)
    val cand = prefix.as("p").join(full.as("f"),
        col("p.sh") === col("f.sh") &&
          (col("p.n") < col("f.n") ||
            (col("p.n") === col("f.n") && col("p.doc_id") =!= col("f.doc_id"))))
      .select(least(col("p.doc_id"), col("f.doc_id")).as("a_id"),
        greatest(col("p.doc_id"), col("f.doc_id")).as("b_id"))
      .distinct()
    // exact verify, ROW-LOCAL: join each candidate pair to the two docs'
    // shingle-set arrays and count the intersection in-place (the same
    // no-token-shuffle verify connectedComponents uses) — verify cost is
    // |candidates| rows through two doc-keyed hash joins, never the
    // candidate×shingles re-expansion. Doc shingle sets are doc-length
    // bounded (≤ ~n_words trigrams), so the arrays are small by the same
    // contract that bounds every per-doc relation here.
    val docSets = docShingleSets(ranked)
    cand
      .join(docSets.toDF("a_id", "sa", "na"), "a_id")
      .join(docSets.toDF("b_id", "sb", "nb"), "b_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
        least(col("na"), col("nb")).as("n_small"),
        greatest(col("na"), col("nb")).as("n_big"))
      .withColumn("overlap_milli",
        floor(lit(1000.0) * col("inter") / col("n_small")).cast("long"))
      .filter(col("overlap_milli") >= 500)
      .orderBy("a_id", "b_id")
  }

  /** FULL-CORPUS Jaccard ≥ 500-milli near-dup pairs via BOTH-SIDES prefix
    * filtering (Xiao et al.'s PPJoin candidate rule): J ≥ 0.5 forces
    * |A∩B| ≥ ceil(n/2) for EACH doc (3i ≥ na+nb and nb ≥ i give 2i ≥ na),
    * and under the global (df, sh) order the smallest common shingle must
    * sit inside BOTH docs' rarest floor(n/2)+1 prefixes — if it missed
    * A's prefix, every common shingle would sit in A's ceil(n/2)−1
    * commonest suffix, capping the intersection below the threshold. So
    * prefix⋈prefix candidate generation is complete, and it is QUADRATIC
    * only in prefix-df, the stronger reduction (containment's asymmetric
    * threshold only allows prefix⋈full).
    *
    * This is the full-corpus companion to `ngram_jaccard_pairs` (which
    * samples doc_id %% 10 and emits ALL pair scores — no threshold, so no
    * prefix bound applies there): same trigram universe, same df cap,
    * exact thresholded output, row-local verify. The emit test
    * floor(1000·i/u) ≥ 500 ⇔ 3i ≥ na+nb is exactly the bound the filter
    * is sound for. */
  private def jaccardPrefixPairs(s: SparkSession, dir: String): DataFrame = {
    val ranked = rankedShingles(s, dir, "graft_drop_prefix_shingle")
    val prefix = ranked.filter(col("rnk") <= floor(col("n") / 2) + 1)
      .select(col("doc_id"), col("sh"))
    val cand = prefix.as("p").join(prefix.as("f"),
        col("p.sh") === col("f.sh") && col("p.doc_id") < col("f.doc_id"))
      .select(col("p.doc_id").as("a_id"), col("f.doc_id").as("b_id"))
      .distinct()
    val docSets = docShingleSets(ranked)
    cand
      .join(docSets.toDF("a_id", "sa", "na"), "a_id")
      .join(docSets.toDF("b_id", "sb", "nb"), "b_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
        col("na"), col("nb"))
      .select(col("a_id"), col("b_id"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"),
        floor(lit(1000.0) * col("inter") / (col("na") + col("nb") - col("inter")))
          .cast("long").as("jaccard_milli"))
      .filter(col("jaccard_milli") >= 500)
      .orderBy("a_id", "b_id")
  }

  private val jaccardPrefixPairsSql =
    s"""WITH docs AS (SELECT doc_id, string_split(text,' ') w FROM documents),
       |sh AS ($trigramShinglesSql),
       |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id a_id, b.doc_id b_id, COUNT(*) inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT a_id, b_id, inter, sa.n + sb.n - inter AS uni,
       |  CAST(floor(1000.0 * inter / (sa.n + sb.n - inter)) AS BIGINT) AS jaccard_milli
       |FROM pairs JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id
       |WHERE floor(1000.0 * inter / (sa.n + sb.n - inter)) >= 500
       |ORDER BY a_id, b_id""".stripMargin

  /** LSH recall audit: how much of the TRUE near-dup mass does MinHash
    * banding actually catch? Exact word-set Jaccard ≥ 500-milli pairs over
    * the sampled corpus (the identical universe [[connectedComponents]]'
    * verify uses: doc_id % 10, distinct non-empty words) LEFT JOIN the
    * band-bucket candidate pairs its edge discovery generates — reported
    * per 100-milli J bucket as (n_exact, n_lsh_hit, recall_milli).
    *
    * This turns the CC edge contract ("edges are LSH candidates verified
    * at J ≥ 0.5, recall ≈ 1−(1−J⁴)⁴ at the boundary" — the approximation
    * ADVICE asked to keep visible) into a MEASURED, oracle-checked number:
    * theory says ~46% at J=0.5 rising to 100% at J=1 (identical docs
    * share every band deterministically); the audit reports the realized
    * curve on the actual corpus.
    *
    * Scale shape: an audit runs on a sample BY DESIGN (the %10 gate is
    * the contract, not a shortcut) — the exact side is a shingle
    * equi-join bounded by sample size, the candidate side is the same
    * bucketed band join CC runs, and the output is ≤ 6 rows. */
  /** Exact word-Jaccard ≥ 500‰ pairs over the CC sample (a_id, b_id, jm)
    * — the ground-truth relation shared by [[lshRecallAudit]] and
    * [[minhashBandSweep]]; the heavy word relation underneath is
    * session-cached. */
  private def recallExactPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(inSample)
    // exact side — CC-verify universe: distinct non-empty words. The
    // trailing distinct() matches the oracle's corpus-level DISTINCT when
    // a dirty corpus carries duplicate doc_ids (per-row array_distinct
    // alone would double-count words shared by the duplicate rows)
    val sh = docs.select(col("doc_id"),
      explode(array_distinct(filter(split(col("text"), " "), x => x =!= ""))).as("w"))
      .distinct()
    val dfRel = sh.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val okW = withDropMetric(s, dfRel, "graft_drop_recall_df",
        sum(when(col("df") > maxTokenDf(s), 1L).otherwise(0L)))
      .filter(col("df") <= maxTokenDf(s)).select(col("w"))
    val shOk = Util.cachedRelation(s, dir, "recallAuditWords",
      s"tokenDf=${maxTokenDf(s)}") { sh.join(okW, Seq("w"), "left_semi") }
    val sizes = shOk.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = shOk.as("a").join(shOk.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.toDF("a_id", "na"), "a_id")
      .join(sizes.toDF("b_id", "nb"), "b_id")
      .withColumn("jm", floor(lit(1000.0) * col("i") /
        (col("na") + col("nb") - col("i"))).cast("long"))
      .filter(col("jm") >= 500)
      .select(col("a_id"), col("b_id"), col("jm"))
  }

  /** The session-cached audit band relation (same construction as CC edge
    * discovery, own metric names). */
  private def recallBandRel(s: SparkSession, dir: String): DataFrame =
    Util.cachedRelation(s, dir, "recallAuditBands",
      s"ccBucket=${maxCcBucket(s)}") {
      // sampled signature cache, not a filter over the full one — see
      // sharedMinhashSigsSampled (row-equal by per-doc invariance)
      bandsOfSigs(sharedMinhashSigsSampled(s, dir))
    }

  private def lshRecallAudit(s: SparkSession, dir: String): DataFrame = {
    val exact = recallExactPairs(s, dir)
    // candidate side — the identical band-bucket join CC's edge discovery
    // runs, same bucket-cap discipline (own metric name for audit logs)
    val bl = recallBandRel(s, dir)
    val bucketSizes = bl.groupBy(col("band"), col("band_sig"))
      .agg(count(lit(1)).as("k"))
    val okBuckets = withDropMetric(s, bucketSizes, "graft_drop_recall_bucket",
        sum(when(col("k") > maxCcBucket(s), 1L).otherwise(0L)))
      .filter(col("k") > 1 && col("k") <= maxCcBucket(s))
      .select(col("band"), col("band_sig"))
    val eligible = bl.join(okBuckets, Seq("band", "band_sig"), "left_semi")
    val cand = eligible.as("x").join(bl.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_sig") === col("y.band_sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    exact.join(cand.withColumn("hit", lit(1L)), Seq("a_id", "b_id"), "left")
      .withColumn("j_bucket", col("jm") - (col("jm") % 100))
      .groupBy("j_bucket")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_lsh_hit"))
      .withColumn("recall_milli",
        floor(lit(1000.0) * col("n_lsh_hit") / col("n_exact")).cast("long"))
      .orderBy("j_bucket")
  }

  /** The d → … → exact / bands WITH-chain shared verbatim by
    * [[lshRecallAuditSql]] and [[minhashBandSweepSql]] — one copy of the
    * truth + banding math, the ccEdgesSqlCtes discipline. `exact` is
    * MATERIALIZED: the sweep consumes it from two aggregates. */
  private val recallAuditSqlCtes = {
    val mins = (0 until minhashSeeds)
      .map(i => s"MIN(md5('$i' || ':' || sh)) AS m$i").mkString(",\n    ")
    val bandSigDefs = (0 until minhashSeeds / bandSize).map { b =>
      val parts = (b * bandSize until (b + 1) * bandSize)
        .map(seed => f"'$seed%02d:' || m$seed").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($parts) AS band_sig FROM minh"
    }.mkString("\n  UNION ALL ")
    s"""d AS (SELECT doc_id, text FROM documents WHERE doc_id % $sampleMod = 0),
       |sw AS (SELECT DISTINCT doc_id, s AS w
       |       FROM d, UNNEST(string_split(text,' ')) t(s) WHERE s <> ''),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sw GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id a_id, b.doc_id b_id, COUNT(*) i
       |  FROM sw a JOIN sw b ON a.w = b.w AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |exact AS MATERIALIZED (
       |  SELECT a_id, b_id,
       |    CAST(floor(1000.0 * i / (sa.n + sb.n - i)) AS BIGINT) AS jm
       |  FROM inter JOIN sizes sa ON a_id = sa.doc_id
       |             JOIN sizes sb ON b_id = sb.doc_id
       |  WHERE floor(1000.0 * i / (sa.n + sb.n - i)) >= 500),
       |msh AS (SELECT DISTINCT doc_id, s AS sh
       |        FROM d, UNNEST(string_split(text,' ')) t(s)),
       |minh AS (SELECT doc_id, $mins FROM msh GROUP BY doc_id),
       |bands AS (
       |  $bandSigDefs)""".stripMargin
  }

  private val lshRecallAuditSql =
    s"""WITH $recallAuditSqlCtes,
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_sig = y.band_sig
       |      AND x.doc_id < y.doc_id)
       |SELECT e.jm - (e.jm % 100) AS j_bucket,
       |  COUNT(*) AS n_exact,
       |  CAST(SUM(CASE WHEN c.a_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh_hit,
       |  CAST(floor(1000.0 * SUM(CASE WHEN c.a_id IS NOT NULL THEN 1 ELSE 0 END)
       |    / COUNT(*)) AS BIGINT) AS recall_milli
       |FROM exact e LEFT JOIN cand c ON e.a_id = c.a_id AND e.b_id = c.b_id
       |GROUP BY 1 ORDER BY j_bucket""".stripMargin

  /** Band-budget tuning sweep for the MinHash tier — the text-side
    * [[ivf_probe_sweep]]: at band budgets b = 1..4 (bands of 4 seeds, the
    * production setting is 4), measure candidate cost and truth recall so
    * the banding knob is a DECISION, not a default. One pass computes each
    * candidate pair's MINIMUM shared band; budget b's candidate set is
    * then "min band < b" — cumulative by construction, so all four sweep
    * points come from the same band join (the probe-rank trick of
    * ivf_probe_sweep, band edition).
    *
    * Output per b: candidate pair count, truth size, truth pairs found,
    * recall_milli (floor(1000·found/truth), the lsh_recall_audit rule).
    * Rides the session-cached truth words + band relations shared with
    * lsh_recall_audit. */
  private def minhashBandSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exact = recallExactPairs(s, dir)
    val bl = recallBandRel(s, dir)
    val bucketSizes = bl.groupBy(col("band"), col("band_sig"))
      .agg(count(lit(1)).as("k"))
    val okBuckets = withDropMetric(s, bucketSizes, "graft_drop_sweep_bucket",
        sum(when(col("k") > maxCcBucket(s), 1L).otherwise(0L)))
      .filter(col("k") > 1 && col("k") <= maxCcBucket(s))
      .select(col("band"), col("band_sig"))
    val eligible = bl.join(okBuckets, Seq("band", "band_sig"), "left_semi")
    val candMb = eligible.as("x").join(bl.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_sig") === col("y.band_sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .agg(min(col("x.band")).as("mb"))
    val budgets = Seq(1, 2, 3, 4).toDF("b")
    // tiny aggregates: candidate counts by min-band (≤ 4 rows), truth
    // rows by their candidate's min-band (missing → 99, never selected)
    val candByMb = candMb.groupBy(col("mb")).agg(count(lit(1)).as("nc"))
    val truthByMb = exact.join(candMb, Seq("a_id", "b_id"), "left")
      .groupBy(coalesce(col("mb"), lit(99)).as("tmb"))
      .agg(count(lit(1)).as("nt"))
    val nCand = budgets.join(candByMb, col("mb") < col("b"), "left")
      .groupBy(col("b"))
      .agg(coalesce(sum(col("nc")), lit(0L)).as("n_cand_pairs"))
    val nTruthTotal = truthByMb.agg(sum(col("nt")).as("n_truth"))
    val nFound = budgets.join(truthByMb, col("tmb") < col("b"), "left")
      .groupBy(col("b"))
      .agg(coalesce(sum(col("nt")), lit(0L)).as("n_found"))
    nCand.join(nFound, "b").crossJoin(broadcast(nTruthTotal))
      .select(col("b"), col("n_cand_pairs"), col("n_truth"), col("n_found"),
        floor(lit(1000.0) * col("n_found") / col("n_truth")).cast("long")
          .as("recall_milli"))
      .orderBy("b")
  }

  private val minhashBandSweepSql =
    s"""WITH $recallAuditSqlCtes,
       |candmb AS MATERIALIZED (
       |  SELECT x.doc_id AS a_id, y.doc_id AS b_id, MIN(x.band) AS mb
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_sig = y.band_sig
       |      AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |budgets AS (SELECT UNNEST([1, 2, 3, 4]) AS b),
       |candbymb AS (SELECT mb, COUNT(*) AS nc FROM candmb GROUP BY 1),
       |truthbymb AS (
       |  SELECT COALESCE(c.mb, 99) AS tmb, COUNT(*) AS nt
       |  FROM exact e LEFT JOIN candmb c ON e.a_id = c.a_id AND e.b_id = c.b_id
       |  GROUP BY 1),
       |ncand AS (
       |  SELECT b, CAST(COALESCE(SUM(nc), 0) AS BIGINT) AS n_cand_pairs
       |  FROM budgets LEFT JOIN candbymb ON mb < b GROUP BY b),
       |nfound AS (
       |  SELECT b, CAST(COALESCE(SUM(nt), 0) AS BIGINT) AS n_found
       |  FROM budgets LEFT JOIN truthbymb ON tmb < b GROUP BY b),
       |ntruth AS (SELECT CAST(SUM(nt) AS BIGINT) AS n_truth FROM truthbymb)
       |SELECT b, n_cand_pairs, n_truth, n_found,
       |  CAST(floor(1000.0 * n_found / n_truth) AS BIGINT) AS recall_milli
       |FROM ncand JOIN nfound USING (b) CROSS JOIN ntruth
       |ORDER BY b""".stripMargin

  /** MinHash estimator-error audit — the calibration evidence behind the
    * whole MinHash tier: for every band-collision candidate pair on the CC
    * sampled universe, compare the 16-seed signature ESTIMATE of Jaccard
    * (matching-minhash fraction — the quantity LSH banding actually
    * thresholds on) against the EXACT word-set Jaccard, aggregated per
    * exact-J decile: pair count, mean estimate, mean exact, mean absolute
    * error (all exact integer milli). With 16 hashes the estimator's σ is
    * √(J(1−J)/16) ≤ 125‰ — a measured mean-|err| far above that says the
    * seeded hash family is broken, not just noisy; identical docs must
    * land in bucket 10 with error 0 (estimator is exact at J = 1). The
    * low-J buckets OVERESTIMATE by construction (selection bias: a low-J
    * pair only becomes a candidate when its signatures got lucky, and the
    * same signatures feed the estimate) — that bias is a property of
    * auditing the candidate set, which is the population the banding
    * decision actually sees.
    *
    * Plan shape: the signature relation (token explode + 16-column min
    * aggregate) is built ONCE (session-cached) and feeds both the band
    * self-join and the two estimate-side joins; candidates are
    * bucket-capped with the CC drop discipline (cap sized to never bind
    * at verify scale, drops logged); exact J is a row-local
    * array_intersect on the capped candidates only — never all-pairs.
    * Audit output is ≤ 11 rows at any corpus size. */
  private def minhashEstimateAudit(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(inSample)
    // the sampled signature cache (per-doc invariance,
    // [[sharedMinhashSigsSampled]]): row-equal to filtering the full
    // relation, without charging a full-corpus 16-seed aggregate to the
    // %10 audit when it runs first in a sorted walk
    val minh = sharedMinhashSigsSampled(s, dir)
    val bl = bandsOfSigs(minh)
    val bucketSizes = bl.groupBy(col("band"), col("band_sig"))
      .agg(count(lit(1)).as("k"))
    val okBuckets = withDropMetric(s, bucketSizes, "graft_drop_mh_audit_bucket",
        sum(when(col("k") > maxCcBucket(s), 1L).otherwise(0L)))
      .filter(col("k") > 1 && col("k") <= maxCcBucket(s))
      .select(col("band"), col("band_sig"))
    val eligible = bl.join(okBuckets, Seq("band", "band_sig"), "left_semi")
    val cand = eligible.as("x").join(bl.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_sig") === col("y.band_sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    val sigA = minh.select(col("doc_id").as("a_id") +:
      (0 until minhashSeeds).map(i => col(s"m$i").as(s"a_m$i")): _*)
    val sigB = minh.select(col("doc_id").as("b_id") +:
      (0 until minhashSeeds).map(i => col(s"m$i").as(s"b_m$i")): _*)
    val matchesSql = (0 until minhashSeeds)
      .map(i => s"(CASE WHEN a_m$i = b_m$i THEN 1 ELSE 0 END)").mkString(" + ")
    val docsW = docs.select(col("doc_id"),
      array_distinct(filter(split(col("text"), " "), x => x =!= "")).as("ws"))
    val wa = docsW.select(col("doc_id").as("a_id"), col("ws").as("wa"),
      size(col("ws")).as("na"))
    val wb = docsW.select(col("doc_id").as("b_id"), col("ws").as("wb"),
      size(col("ws")).as("nb"))
    cand.join(sigA, "a_id").join(sigB, "b_id")
      .withColumn("est_milli", expr(s"(($matchesSql) * 1000) div $minhashSeeds"))
      .join(wa, "a_id").join(wb, "b_id")
      .withColumn("i", size(array_intersect(col("wa"), col("wb"))).cast("long"))
      .withColumn("u", col("na") + col("nb") - col("i"))
      // i > 0 mirrors the oracle's INNER join through `inter` (a pair with
      // no common word never appears there) — identical by CONSTRUCTION,
      // not by the probabilistic argument that a nonempty-disjoint band
      // collision needs simultaneous md5 collisions; u = 0 ⟺ both word
      // sets empty (whitespace-only docs), excluded on both engines
      .filter(col("i") > 0 && col("u") > 0)
      .withColumn("exact_milli", expr("(i * 1000) div u"))
      .groupBy(expr("exact_milli div 100").as("j_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(est_milli) div count(1)").as("mean_est_milli"),
        expr("sum(exact_milli) div count(1)").as("mean_exact_milli"),
        expr("sum(abs(est_milli - exact_milli)) div count(1)")
          .as("mean_abs_err_milli"))
      .orderBy("j_bucket")
  }

  /** Oracle twin: rides the CC WITH-chain verbatim (same sampled universe,
    * same capless cand — the Spark cap is sized to never bind at verify
    * scale — same uw/sz/inter exact-Jaccard relations). The est↔exact
    * reconciliation is an INNER join: a pair absent from `inter` has no
    * common word, which for band-collision candidates means both word sets
    * are empty (u = 0, excluded on the Spark side by the same rule) — a
    * nonempty-disjoint collision would need four simultaneous min-md5
    * matches over disjoint sets. */
  private val minhashEstimateAuditSql = {
    val matches = (0 until minhashSeeds)
      .map(i => s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH $ccEdgesSqlCtes,
       |est AS (
       |  SELECT c.a_id, c.b_id, (($matches) * 1000) // $minhashSeeds AS est_milli
       |  FROM cand c JOIN minh a ON a.doc_id = c.a_id
       |  JOIN minh b ON b.doc_id = c.b_id),
       |ex AS (
       |  SELECT i.a_id, i.b_id,
       |    (1000 * i.i) // (sa.n + sb.n - i.i) AS exact_milli
       |  FROM inter i JOIN sz sa ON sa.doc_id = i.a_id
       |  JOIN sz sb ON sb.doc_id = i.b_id
       |  WHERE sa.n + sb.n - i.i > 0)
       |SELECT exact_milli // 100 AS j_bucket,
       |  COUNT(*) AS n_pairs,
       |  CAST(SUM(est_milli) AS BIGINT) // COUNT(*) AS mean_est_milli,
       |  CAST(SUM(exact_milli) AS BIGINT) // COUNT(*) AS mean_exact_milli,
       |  CAST(SUM(ABS(est_milli - exact_milli)) AS BIGINT) // COUNT(*) AS mean_abs_err_milli
       |FROM est JOIN ex USING (a_id, b_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------ duplicate-span doubling

  /** Doubling rounds: round k classifies token windows of length 2^k
    * (1, 2, 4, 8). */
  val dblRounds = 3

  /** Duplicate-substring detection by equality-class prefix DOUBLING —
    * the suffix-array construction idea (Manber–Myers / the
    * suffix-array dedup of Lee et al. 2022) specialized to what dedup
    * needs, equality classes rather than lexicographic ranks: round 0
    * gives every token position the class of its token; round k forms
    * each position's class from the PAIR (class(pos), class(pos+2^{k−1}))
    * — so after k rounds two positions share a class IFF their
    * 2^k-token windows are identical, yet no round ever compares more
    * than two fixed-width ints per position. That is the 100 TB
    * argument: the direct approach groups materialized 2^k-token
    * strings (payload grows with the window), doubling joins
    * constant-width class ids for any window length, reaching window
    * 2^k in k shuffles.
    *
    * Class ids are min-position representatives (gid = doc_id·2²⁰ + pos
    * — exact while docs stay under 2²⁰ tokens and ids under 2⁴³; the
    * corpus length cap is 2¹⁶), NOT dense ranks: a dense rank needs a
    * global sort/window, a min-per-group is one map-side-combining
    * aggregate. Windows truncate at document end (a truncated right
    * half carries the sentinel class −1, and truncated windows compare
    * equal iff their actual remaining tokens do — the same semantics as
    * the engines' auto-truncating array slice).
    *
    * The audit emits, per round: class count, duplicated-position count
    * (positions whose window occurs ≥ 2 times corpus-wide — the mass
    * substring-dedup would cut), the largest class, AND the same counts
    * recomputed DIRECTLY by grouping the materialized token windows —
    * `direct_match` pins the doubling⇔direct equivalence theorem
    * per row, cross-engine. `refine_ok`/`mono_ok` pin refinement:
    * longer windows only split classes, so class counts are
    * non-decreasing and duplicated mass non-increasing in k.
    *
    * Scale shape: one cached token relation; each round is one
    * (doc, pos)-keyed self-join plus one (lc, rc)-keyed min-aggregate —
    * both map-side-combining, token-scale, constant-width; levels are
    * session-cached because level k feeds both its stats and level
    * k+1. The direct cross-check IS the expensive path (it
    * materializes window arrays) and exists for the audit, not the
    * deployment plan. NULL doc_ids are excluded (no stable position
    * identity), NULL texts tokenize to nothing on both engines. */
  /** Token-position document view shared by the doubling family.
    * doc_id >= 0 is LOAD-BEARING, not cosmetic: the whole family encodes
    * positions as gid = doc_id·2²⁰ + pos and reserves NEGATIVE values as
    * sentinels (−1 truncated right half, −2 novel increment token, and
    * the `cls >= 0` matched-window filter) — a negative doc_id would
    * collide with the sentinel space and silently misclassify windows.
    * Filtered here and mirrored in all four family oracles
    * (`WHERE doc_id IS NOT NULL AND doc_id >= 0`). */
  private def dblDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("doc_id").isNotNull && col("doc_id") >= 0L)
      .select(col("doc_id"), split(col("text"), " ").as("w"))

  /** The cached class levels 0..[[dblRounds]] — ONE copy of the doubling
    * math, shared by the audit and the span extractor (build/probe drift
    * would silently decouple the theorem from the spans). */
  /** The cached token-position relation (doc_id, pos, tok, gid) shared
    * by the doubling levels and the substring-dedup apply pass. */
  private def dblToks(s: SparkSession, dir: String): DataFrame =
    Util.cachedRelation(s, dir, "dupDblToks", "")(
      dblDocs(s, dir)
        .select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "tok")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("tok"),
          (col("doc_id") * 1048576L + col("pos")).as("gid")))

  /** One doubling round's (doc_id, pos, lc, rc) pair rows from the
    * previous level: rc = class at pos + 2^{k−1}, −1 past doc end.
    * Positions are DENSE per doc (posexplode emits 0..len−1), so the
    * shifted lookup is `lead(cls, shift)` over the doc-keyed window —
    * one exchange + sort instead of the former (doc_id, pos−shift)
    * self-join's second scan + join of the level (guide §2.4: the
    * window and the join compute the identical pairing; the window
    * reads the level ONCE). */
  private def dblPaired(prev: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    prev.select(col("doc_id"), col("pos"), col("cls").as("lc"),
      coalesce(lead(col("cls"), 1 << (k - 1)).over(byDoc), lit(-1L))
        .as("rc"))
  }

  private def dblLevels(s: SparkSession, dir: String): Seq[DataFrame] = {
    val toks = dblToks(s, dir)
    val c0 = toks.join(
        toks.groupBy(col("tok")).agg(min(col("gid")).as("cls")), "tok")
      .select(col("doc_id"), col("pos"), col("cls"))
    (1 to dblRounds).scanLeft(c0) { (prev, k) =>
      Util.cachedRelation(s, dir, s"dupDblCls$k", "") {
        val paired = dblPaired(prev, k)
        paired.join(
            paired.groupBy(col("lc"), col("rc"))
              .agg(min(col("doc_id") * 1048576L + col("pos")).as("cls")),
            Seq("lc", "rc"))
          .select(col("doc_id"), col("pos"), col("cls"))
      }
    }
  }

  private def dupSpanDoubling(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = dblDocs(s, dir)
    val levels = dblLevels(s, dir)
    def statsOf(cls: DataFrame, k: Int): DataFrame = {
      val sizes = cls.groupBy(col("cls")).agg(count(lit(1)).as("n"))
      val agg = sizes.agg(
        coalesce(count(lit(1)), lit(0L)).as("n_classes"),
        coalesce(sum(when(col("n") >= 2, col("n")).otherwise(0L)), lit(0L))
          .as("dup_pos"),
        coalesce(max(col("n")), lit(0L)).as("max_class"))
      val direct = docs
        .select(posexplode(col("w")).as(Seq("pos", "tok")), col("w"))
        .select(slice(col("w"), col("pos") + 1, lit(1 << k)).as("win"))
        .groupBy(col("win")).agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(when(col("n") >= 2, col("n")).otherwise(0L)),
          lit(0L)).as("direct_dup"))
      agg.crossJoin(broadcast(direct))
        .select(lit(k.toLong).as("k"), lit((1L << k)).as("win_len"),
          col("n_classes"), col("dup_pos"), col("max_class"),
          col("direct_dup"),
          (col("dup_pos") === col("direct_dup")).as("direct_match"))
    }
    levels.zipWithIndex.map { case (cls, k) => statsOf(cls, k) }
      .reduce(_.unionAll(_))
      .withColumn("refine_ok", coalesce(col("n_classes") >=
        lag(col("n_classes"), 1).over(Window.orderBy(col("k"))), lit(true)))
      .withColumn("mono_ok", coalesce(col("dup_pos") <=
        lag(col("dup_pos"), 1).over(Window.orderBy(col("k"))), lit(true)))
      .orderBy("k")
  }

  private def dupSpanDoublingSql = {
    def level(k: Int): String = {
      val d = 1L << (k - 1)
      s"""p$k AS (
         |  SELECT a.doc_id, a.pos, a.cls AS lc, COALESCE(b.cls, -1) AS rc
         |  FROM c${k - 1} a LEFT JOIN c${k - 1} b
         |    ON a.doc_id = b.doc_id AND b.pos = a.pos + $d),
         |c$k AS (
         |  SELECT p.doc_id, p.pos, m.cls
         |  FROM p$k p JOIN (
         |    SELECT lc, rc, MIN(doc_id * 1048576 + pos) AS cls
         |    FROM p$k GROUP BY 1, 2) m USING (lc, rc))""".stripMargin
    }
    def stats(k: Int): String =
      s"""SELECT CAST($k AS BIGINT) AS k, CAST(${1L << k} AS BIGINT) AS win_len,
         |    a.n_classes, a.dup_pos, a.max_class, d.direct_dup,
         |    a.dup_pos = d.direct_dup AS direct_match
         |  FROM (
         |    SELECT CAST(COALESCE(COUNT(*), 0) AS BIGINT) AS n_classes,
         |      CAST(COALESCE(SUM(CASE WHEN n >= 2 THEN n ELSE 0 END), 0)
         |        AS BIGINT) AS dup_pos,
         |      CAST(COALESCE(MAX(n), 0) AS BIGINT) AS max_class
         |    FROM (SELECT cls, COUNT(*) AS n FROM c$k GROUP BY 1)) a
         |  CROSS JOIN (
         |    SELECT CAST(COALESCE(SUM(CASE WHEN n >= 2 THEN n ELSE 0 END), 0)
         |      AS BIGINT) AS direct_dup
         |    FROM (
         |      SELECT w[pos+1 : pos+${1L << k}] AS win, COUNT(*) AS n
         |      FROM tt GROUP BY 1)) d""".stripMargin
    s"""WITH docs_ AS (
       |  SELECT doc_id, string_split(text, ' ') AS w
       |  FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |tt AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos, w[i+1] AS tok,
       |    doc_id * 1048576 + i AS gid, w
       |  FROM docs_, UNNEST(range(len(w))) u(i)),
       |c0 AS (
       |  SELECT t.doc_id, t.pos, m.cls
       |  FROM tt t JOIN (
       |    SELECT tok, MIN(gid) AS cls FROM tt GROUP BY 1) m USING (tok)),
       |${(1 to dblRounds).map(level).mkString(",\n")},
       |rows_ AS (
       |  ${(0 to dblRounds).map(stats).mkString("\n  UNION ALL ")})
       |SELECT k, win_len, n_classes, dup_pos, max_class, direct_dup,
       |  direct_match,
       |  COALESCE(n_classes >= lag(n_classes) OVER (ORDER BY k), TRUE)
       |    AS refine_ok,
       |  COALESCE(dup_pos <= lag(dup_pos) OVER (ORDER BY k), TRUE)
       |    AS mono_ok
       |FROM rows_ ORDER BY k""".stripMargin
  }

  /** Top duplicated spans emitted by [[dupSpanDoubling]]'s extraction
    * consumer. */
  val dblTopSpans = 100

  /** The ACTIONABLE output of the doubling tier: the top-[[dblTopSpans]]
    * duplicated 8-token spans themselves — what a substring-dedup pass
    * cuts, ranked by how many positions carry them. Rides the cached
    * final class level; the span text is recovered WITHOUT any window
    * grouping: a class id IS its min-position representative
    * (gid = doc_id·2²⁰ + pos), so decoding it addresses the
    * representative's document and the span is one array slice — the
    * payoff of representative-based class ids over dense ranks.
    * Truncated-at-doc-end spans surface with their actual (< 8-token)
    * text, consistent with the doubling tier's truncation semantics.
    *
    * Scale shape: one count aggregate over the cached level, a
    * TakeOrdered top-N (never a single-partition window), one
    * broadcast-able join against the N representatives' documents.
    * Output is capped by construction ([[dblTopSpans]] rows, (count,
    * class) tiebreak) — the top of the ranking is what a dedup pass
    * reads first at any corpus size. */
  private def dupSpanExtract(s: SparkSession, dir: String): DataFrame = {
    val docs = dblDocs(s, dir)
    val last = dblLevels(s, dir).last
    val dup = last.groupBy(col("cls")).agg(count(lit(1)).as("n_pos"))
      .filter(col("n_pos") >= 2)
      .select(col("cls"), col("n_pos"),
        expr("cls div 1048576").as("doc_id"),
        (col("cls") % 1048576L).as("pos"))
    // FULL windows only: a truncated (doc-end) window can never share a
    // class with a full one (its right-half sentinel classes differ), so
    // filtering on the representative's remaining length keeps exactly
    // the full-span classes — without it, short truncated tails (one
    // duplicated closing word) drown the ranking a dedup pass reads
    dup.join(docs, "doc_id")
      .filter(size(col("w")) - col("pos") >= (1 << dblRounds))
      .select(col("cls"), col("n_pos"),
        concat_ws(" ", slice(col("w"), col("pos") + 1,
          lit(1 << dblRounds))).as("span"))
      .withColumn("span_ok", col("n_pos") >= 2)
      .orderBy(col("n_pos").desc, col("cls")).limit(dblTopSpans)
  }

  private def dupSpanExtractSql = {
    def level(k: Int): String = {
      val d = 1L << (k - 1)
      s"""p$k AS (
         |  SELECT a.doc_id, a.pos, a.cls AS lc, COALESCE(b.cls, -1) AS rc
         |  FROM c${k - 1} a LEFT JOIN c${k - 1} b
         |    ON a.doc_id = b.doc_id AND b.pos = a.pos + $d),
         |c$k AS (
         |  SELECT p.doc_id, p.pos, m.cls
         |  FROM p$k p JOIN (
         |    SELECT lc, rc, MIN(doc_id * 1048576 + pos) AS cls
         |    FROM p$k GROUP BY 1, 2) m USING (lc, rc))""".stripMargin
    }
    s"""WITH docs_ AS (
       |  SELECT doc_id, string_split(text, ' ') AS w
       |  FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |tt AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos, w[i+1] AS tok,
       |    doc_id * 1048576 + i AS gid
       |  FROM docs_, UNNEST(range(len(w))) u(i)),
       |c0 AS (
       |  SELECT t.doc_id, t.pos, m.cls
       |  FROM tt t JOIN (
       |    SELECT tok, MIN(gid) AS cls FROM tt GROUP BY 1) m USING (tok)),
       |${(1 to dblRounds).map(level).mkString(",\n")},
       |dup AS (
       |  SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_pos,
       |    cls // 1048576 AS doc_id, cls % 1048576 AS pos
       |  FROM c$dblRounds GROUP BY 1
       |  HAVING COUNT(*) >= 2)
       |SELECT t.cls, t.n_pos,
       |  array_to_string(d.w[t.pos + 1 : t.pos + ${1 << dblRounds}], ' ')
       |    AS span,
       |  t.n_pos >= 2 AS span_ok
       |FROM dup t JOIN docs_ d USING (doc_id)
       |WHERE len(d.w) - t.pos >= ${1 << dblRounds}
       |ORDER BY t.n_pos DESC, t.cls LIMIT $dblTopSpans""".stripMargin
  }

  /** Substring-dedup APPLY — the doubling tier's transformation pass
    * (Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better": cut every duplicated substring occurrence except
    * one): per document, every token covered by a NON-representative
    * occurrence of a duplicated full 2^[[dblRounds]]-token window is
    * removed; the class representative (the min-gid occurrence the
    * class id itself decodes to) is the kept copy. Rides the SAME
    * cached [[dblLevels]] as the detector and extractor, so detection
    * and surgery cannot drift.
    *
    * Output per doc: token counts before/removed, the number of maximal
    * cut runs (`n_cut_spans`), the surviving maximal kept runs joined
    * by newline (`cleaned_text` — cut points SPLIT the document,
    * Lee et al.'s form, so no window ever spans a cut), and the
    * corpus-level recount `remaining_dup`: duplicated-window mass
    * re-measured by direct window grouping over the kept segments.
    * `clean_ok` pins remaining_dup = 0 — a THEOREM under these
    * semantics, because a window intact inside a kept segment is an
    * original full window (segments preserve original adjacency), two
    * identical full windows share a doubling class, every non-rep
    * occurrence of a duplicated class had all its tokens cut, and a
    * class has exactly one representative. Overlap is resolved the
    * honest way: a representative overlapped by some OTHER class's
    * non-rep occurrence loses those tokens too (the cut set is a
    * union), which only removes more — never breaks the theorem.
    *
    * Scale shape: the cut set is ≤ W·(duplicated non-rep starts) rows
    * (map-side-combined distinct, session-cached — the cache's known
    * size is load-bearing for the anti-join strategy, see the inline
    * note), kept tokens are one anti-join off the cached token
    * relation, segment ids are per-doc windows (partition-by-doc,
    * doc-bounded), and the recount is the direct window-grouping audit
    * — the one deliberately expensive audit leg, same as the detector's
    * `direct_dup`, grouped on a 96-bit content digest so its corpus-
    * wide shuffle ships 16 bytes per window instead of W tokens.
    * Doc lengths aggregate the cached token relation, and the cut-run
    * stats ride the one per-doc segment aggregate via the
    * alternating-runs identity (n_cut_spans = n_segments − 1 +
    * boundary cuts) — no separate window pass over the cut relation
    * and ONE doc-keyed join in the final assembly. Round-18 controlled
    * receipts (same-window interleaved pairs vs the round-17 tree):
    * cold-scoped sf0.1 27.5 → 22.2 s (0.81× — the shared doubling-
    * chain build dominates a cold run), scale100h 0.90×; digest vs
    * array grouping alone was measured cost-neutral in-JVM at the
    * sparse-cut 100×h corpus, so the wins are the runs-identity +
    * single-assembly-join restructure and the digest's win is shuffle
    * BYTES — the part that matters off a single box.
    * Deployment cuts without the recount; the theorem column exists to
    * be checked, not shipped. */
  private def substringDedupApply(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = 1 << dblRounds
    val toks = dblToks(s, dir)
    val last = dblLevels(s, dir).last
    // doc length aggregates the CACHED token relation — a size(w)
    // projection on the doc view would be O(docs) on paper but forces a
    // SECOND parquet scan + full re-split of the text column (dblDocs
    // is not cached; measured +20 s at the 100x Heaps corpus), where
    // this count reads the in-memory toks cache the chain built anyway
    val lens = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("len"))
    val sizes = last.groupBy(col("cls")).agg(count(lit(1)).as("n_pos"))
    val nonrep = last.join(sizes.filter(col("n_pos") >= 2), "cls")
      .join(lens, "doc_id")
      .filter(col("pos") + W <= col("len") &&
        col("doc_id") * 1048576L + col("pos") =!= col("cls"))
    // cut keeps its cache even though the cut-run stats moved onto the
    // segment relation and the anti-join is its ONLY consumer: a cached
    // relation has KNOWN size at planning, so a sparse cut set (the
    // realistic 100 TB crawl regime — scale100h) plans as a BROADCAST
    // anti-join, streaming the token relation with no extra shuffle; an
    // uncached cut has unknown size and forces a sort-merge anti-join
    // that sorts + shuffles the full token relation (measured: the
    // uncached form regressed scale100h while being flat at the dense
    // sf0.1 corpus, where cut mass is too big to broadcast either way)
    val cut = Util.cachedRelation(s, dir, "dupApplyCut", "")(
      nonrep.select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + (W - 1))).as("tp"))
        .distinct())
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val kept = toks.join(cut.withColumnRenamed("tp", "pos"),
      Seq("doc_id", "pos"), "left_anti")
    // pmin/pmax (the segment's original position span) make the cut-run
    // stats DERIVABLE: kept runs and cut runs alternate, so per doc
    // n_cut_spans = n_segments − 1 + [first token cut] + [last token
    // cut], and tokens_removed = len − Σ slen — no separate window pass
    // over the cut relation
    val segtxt = Util.cachedRelation(s, dir, "dupApplySegs", "")(
      kept
        .withColumn("brk",
          when(col("pos") - lag(col("pos"), 1).over(byDoc) === 1L, 0L)
            .otherwise(1L))
        .withColumn("seg", sum(col("brk")).over(
          byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("doc_id"), col("seg"))
        .agg(transform(array_sort(collect_list(struct(col("pos"),
          col("tok")))), x => x("tok")).as("sw"),
          min(col("pos")).as("pmin"), max(col("pos")).as("pmax"))
        .select(col("doc_id"), col("seg"), col("sw"),
          size(col("sw")).cast("long").as("slen"),
          col("pmin"), col("pmax")))
    // The recount groups on a 96-bit window DIGEST (two 48-bit md5
    // halves as bigints — the repo's md5-clock idiom), NOT the W-token
    // window array: this group-by is the query's one corpus-wide
    // shuffle, and the digest ships 16 bytes per window where the array
    // shipped W full tokens (the round-17 verdict's top honest cost).
    // Lockstep is unconditional: both engines digest the identical
    // space-joined window string, so even a digest collision merges the
    // SAME groups on both sides and the hash compare still agrees. A
    // collision could in principle inflate remaining_dup above the
    // theorem's 0 (two distinct unique windows merging reads n = 2) —
    // at 96 bits that is a ~2⁻⁹⁶-per-pair birthday event, far below
    // any plausible window count's collision horizon.
    val remain = segtxt
      .select(posexplode(col("sw")).as(Seq("i", "tok0")), col("sw"),
        col("slen"))
      .filter(col("i") + W <= col("slen"))
      .select(md5(concat_ws(" ",
        slice(col("sw"), col("i") + 1, lit(W)))).as("h"))
      .groupBy(
        conv(substring(col("h"), 1, 12), 16, 10).cast("long").as("h1"),
        conv(substring(col("h"), 13, 12), 16, 10).cast("long").as("h2"))
      .agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(when(col("n") >= 2, col("n")).otherwise(0L)),
        lit(0L)).as("remaining_dup"))
    // ONE doc-keyed aggregate carries everything the final row needs:
    // cleaned_text, segment count, kept-token mass and the doc's kept
    // position span (for the alternating-runs cut-span formula)
    val perdoc = segtxt.groupBy(col("doc_id")).agg(
      array_join(transform(array_sort(collect_list(struct(col("seg"),
          concat_ws(" ", col("sw")).as("st")))), x => x("st")), "\n")
        .as("cleaned_text"),
      count(lit(1)).as("n_segments"),
      sum(col("slen")).as("kept_toks"),
      min(col("pmin")).as("fpos"), max(col("pmax")).as("lpos"))
    // kept runs and cut runs alternate within a doc, so the cut-run
    // count is n_segments − 1 plus a boundary cut run on each side
    // (first original token cut ⟺ fpos > 0; last cut ⟺ lpos < len−1);
    // a doc with NO kept tokens is one single cut run iff it has tokens
    dblDocs(s, dir).select(col("doc_id"))
      .join(lens, Seq("doc_id"), "left")
      .join(perdoc, Seq("doc_id"), "left")
      .crossJoin(broadcast(remain))
      .select(col("doc_id"),
        coalesce(col("len"), lit(0L)).as("n_tokens"),
        (coalesce(col("len"), lit(0L)) - coalesce(col("kept_toks"), lit(0L)))
          .as("tokens_removed"),
        when(col("n_segments").isNull,
            when(coalesce(col("len"), lit(0L)) > 0L, lit(1L))
              .otherwise(lit(0L)))
          .otherwise(col("n_segments") - 1L +
            when(col("fpos") > 0L, 1L).otherwise(0L) +
            when(col("lpos") < col("len") - 1L, 1L).otherwise(0L))
          .as("n_cut_spans"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"),
        col("remaining_dup"),
        (col("remaining_dup") === 0L).as("clean_ok"))
      .orderBy("doc_id")
  }

  private def substringDedupApplySql = {
    val W = 1 << dblRounds
    def level(k: Int): String = {
      val d = 1L << (k - 1)
      s"""p$k AS (
         |  SELECT a.doc_id, a.pos, a.cls AS lc, COALESCE(b.cls, -1) AS rc
         |  FROM c${k - 1} a LEFT JOIN c${k - 1} b
         |    ON a.doc_id = b.doc_id AND b.pos = a.pos + $d),
         |c$k AS (
         |  SELECT p.doc_id, p.pos, m.cls
         |  FROM p$k p JOIN (
         |    SELECT lc, rc, MIN(doc_id * 1048576 + pos) AS cls
         |    FROM p$k GROUP BY 1, 2) m USING (lc, rc))""".stripMargin
    }
    s"""WITH docs_ AS (
       |  SELECT doc_id, string_split(text, ' ') AS w
       |  FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |tt AS MATERIALIZED (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos, w[i+1] AS tok,
       |    doc_id * 1048576 + i AS gid
       |  FROM docs_, UNNEST(range(len(w))) u(i)),
       |c0 AS (
       |  SELECT t.doc_id, t.pos, m.cls
       |  FROM tt t JOIN (
       |    SELECT tok, MIN(gid) AS cls FROM tt GROUP BY 1) m USING (tok)),
       |${(1 to dblRounds).map(level).mkString(",\n")},
       |lens AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM tt GROUP BY 1),
       |nonrep AS (
       |  SELECT c.doc_id, c.pos
       |  FROM c$dblRounds c
       |  JOIN (SELECT cls FROM c$dblRounds GROUP BY 1
       |        HAVING COUNT(*) >= 2) s USING (cls)
       |  JOIN lens USING (doc_id)
       |  WHERE c.pos + $W <= lens.len
       |    AND c.doc_id * 1048576 + c.pos <> c.cls),
       |cut AS (
       |  SELECT DISTINCT doc_id, pos + o AS tp
       |  FROM nonrep, UNNEST(range($W)) u(o)),
       |kept AS (
       |  SELECT t.doc_id, t.pos, t.tok
       |  FROM tt t ANTI JOIN cut c
       |    ON t.doc_id = c.doc_id AND t.pos = c.tp),
       |brk AS (
       |  SELECT doc_id, pos, tok,
       |    CASE WHEN pos - lag(pos) OVER
       |      (PARTITION BY doc_id ORDER BY pos) = 1 THEN 0 ELSE 1 END AS b
       |  FROM kept),
       |seg AS (
       |  SELECT doc_id, pos, tok,
       |    CAST(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos)
       |      AS BIGINT) AS seg
       |  FROM brk),
       |segtxt AS MATERIALIZED (
       |  SELECT doc_id, seg, list(tok ORDER BY pos) AS sw,
       |    CAST(COUNT(*) AS BIGINT) AS slen,
       |    MIN(pos) AS pmin, MAX(pos) AS pmax
       |  FROM seg GROUP BY 1, 2),
       |remain AS (
       |  SELECT CAST(COALESCE(SUM(CASE WHEN n >= 2 THEN n ELSE 0 END), 0)
       |    AS BIGINT) AS remaining_dup
       |  FROM (
       |    SELECT CAST('0x' || substr(h, 1, 12) AS BIGINT) AS h1,
       |      CAST('0x' || substr(h, 13, 12) AS BIGINT) AS h2,
       |      COUNT(*) AS n
       |    FROM (
       |      SELECT md5(array_to_string(sw[i+1 : i+$W], ' ')) AS h
       |      FROM segtxt, UNNEST(range(greatest(slen - ${W - 1}, 0))) u(i))
       |    GROUP BY 1, 2)),
       |perdoc AS (
       |  SELECT doc_id,
       |    string_agg(array_to_string(sw, ' '), chr(10) ORDER BY seg)
       |      AS cleaned_text,
       |    CAST(COUNT(*) AS BIGINT) AS n_segments,
       |    CAST(SUM(slen) AS BIGINT) AS kept_toks,
       |    MIN(pmin) AS fpos, MAX(pmax) AS lpos
       |  FROM segtxt GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(l.len, 0) AS n_tokens,
       |  COALESCE(l.len, 0) - COALESCE(p.kept_toks, 0) AS tokens_removed,
       |  CASE WHEN p.n_segments IS NULL
       |    THEN CASE WHEN COALESCE(l.len, 0) > 0 THEN 1 ELSE 0 END
       |    ELSE p.n_segments - 1
       |      + CASE WHEN p.fpos > 0 THEN 1 ELSE 0 END
       |      + CASE WHEN p.lpos < COALESCE(l.len, 0) - 1 THEN 1 ELSE 0 END
       |  END AS n_cut_spans,
       |  COALESCE(p.n_segments, 0) AS n_segments,
       |  COALESCE(p.cleaned_text, '') AS cleaned_text,
       |  r.remaining_dup,
       |  r.remaining_dup = 0 AS clean_ok
       |FROM docs_ d
       |LEFT JOIN lens l USING (doc_id)
       |LEFT JOIN perdoc p USING (doc_id)
       |CROSS JOIN remain r
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Corpus-side doubling state for the INCREMENTAL span rung: the
    * established corpus (doc_id % 10 ≠ 0, [[dedupIncremental]]'s split)
    * gets its own class chain, and — the part the incremental consumer
    * actually reads — the per-round PAIR MAPS ((lc, rc) → class id;
    * round 0 is the token map). In a deployment these maps ARE the
    * precomputed substring-dedup state maintained next to the corpus
    * (the [[dedupIncremental]] recipe at the span tier); here they are
    * session-cached so the increment pass pays them once. Returns maps
    * 0..[[dblRounds]]. */
  private def dblIncCorpusMaps(s: SparkSession, dir: String)
      : Seq[DataFrame] = {
    val toks = Util.cachedRelation(s, dir, "dupDblIncToks", "")(
      dblDocs(s, dir).filter(!inSample)
        .select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "tok")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("tok"), (col("doc_id") * 1048576L + col("pos")).as("gid")))
    val map0 = Util.cachedRelation(s, dir, "dupDblIncMap0", "")(
      toks.groupBy(col("tok")).agg(min(col("gid")).as("cls")))
    var level = toks.join(map0, "tok")
      .select(col("doc_id"), col("pos"), col("cls"))
    val maps = Seq.newBuilder[DataFrame]
    maps += map0
    for (k <- 1 to dblRounds) {
      // lead() over the doc-keyed window replaces the (doc_id, pos−2^k)
      // self-join — positions are dense per doc, see [[dblPaired]]
      val paired = dblPaired(level, k)
      val mapK = Util.cachedRelation(s, dir, s"dupDblIncMap$k", "")(
        paired.groupBy(col("lc"), col("rc"))
          .agg(min(col("doc_id") * 1048576L + col("pos")).as("cls")))
      maps += mapK
      // the final level feeds nothing (classification reads the MAPS) —
      // don't register a cache entry that no consumer will materialize
      if (k < dblRounds)
        level = Util.cachedRelation(s, dir, s"dupDblIncCls$k", "")(
          paired.join(mapK, Seq("lc", "rc"))
            .select(col("doc_id"), col("pos"), col("cls")))
    }
    maps.result()
  }

  /** INCREMENTAL substring dedup — the span family's missing rung (every
    * other dedup tier has one: [[dedupIncremental]], cc_incremental,
    * semdedup_increment): classify each INCREMENT doc's token windows
    * (doc_id % 10 = 0, "today's crawl") against the ESTABLISHED corpus's
    * doubling state WITHOUT re-running the doubling on the merged
    * corpus. Round 0 maps increment tokens through the corpus token map
    * (novel tokens → sentinel −2, which no corpus map contains, so
    * novelty propagates through every later round by join miss); round
    * k maps each position's (class(pos), class(pos+2^{k−1})) pair
    * through the corpus pair map, with the corpus's own −1 sentinel for
    * beyond-doc-end right halves — after round [[dblRounds]] an
    * increment position carries a corpus class IFF its full
    * 2^[[dblRounds]]-token window occurs verbatim in the corpus (the
    * doubling theorem, incremental form). The DuckDB oracle computes
    * the SAME matches by DIRECT window-content equality (materialized
    * slices, min-gid representative) — the hash compare IS the
    * chain ≡ direct theorem, cross-engine, like the batch audit's
    * `direct_match` column but across the corpus/increment split.
    *
    * Output is INCREMENT-sized, one row per increment doc: token/window
    * counts, matched-window count, covered-token mass (any token inside
    * ≥ 1 matched full window — what a cut pass would remove),
    * `min_dup_cls` (the smallest matched corpus class id — decodes to
    * the corpus representative, the extractor's trick), `cover_milli`,
    * `has_dup`, and the accounting law `law_ok` (cover ≤ tokens,
    * matches ≤ windows).
    *
    * Scale shape: per round ONE keyed join of increment-sized position
    * rows against the cached corpus map — classification work ∝
    * increment tokens, never corpus tokens (the corpus maps are the
    * precomputed state; their one-time build is linear and amortized
    * across increments); coverage explodes ≤ W rows per matched window.
    * The corpus's windows are never materialized on the Spark side —
    * constant-width class ids all the way, the 100 TB argument of the
    * batch tier carried over. */
  private def dupSpanIncremental(s: SparkSession, dir: String): DataFrame = {
    val maps = dblIncCorpusMaps(s, dir)
    val incD = dblDocs(s, dir).filter(inSample)
    val incToks = incD
      .select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
    // Each round's shifted lookup is a lead() window over the previous
    // state ([[dblPaired]] — positions are dense per doc), so every
    // intermediate is referenced exactly ONCE and the round-17 per-round
    // caches are no longer needed: the former shift SELF-join read its
    // round twice (the 2^k recompute trap those caches existed to
    // break). Only the FINAL state is session-cached — it feeds two
    // consumers (the window counts and the coverage explode) — so the
    // whole chain evaluates once per session instead of materializing
    // four increment-sized relations.
    var ic = incToks.join(maps(0), Seq("tok"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("cls"), lit(-2L)).as("cls"))
    for (k <- 1 to dblRounds) {
      val paired = dblPaired(ic, k)
      ic = paired.join(maps(k), Seq("lc", "rc"), "left")
        .select(col("doc_id"), col("pos"),
          coalesce(col("cls"), lit(-2L)).as("cls"))
    }
    ic = Util.cachedRelation(s, dir, s"dupSpanIncState$dblRounds", "")(ic)
    val w = 1 << dblRounds
    val lens = incD.select(col("doc_id"),
      coalesce(size(col("w")).cast("long"), lit(0L)).as("n_tokens"))
    val matched = ic.join(lens, "doc_id")
      .filter(col("cls") >= 0L && col("pos") <= col("n_tokens") - w)
      .select(col("doc_id"), col("pos"), col("cls"))
    val dupw = matched.groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_windows"), min("cls").as("min_dup_cls"))
    val cover = matched
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (w - 1))).as("cp"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("dup_cover"))
    lens
      .join(dupw, Seq("doc_id"), "left")
      .join(cover, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        greatest(lit(0L), col("n_tokens") - (w - 1)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("dup_cover"), lit(0L)).as("dup_cover"),
        col("min_dup_cls"))
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        col("n_dup_windows"), col("dup_cover"), col("min_dup_cls"),
        when(col("n_tokens") > 0L,
          expr("(1000 * dup_cover) div n_tokens")).otherwise(0L)
          .as("cover_milli"),
        (col("n_dup_windows") > 0L).as("has_dup"),
        (col("dup_cover") <= col("n_tokens") &&
          col("n_dup_windows") <= col("n_windows")).as("law_ok"))
      .orderBy("doc_id")
  }

  /** Oracle = the INDEPENDENT direct formulation: materialize full
    * corpus and increment windows, match by list equality, take the
    * min-gid corpus representative — no doubling anywhere, so the hash
    * compare certifies the incremental chain against first-principles
    * window semantics. */
  private val dupSpanIncrementalSql = {
    val w = 1 << dblRounds
    s"""WITH docs_ AS (
       |  SELECT doc_id, string_split(text, ' ') AS w
       |  FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0),
       |incd AS (SELECT doc_id, w FROM docs_ WHERE doc_id % $sampleMod = 0),
       |corpd AS (SELECT doc_id, w FROM docs_ WHERE doc_id % $sampleMod <> 0),
       |wc AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos, w[i+1 : i+$w] AS win
       |  FROM corpd, UNNEST(range(len(w))) u(i)
       |  WHERE len(w) - i >= $w),
       |wi AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos, w[i+1 : i+$w] AS win
       |  FROM incd, UNNEST(range(len(w))) u(i)
       |  WHERE len(w) - i >= $w),
       |m AS (
       |  SELECT wi.doc_id, wi.pos,
       |    MIN(wc.doc_id * 1048576 + wc.pos) AS cls
       |  FROM wi JOIN wc ON wc.win = wi.win
       |  GROUP BY 1, 2),
       |lens AS (
       |  SELECT doc_id, CAST(COALESCE(len(w), 0) AS BIGINT) AS n_tokens
       |  FROM incd),
       |dupw AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_windows,
       |    MIN(cls) AS min_dup_cls
       |  FROM m GROUP BY 1),
       |cov AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_cover FROM (
       |    SELECT DISTINCT doc_id, pos + j AS cp
       |    FROM m, UNNEST(range($w)) t(j))
       |  GROUP BY 1)
       |SELECT l.doc_id, l.n_tokens,
       |  GREATEST(CAST(0 AS BIGINT), l.n_tokens - ${w - 1}) AS n_windows,
       |  COALESCE(d.n_dup_windows, 0) AS n_dup_windows,
       |  COALESCE(c.dup_cover, 0) AS dup_cover,
       |  d.min_dup_cls,
       |  CASE WHEN l.n_tokens > 0
       |    THEN (1000 * COALESCE(c.dup_cover, 0)) // l.n_tokens
       |    ELSE CAST(0 AS BIGINT) END AS cover_milli,
       |  COALESCE(d.n_dup_windows, 0) > 0 AS has_dup,
       |  COALESCE(c.dup_cover, 0) <= l.n_tokens
       |    AND COALESCE(d.n_dup_windows, 0) <=
       |      GREATEST(CAST(0 AS BIGINT), l.n_tokens - ${w - 1}) AS law_ok
       |FROM lens l
       |LEFT JOIN dupw d USING (doc_id)
       |LEFT JOIN cov c USING (doc_id)
       |ORDER BY l.doc_id""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("dup_span_doubling", dupSpanDoubling, Some(dupSpanDoublingSql)),
    Q("dup_span_extract", dupSpanExtract, Some(dupSpanExtractSql)),
    Q("dup_span_incremental", dupSpanIncremental,
      Some(dupSpanIncrementalSql)),
    Q("substring_dedup_apply", substringDedupApply,
      Some(substringDedupApplySql)),
    Q("minhash_band_sweep", minhashBandSweep, Some(minhashBandSweepSql)),
    Q("minhash_estimate_audit", minhashEstimateAudit,
      Some(minhashEstimateAuditSql)),
    Q("containment_pairs", containmentPairs, Some(containmentPairsSql)),
    Q("containment_prefix_pairs", containmentPrefixPairs,
      Some(containmentPairsSql)),
    Q("jaccard_prefix_pairs", jaccardPrefixPairs, Some(jaccardPrefixPairsSql)),
    Q("dedup_canonical", dedupCanonical, Some(dedupCanonicalSql)),
    Q("dup_cluster_stats", dupClusterStats, Some(dupClusterStatsSql)),
    Q("dedup_incremental", dedupIncremental, Some(dedupIncrementalSql)),
    Q("dedup_exact", dedupExact, Some(dedupExactSql)),
    Q("ngram_jaccard_pairs", ngramJaccardPairs, Some(ngramJaccardPairsSql)),
    Q("dedup_minhash_clusters", dedupMinhashClusters, Some(dedupMinhashClustersSql)),
    Q("lsh_band_stats", lshBandStats, Some(lshBandStatsSql)),
    Q("connected_components", connectedComponents, Some(connectedComponentsSql)),
    Q("cc_incremental", ccIncremental, Some(ccIncrementalSql)),
    Q("leakage_safe_split", leakageSafeSplit, Some(leakageSafeSplitSql)),
    Q("corpus_yield_report", corpusYieldReport, Some(corpusYieldReportSql)),
    Q("cross_source_leakage", crossSourceLeakage, Some(crossSourceLeakageSql)),
    Q("soft_dedup_weights", softDedupWeights, Some(softDedupWeightsSql)),
    Q("dedup_tier_agreement", dedupTierAgreement, Some(dedupTierAgreementSql)),
    Q("lsh_recall_audit", lshRecallAudit, Some(lshRecallAuditSql)),
    Q("dedup_simhash", dedupSimhash, Some(dedupSimhashSql)),
    Q("simhash_neardup_pairs", simhashNeardupPairs, Some(simhashNeardupPairsSql)))
}
