package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Util._

/** Corpus-curation operators from the published LLM-data-pipeline
  * literature that complete the selection/export story around
  * [[CorpusOps]]: the deterministic global shuffle a training exporter
  * runs last (shard manifests with order checksums), and DSIR-style
  * hashed-n-gram importance weighting (Xie et al. 2023, "Data Selection
  * for Language Models via Importance Resampling") — the scalable
  * feature-hashing variant of the unigram affinity already covered by
  * `target_affinity_resample`.
  *
  * House determinism contract throughout: engine-portable md5 hashing
  * (`conv(substring(md5(x), 1, 8), 16, 10)` ↔ DuckDB
  * `CAST('0x' || substr(md5(x), 1, 8) AS BIGINT)`), exact integer milli
  * arithmetic, the libm-free floor-log₂ (`length(bin(x)) − 1`), and
  * explicit ORDER BY on a unique key. */
object CurationOps {

  /** Shard count for the training-export shuffle. Fixed small here; a
    * production export sizes it to target-file-size (tokens/shard), which
    * changes only this constant. */
  val shuffleShards = 8

  /** Order-checksum modulus (2³¹−1-scale prime): keeps the positional
    * checksum exact in int64 — each term is ((pos % M)·(h % M)) % M
    * < M² ≈ 10¹⁸ < 2⁶³, and the running sum stays exact for up to ~9·10⁹
    * docs per shard before the final % M. */
  val ordMod = 1000000007L

  /** Engine-portable 32-bit doc hash (the [[graft.queries]] md5-nibble
    * idiom — a plain doc_id modulus would alias with the testdata's
    * source = id % 20 rule). */
  private def docHash: Column =
    conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long")

  /** Deterministic global shuffle + shard manifest — the training
    * exporter's last step (every published pretraining pipeline shuffles
    * before sharding so a sequential reader sees an unbiased stream; e.g.
    * the Pile/Dolma/RedPajama release layouts). Docs are assigned
    * shard = h % S by the md5 hash and ordered WITHIN each shard by
    * (h, doc_id); the output is the shard MANIFEST a reader validates
    * against: doc/token counts, the hash range, an order-independent
    * hash sum, and a position-weighted checksum that pins the within-
    * shard ORDER itself (two engines agreeing on ord_check agree on the
    * full permutation, not just the membership).
    *
    * Scale shape — the reason this beats a global sort-by-random: shard
    * assignment is a stateless projection, the within-shard order is a
    * PER-SHARD local sort (one hash partition each, no global ordering
    * across shards), and the manifest is an S-row aggregate. At 100 TB
    * with S sized to ~file-size this is one shuffle by shard key with
    * sort-within-partitions — exactly `repartition(S, h).sortWithin...`
    * — never a single total order. */
  private def globalShuffleShards(s: SparkSession, dir: String): DataFrame =
    shardManifestOf(docTokens(s, dir))

  /** (doc_id, toks) projection of the export universe: every non-null
    * doc_id with its whitespace token count. */
  private def docTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        size(filter(split(coalesce(col("text"), lit("")), " "),
          x => x =!= "")).cast("long").as("toks"))

  /** The shard-manifest core over ANY (doc_id, toks) doc set — shared by
    * the whole-corpus export and the curated (post-gate) export, so the
    * two manifests can't drift in hashing or checksum arithmetic. */
  private def shardManifestOf(d0: DataFrame): DataFrame =
    shardManifestRelOf(d0).orderBy("shard")

  /** Unordered manifest relation — the export core itself, shared by the
    * two export queries (via [[shardManifestOf]]) and the three-manifest
    * drift audit, which joins these relations and must not carry
    * intermediate sorts. */
  private def shardManifestRelOf(d0: DataFrame): DataFrame = {
    val d = d0
      .withColumn("h", docHash)
      .withColumn("shard", col("h") % shuffleShards)
    val pos = row_number().over(
      Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id")))
    d.withColumn("pos", pos.cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        min(col("h")).as("min_h"),
        max(col("h")).as("max_h"),
        sum(col("h") % ordMod).as("sum_h_raw"),
        sum(((col("pos") % ordMod) * (col("h") % ordMod)) % ordMod)
          .as("ord_raw"))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        col("min_h"), col("max_h"),
        (col("sum_h_raw") % ordMod).as("hash_sum"),
        (col("ord_raw") % ordMod).as("ord_check"))
  }

  /** Oracle twin of [[shardManifestRelOf]] as a named CTE pair reading
    * from a caller-named (doc_id, toks, h) CTE. */
  private def manifestSqlCte(name: String, dCte: String): String =
    s"""p$name AS (
       |  SELECT *, h % $shuffleShards AS shard,
       |    CAST(row_number() OVER (PARTITION BY h % $shuffleShards
       |      ORDER BY h, doc_id) AS BIGINT) AS pos
       |  FROM $dCte),
       |$name AS (
       |  SELECT shard, COUNT(*) AS n_docs,
       |    CAST(SUM(toks) AS BIGINT) AS n_tokens,
       |    MIN(h) AS min_h, MAX(h) AS max_h,
       |    CAST(SUM(h % $ordMod) AS BIGINT) % $ordMod AS hash_sum,
       |    CAST(SUM(((pos % $ordMod) * (h % $ordMod)) % $ordMod) AS BIGINT)
       |      % $ordMod AS ord_check
       |  FROM p$name GROUP BY shard)""".stripMargin

  /** The whole-universe (doc_id, toks, h) CTE of the export oracles. */
  private val docTokensSqlCte =
    s"""d AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split(COALESCE(text, ''), ' '),
       |      x -> x <> '')) AS BIGINT) AS toks,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS h
       |  FROM documents WHERE doc_id IS NOT NULL)""".stripMargin

  private def globalShuffleShardsSql =
    s"""WITH $docTokensSqlCte,
       |${manifestSqlCte("mf", "d")}
       |SELECT * FROM mf ORDER BY shard""".stripMargin

  /** Curated-export manifest — the END of the curation pipeline as one
    * declarative plan: the docs that survived every row-local and
    * corpus-global gate of `corpus_prune_verdicts` (canonical under exact
    * dedup, quality band, repetition gate), pushed through the SAME
    * deterministic shuffle-shard manifest as [[globalShuffleShards]].
    * This is the artifact a training run actually consumes: per shard,
    * how many curated docs/tokens, the hash range, and membership+order
    * checksums a reader can validate before touching payload bytes.
    *
    * Plan shape: the verdict relation (one corpus scan + canon-hash
    * window + repetition join) feeds a doc-keyed semi-join against the
    * (doc_id, toks) projection; above that it is exactly the
    * [[shardManifestOf]] core — one exchange on the shard key, per-shard
    * local sort, S-row aggregate. Nothing global-orders the corpus; the
    * gates and the export compose in a single Catalyst plan with no
    * intermediate materialization. */
  private def curatedShardManifest(s: SparkSession, dir: String): DataFrame =
    shardManifestOf(docTokens(s, dir)
      .join(TextOps.pruneVerdictRel(s, dir).filter(col("keep"))
        .select(col("doc_id")), "doc_id"))

  private def curatedShardManifestSql =
    s"""WITH v AS (
       |  SELECT doc_id FROM (${TextOps.corpusPruneVerdictsSql
             .replace("\n", "\n  ")}) WHERE keep),
       |$docTokensSqlCte,
       |dk AS (SELECT d.* FROM d JOIN v USING (doc_id)),
       |${manifestSqlCte("mf", "dk")}
       |SELECT * FROM mf ORDER BY shard""".stripMargin

  /** Export-manifest maintenance audit — the kn_model_drift /
    * cc_incremental contract applied to the export: when an increment
    * lands (the family's md5-decile-9 slice), which manifest fields can
    * a maintainer MERGE and which force a re-sort? The audit computes
    * the base, increment and merged manifests from the same factored
    * core and reports, per shard, that the COUNTING fields compose
    * additively (n_docs, n_tokens, and hash_sum mod the prime — the
    * membership checksum is a sum, so merge ≡ recompute by
    * construction, and the row SHOWS it) while `ord_preserved` exposes
    * the positional checksum's non-additivity: any increment doc
    * hashing into the middle of a shard's (h, doc_id) order shifts
    * every later position, so ord_check must be recomputed from the
    * re-sorted shard — exactly the field a naive incremental exporter
    * would corrupt. A shard the increment misses keeps its order
    * (ord_preserved true); an empty base shard compares NULL-safely
    * false.
    *
    * Plan: three manifest relations over one doc-grain projection
    * (each one exchange-by-shard + per-shard local sort + 8-row
    * aggregate), joined at shard grain — increment-sized work never
    * multiplies the corpus-sized pass. */
  private def exportManifestDrift(s: SparkSession, dir: String): DataFrame = {
    val d = docTokens(s, dir).withColumn("dec", docHash % 10)
    def named(df: DataFrame, p: String): DataFrame =
      shardManifestRelOf(df).select(col("shard") +:
        Seq("n_docs", "n_tokens", "hash_sum", "ord_check")
          .map(c => col(c).as(s"${p}_$c")): _*)
    val base = named(d.filter(col("dec") =!= 9).drop("dec"), "base")
    val inc = named(d.filter(col("dec") === 9).drop("dec"), "inc")
    val merged = named(d.drop("dec"), "m")
    merged.join(base, Seq("shard"), "left").join(inc, Seq("shard"), "left")
      .select(col("shard"),
        coalesce(col("base_n_docs"), lit(0L)).as("base_docs"),
        coalesce(col("inc_n_docs"), lit(0L)).as("inc_docs"),
        col("m_n_docs").as("merged_docs"),
        (coalesce(col("base_n_docs"), lit(0L)) +
          coalesce(col("inc_n_docs"), lit(0L)) === col("m_n_docs") &&
          coalesce(col("base_n_tokens"), lit(0L)) +
            coalesce(col("inc_n_tokens"), lit(0L)) === col("m_n_tokens") &&
          (coalesce(col("base_hash_sum"), lit(0L)) +
            coalesce(col("inc_hash_sum"), lit(0L))) % ordMod ===
            col("m_hash_sum")).as("additive_ok"),
        (col("base_ord_check") <=> col("m_ord_check")).as("ord_preserved"))
      .orderBy("shard")
  }

  private def exportManifestDriftSql =
    s"""WITH $docTokensSqlCte,
       |d0 AS (SELECT *, h % 10 AS dec FROM d),
       |db AS (SELECT doc_id, toks, h FROM d0 WHERE dec <> 9),
       |di AS (SELECT doc_id, toks, h FROM d0 WHERE dec = 9),
       |${manifestSqlCte("mb", "db")},
       |${manifestSqlCte("mi", "di")},
       |${manifestSqlCte("mm", "d")}
       |SELECT mm.shard,
       |  COALESCE(mb.n_docs, 0) AS base_docs,
       |  COALESCE(mi.n_docs, 0) AS inc_docs,
       |  mm.n_docs AS merged_docs,
       |  (COALESCE(mb.n_docs, 0) + COALESCE(mi.n_docs, 0) = mm.n_docs
       |   AND COALESCE(mb.n_tokens, 0) + COALESCE(mi.n_tokens, 0)
       |     = mm.n_tokens
       |   AND (COALESCE(mb.hash_sum, 0) + COALESCE(mi.hash_sum, 0))
       |     % $ordMod = mm.hash_sum) AS additive_ok,
       |  mb.ord_check IS NOT DISTINCT FROM mm.ord_check AS ord_preserved
       |FROM mm LEFT JOIN mb USING (shard) LEFT JOIN mi USING (shard)
       |ORDER BY mm.shard""".stripMargin

  /** Hashed-feature bucket count for the DSIR weights (2⁸ — the feature-
    * hashing trick; the published method uses 10⁴, the mechanics are
    * identical and 256 keeps the verify-scale buckets non-degenerate). */
  val dsirBuckets = 256

  /** DSIR importance weights over HASHED bigram features (Xie et al.
    * 2023): both the raw corpus and the target slice (`lang = 'en'`, the
    * family's reference stand-in) are reduced to B-bucket hashed-bigram
    * count vectors, and each document scores
    * Σ_occurrences [log p_target(bucket) − log p_raw(bucket)] — the
    * importance log-ratio whose resampling defines DSIR. This is the
    * SCALE counterpart of `target_affinity_resample`: that query joins a
    * vocabulary-sized word-stats relation; this one broadcasts a
    * CONSTANT-size (B-row) model no matter the corpus, which is exactly
    * why the paper hashes features.
    *
    * Determinism: bucket = md5-nibble hash of "u v" % B; add-one
    * smoothing on bucket counts; logs are a libm-free OCTAVE-LINEAR
    * fixed-point log₂ in milli-bits — L(x) = 1000·⌊log₂x⌋ +
    * (1000·x) div 2^⌊log₂x⌋ − 1000, i.e. the family's floor-log₂ plus a
    * linearly-interpolated mantissa (≤ ~86 milli-bits interpolation
    * error, exact integers on both engines; the bare floor-log₂ is too
    * coarse here — it collapses most bucket ratios to exactly 0). Taken
    * per FACTOR (L(ct) − L(S_t) − L(cr) + L(S_r)) so nothing multiplies
    * two counts; 1000·x bounds each count at ~9·10¹⁵, far above any
    * real bucket count. keep = weight > 0 (importance ratio > 1) — a
    * threshold on the ratio itself, not a corpus-wide rank, so no
    * global sort exists in the plan.
    *
    * Bigram extraction mirrors the [[LmOps]] contract (raw split on ' ';
    * NULL text and one-word docs contribute nothing on either engine);
    * docs with no bigrams are excluded — they have no features to score.
    *
    * Scale shape: one token-scale (doc, bucket) map-side-combining hash
    * aggregate, a 256-row model relation broadcast back onto it, one
    * doc-grain aggregate. Nothing is vocabulary- or pair-sized. */
  /** Spark-side octave-linear milli-bit log₂ (the DuckDB twin is
    * [[lgSql]]) — package-shared: the DSIR weights, the HLL linear-
    * counting correction and the Zipf-slope audit all need the same
    * deterministic fixed-point log. */
  private[queries] def lg(c: String) =
    s"(1000 * (length(bin($c)) - 1) + (1000 * $c) div " +
      s"shiftleft(CAST(1 AS BIGINT), length(bin($c)) - 1) - 1000)"

  private def dsirHashedNgramWeights(s: SparkSession, dir: String): DataFrame = {
    val bg = t(s, dir, "documents").filter(col("doc_id").isNotNull)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("lang"), explode(expr(
        "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1)," +
          " (a, b) -> concat(a, ' ', b))")).as("g"))
      .withColumn("f",
        conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long")
          % dsirBuckets)
    // (doc, bucket)-grain — referenced twice (model build + final scoring
    // join), so session-cached to avoid re-running the token-scale pass
    val occ = Util.cachedRelation(s, dir, "dsirOcc", s"B=$dsirBuckets") {
      bg.groupBy(col("doc_id"), col("f"))
        .agg(count(lit(1)).as("tf"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tf_t"))
    }
    val feat = occ.groupBy(col("f"))
      .agg((sum(col("tf")) + 1L).as("cr"), (sum(col("tf_t")) + 1L).as("ct"))
    val tot = feat.agg(sum(col("cr")).as("sr"), sum(col("ct")).as("st"))
    val model = feat.crossJoin(broadcast(tot))
      .select(col("f"), expr(
        s"CAST((${lg("ct")} - ${lg("st")}) - (${lg("cr")} - ${lg("sr")}) " +
          "AS BIGINT)").as("w_milli"))
    occ.join(model, "f")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * col("w_milli")).as("weight_milli"))
      .select(col("doc_id"), col("n_bigrams"), col("weight_milli"),
        (col("weight_milli") > 0).as("keep"))
      .orderBy("doc_id")
  }

  private[queries] def lgSql(c: String) =
    s"(1000 * (length(bin($c)) - 1) + (1000 * $c) // " +
      s"(CAST(1 AS BIGINT) << (length(bin($c)) - 1)) - 1000)"

  private val dsirHashedNgramWeightsSql =
    s"""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS w
       |  FROM documents WHERE doc_id IS NOT NULL),
       |bg AS (
       |  SELECT doc_id, lang,
       |    CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % $dsirBuckets AS f
       |  FROM d, UNNEST(list_transform(range(greatest(len(w) - 1, 0)),
       |    i -> w[i+1] || ' ' || w[i+2])) t(g)),
       |occ AS (
       |  SELECT doc_id, f, COUNT(*) AS tf,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tf_t
       |  FROM bg GROUP BY 1, 2),
       |feat AS (
       |  SELECT f, CAST(SUM(tf) + 1 AS BIGINT) AS cr,
       |    CAST(SUM(tf_t) + 1 AS BIGINT) AS ct
       |  FROM occ GROUP BY 1),
       |tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS sr,
       |  CAST(SUM(ct) AS BIGINT) AS st FROM feat),
       |model AS (
       |  SELECT f, CAST((${lgSql("ct")} - ${lgSql("st")})
       |    - (${lgSql("cr")} - ${lgSql("sr")}) AS BIGINT) AS w_milli
       |  FROM feat CROSS JOIN tot)
       |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
       |  CAST(SUM(tf * w_milli) AS BIGINT) AS weight_milli,
       |  CAST(SUM(tf * w_milli) AS BIGINT) > 0 AS keep
       |FROM occ JOIN model USING (f)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** One-row broadcastable DSIR model for the streaming gate (the
    * knModelRow/nbWeightsRow collapse): bucket → w_milli map over the
    * hashed-bigram feature space plus the unseen-bucket default — under
    * add-one smoothing a bucket absent from the training corpus has
    * cr = ct = 1, so w0 = L(sr) − L(st). CONSTANT-size by construction
    * (≤ [[dsirBuckets]] entries) — the feature-hashing trick is exactly
    * what makes the streaming broadcast trivial where the unigram
    * affinity model needs a vocabulary-sized map. */
  def dsirModelRow(docs: DataFrame): DataFrame = {
    val bg = docs.filter(col("doc_id").isNotNull)
      .select(col("lang"), split(col("text"), " ").as("w"))
      .select(col("lang"), explode(expr(
        "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1)," +
          " (a, b) -> concat(a, ' ', b))")).as("g"))
      .withColumn("f",
        conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long")
          % dsirBuckets)
    val feat = bg.groupBy(col("f"))
      .agg((count(lit(1)) + 1L).as("cr"),
        (sum(when(col("lang") === "en", 1L).otherwise(0L)) + 1L).as("ct"))
    val tot = feat.agg(sum(col("cr")).as("sr"), sum(col("ct")).as("st"))
    feat.crossJoin(broadcast(tot))
      .select(col("f"),
        expr(s"CAST((${lg("ct")} - ${lg("st")}) - (${lg("cr")} - ${lg("sr")}) " +
          "AS BIGINT)").as("w_milli"),
        expr(s"CAST(${lg("sr")} - ${lg("st")} AS BIGINT)").as("w0r"))
      .agg(map_from_entries(collect_list(struct(col("f"), col("w_milli"))))
          .as("wm"),
        // coalesce: a training corpus with ZERO bigrams has an empty feat
        // relation, so max() is NULL — the gate must degrade to the neutral
        // log-ratio (weight 0 / keep false), not emit NULL verdicts forever
        coalesce(max(col("w0r")), lit(0L)).as("w0"))
  }

  /** SemDeDup cluster-size cap: a cluster larger than this is dropped
    * from PAIRING (members still appear in the output with n_dups = 0)
    * and the drop is logged — the maxLshBucket discipline. At web scale
    * the real control is K ∝ √N (the paper uses 50k clusters for LAION);
    * the cap is the backstop for a degenerate quantizer, not the design.
    * Session conf `graft.cap.semCluster` overrides — ENGINE SIDE ONLY:
    * the DuckDB oracle twins are static SQL interpolating the default
    * (the driver's `oracleSql` contract is session-free), so dual-replay
    * under an override reports spurious drift. [[graft.Verify]] refuses
    * to run with any oracle-pinned knob overridden. */
  val maxSemClusterDefault = 4096
  def maxSemCluster(s: SparkSession): Int =
    s.conf.getOption("graft.cap.semCluster").map(_.toInt)
      .getOrElse(maxSemClusterDefault)

  /** SemDeDup duplicate threshold (cosine ≥ 0.4 — corpus-relative, the
    * `dedup_embedding_neardup` constant: the synthetic corpus max
    * off-diagonal cosine is ≈ 0.51). */
  val semTau = 0.4

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * space with a coarse quantizer, compare vectors ONLY within their
    * cluster, call a pair semantic duplicates at cosine ≥ τ, and keep
    * exactly one representative per duplicate neighborhood — the paper
    * keeps the member FURTHEST from its cluster centroid (diversity-
    * preserving), which this variant makes deterministic: x is pruned
    * iff some τ-neighbor y in its cluster has strictly lower
    * centroid-cosine (ties broken by lower vec_id). Output is one row
    * per corpus vector: cluster, centroid cosine, τ-neighbor count, the
    * keep verdict, and the pruning witness.
    *
    * Rides the session-cached [[SimilarityOps.ivfServeAssigned]]
    * inverted lists — SemDeDup IS "IVF assignment + within-list pairs",
    * so the serve index and the dedup pass share one physical relation.
    *
    * Scale shape: the pair join is keyed by cent_id and bounded by the
    * cluster cap (quadratic only WITHIN a cluster; the paper's K ∝ √N
    * keeps clusters ~√N); centroids broadcast; everything else is
    * vector-grain. Exact int64 dots; cosines are identical IEEE doubles
    * on both engines. */
  private def dotQ(a: Column, b: Column) =
    graft.functions.GraftFunctions.quantized_dot(a, b)

  /** The shared geometry of the cluster-curation tiers: every corpus
    * vector with its assigned cluster and centroid cosine — derived
    * from the session-cached [[SimilarityOps.ivfServeAssigned]]
    * inverted lists (one cheap broadcast join on top of the cache). */
  private def centAssigned(s: SparkSession, dir: String): DataFrame = {
    SimilarityOps.ivfServeAssigned(s, dir)
      .join(broadcast(SimilarityOps.ivfServeCents(s, dir)), "cent_id")
      .withColumn("ccos", dotQ(col("q"), col("cq")).cast("double") /
        sqrt((col("nrm") * col("cn")).cast("double")))
      .select(col("vec_id"), col("cent_id"), col("q"), col("nrm"), col("ccos"))
  }

  /** The capped within-cluster pair relation (x, y, xc, yc, cos) with
    * NO τ applied — shared by the fixed-τ prune and the τ sweep, so the
    * expensive pair join exists once. */
  private def semPairs(s: SparkSession, dir: String): DataFrame = {
    val m = centAssigned(s, dir)
    val csz = m.groupBy(col("cent_id")).agg(count(lit(1)).as("k"))
    val ok = withDropMetric(s, csz, "graft_drop_sem_cluster",
        sum(when(col("k") > maxSemCluster(s), 1L).otherwise(0L)))
      .filter(col("k") <= maxSemCluster(s))
      .select(col("cent_id"))
    val mok = m.join(ok, Seq("cent_id"), "left_semi")
    val a = mok.select(col("cent_id"), col("vec_id").as("x"),
      col("q").as("qx"), col("nrm").as("nx"), col("ccos").as("xc"))
    val b = mok.select(col("cent_id"), col("vec_id").as("y"),
      col("q").as("qy"), col("nrm").as("ny"), col("ccos").as("yc"))
    a.join(b, Seq("cent_id")).filter(col("x") =!= col("y"))
      .withColumn("cos", dotQ(col("qx"), col("qy")).cast("double") /
        sqrt((col("nx") * col("ny")).cast("double")))
      .select(col("x"), col("y"), col("xc"), col("yc"), col("cos"))
  }

  private def semdedupPrune(s: SparkSession, dir: String): DataFrame = {
    val m = centAssigned(s, dir)
    val dup = semPairs(s, dir).filter(col("cos") >= semTau)
    val agg = dup.groupBy(col("x").as("vec_id"))
      .agg(count(lit(1)).as("n_dups"),
        min(when(col("yc") < col("xc") ||
          (col("yc") === col("xc") && col("y") < col("x")), col("y")))
          .as("pruned_by"))
    m.join(agg, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id"), col("ccos"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("pruned_by").isNull.as("keep"), col("pruned_by"))
      .orderBy("vec_id")
  }

  /** Oracle CTEs for the shared geometry: m (assignment + centroid
    * cosine) and prs (the capped within-cluster pair relation, no τ) —
    * one copy of the pair math for the prune, the sweep and the
    * tier-agreement oracles. */
  private def semPairsSqlCtes: String =
    s"""m AS (
       |  SELECT vec_id, cent_id, q, nrm,
       |    CAST(dot AS DOUBLE) / sqrt(CAST(nrm * cn AS DOUBLE)) AS ccos
       |  FROM assigned),
       |ok AS (SELECT cent_id FROM m GROUP BY cent_id
       |       HAVING COUNT(*) <= $maxSemClusterDefault),
       |mok AS (SELECT m.* FROM m JOIN ok USING (cent_id)),
       |prs AS (
       |  SELECT a.vec_id AS x, b.vec_id AS y, a.ccos AS xc, b.ccos AS yc,
       |    CAST(CAST(list_sum(list_transform(range(len(a.q)),
       |      i -> a.q[i+1] * b.q[i+1])) AS BIGINT) AS DOUBLE)
       |    / sqrt(CAST(a.nrm * b.nrm AS DOUBLE)) AS cos
       |  FROM mok a JOIN mok b
       |    ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id)""".stripMargin

  private val semdedupPruneSql =
    s"""WITH ${SimilarityOps.ivfServeCtes},
       |$semPairsSqlCtes,
       |dup AS (SELECT x, y, xc, yc FROM prs WHERE cos >= $semTau),
       |agg AS (
       |  SELECT x AS vec_id, COUNT(*) AS n_dups,
       |    MIN(CASE WHEN yc < xc OR (yc = xc AND y < x) THEN y END)
       |      AS pruned_by
       |  FROM dup GROUP BY 1)
       |SELECT m.vec_id, m.cent_id, m.ccos,
       |  COALESCE(a.n_dups, 0) AS n_dups,
       |  a.pruned_by IS NULL AS keep, a.pruned_by
       |FROM m LEFT JOIN agg a USING (vec_id)
       |ORDER BY m.vec_id""".stripMargin

  /** Prototype-prune fraction in mille: the most-prototypical 30% of
    * each cluster is pruned (the abundant-data regime of the paper —
    * keep HARD examples; the scarce-data regime flips the sign, which
    * changes one comparison). */
  val protoPruneMille = 300

  /** SSL-prototype data pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws: beating power law scaling via data pruning"): the
    * hardness metric is the cosine to the assigned cluster centroid —
    * the most PROTOTYPICAL (highest centroid-cosine) examples are the
    * most redundant, so in the abundant-data regime the top
    * `protoPruneMille`‰ of each cluster is pruned and the hard tail
    * kept. The within-cluster rank (ccos DESC, vec_id ASC) makes the
    * verdict deterministic; the keep rule `1000·rk > k·mille` is exact
    * integer arithmetic.
    *
    * Rides the same session-cached [[SimilarityOps.ivfServeAssigned]]
    * inverted lists as [[semdedupPrune]] — prototypicality IS the IVF
    * assignment geometry, so the serve index, SemDeDup, and this pruner
    * share one physical relation. Unlike SemDeDup there is no pair
    * join at all: one window rank per cluster (hash-partitioned by
    * cent_id), vector-grain everywhere — this tier costs a sort within
    * each inverted list and nothing quadratic, which is why the paper
    * runs it at web scale where pairwise tiers need banding. */
  private def prototypePrune(s: SparkSession, dir: String): DataFrame = {
    val m = centAssigned(s, dir).select(col("vec_id"), col("cent_id"), col("ccos"))
    val w = Window.partitionBy(col("cent_id"))
      .orderBy(col("ccos").desc, col("vec_id"))
    m.withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("k_cluster",
        count(lit(1)).over(Window.partitionBy(col("cent_id"))).cast("long"))
      .select(col("vec_id"), col("cent_id"), col("ccos"), col("rk"),
        col("k_cluster"),
        (col("rk") * 1000L > col("k_cluster") * protoPruneMille).as("keep"))
      .orderBy("vec_id")
  }

  private val prototypePruneSql =
    s"""WITH ${SimilarityOps.ivfServeCtes},
       |m AS (
       |  SELECT vec_id, cent_id,
       |    CAST(dot AS DOUBLE) / sqrt(CAST(nrm * cn AS DOUBLE)) AS ccos
       |  FROM assigned),
       |r AS (
       |  SELECT *,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY cent_id
       |      ORDER BY ccos DESC, vec_id) AS BIGINT) AS rk,
       |    CAST(COUNT(*) OVER (PARTITION BY cent_id) AS BIGINT) AS k_cluster
       |  FROM m)
       |SELECT vec_id, cent_id, ccos, rk, k_cluster,
       |  rk * 1000 > k_cluster * $protoPruneMille AS keep
       |FROM r ORDER BY vec_id""".stripMargin

  /** Do the two cluster-curation tiers prune the same vectors? Per
    * cluster, the 2×2 verdict matrix between SemDeDup's keep (no
    * dominating τ-neighbor) and the prototype pruner's keep (hard
    * tail) — the `dedup_tier_agreement`/`quality_gate_agreement`
    * contract applied to the embedding side. The tiers answer DIFFERENT
    * questions (redundant-near-copy vs too-easy-example), so the
    * off-diagonal cells are the calibration signal: sem-only = hard
    * but duplicated (dedup catches what hardness misses), proto-only =
    * unique but prototypical (pruning catches what dedup misses). A
    * cluster where agreement ≈ 1000 means one tier is redundant THERE.
    *
    * Plan: both verdict relations derive from the one cached
    * assignment ([[centAssigned]]); the join is vector-keyed and the
    * output is cluster-grain. */
  private def clusterPruneAgreement(s: SparkSession, dir: String): DataFrame = {
    val sem = semdedupPrune(s, dir)
      .select(col("vec_id"), col("cent_id"), col("keep").as("sem_keep"))
    val proto = prototypePrune(s, dir)
      .select(col("vec_id"), col("keep").as("proto_keep"))
    sem.join(proto, "vec_id")
      .groupBy(col("cent_id"))
      .agg(count(lit(1)).as("k_cluster"),
        sum(when(col("sem_keep") && col("proto_keep"), 1L).otherwise(0L))
          .as("n_both_keep"),
        sum(when(col("sem_keep") && !col("proto_keep"), 1L).otherwise(0L))
          .as("n_sem_only"),
        sum(when(!col("sem_keep") && col("proto_keep"), 1L).otherwise(0L))
          .as("n_proto_only"),
        sum(when(!col("sem_keep") && !col("proto_keep"), 1L).otherwise(0L))
          .as("n_neither"))
      .withColumn("agreement_milli",
        expr("(1000 * (n_both_keep + n_neither)) div k_cluster"))
      .orderBy("cent_id")
  }

  private val clusterPruneAgreementSql =
    s"""WITH ${SimilarityOps.ivfServeCtes},
       |$semPairsSqlCtes,
       |dup AS (SELECT x, y, xc, yc FROM prs WHERE cos >= $semTau),
       |agg AS (
       |  SELECT x AS vec_id,
       |    MIN(CASE WHEN yc < xc OR (yc = xc AND y < x) THEN y END)
       |      AS pruned_by
       |  FROM dup GROUP BY 1),
       |sem AS (
       |  SELECT m.vec_id, m.cent_id, a.pruned_by IS NULL AS sem_keep
       |  FROM m LEFT JOIN agg a USING (vec_id)),
       |pr AS (
       |  SELECT vec_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY cent_id
       |      ORDER BY ccos DESC, vec_id) AS BIGINT) * 1000
       |      > CAST(COUNT(*) OVER (PARTITION BY cent_id) AS BIGINT)
       |        * $protoPruneMille AS proto_keep
       |  FROM m)
       |SELECT s.cent_id, COUNT(*) AS k_cluster,
       |  CAST(SUM(CASE WHEN sem_keep AND proto_keep THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_both_keep,
       |  CAST(SUM(CASE WHEN sem_keep AND NOT proto_keep THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_sem_only,
       |  CAST(SUM(CASE WHEN NOT sem_keep AND proto_keep THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_proto_only,
       |  CAST(SUM(CASE WHEN NOT sem_keep AND NOT proto_keep THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_neither,
       |  (1000 * CAST(SUM(CASE WHEN sem_keep = proto_keep THEN 1 ELSE 0 END)
       |    AS BIGINT)) // COUNT(*) AS agreement_milli
       |FROM sem s JOIN pr USING (vec_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The τ grid of the sweep, in milli (brackets the deployed
    * [[semTau]] = 0.4). */
  val semTauGrid: Seq[Long] = Seq(300L, 400L, 500L)

  /** SemDeDup τ sweep — the calibration curve a deployment reads before
    * committing a duplicate threshold at scale (the
    * minhash_band_sweep / ivf_probe_sweep contract applied to the
    * semantic tier): per candidate τ, the corpus-wide duplicate-pair
    * count, pruned-vector count and exact-milli prune rate under the
    * SAME keep-furthest dominance rule as [[semdedupPrune]]. The τ
    * where the prune rate jumps is where the threshold stops removing
    * near-copies and starts removing topic neighbors.
    *
    * Plan: the capped pair relation ([[semPairs]]) is computed ONCE and
    * exploded ×|grid| (3 small rows per pair); per-(τ, vector) verdicts
    * are a hash aggregate, per-τ totals another; n_vectors broadcasts
    * as a one-row scalar. Nothing re-runs the pair join per τ. */
  private def semdedupEpsSweep(s: SparkSession, dir: String): DataFrame = {
    val nv = centAssigned(s, dir).agg(count(lit(1)).as("n_vectors"))
    val pt = semPairs(s, dir)
      .withColumn("tau_milli",
        explode(array(semTauGrid.map(lit): _*)))
      .filter(col("cos") >= col("tau_milli").cast("double") / 1000.0)
    val perVec = pt.groupBy(col("tau_milli"), col("x"))
      .agg(sum(when(col("x") < col("y"), 1L).otherwise(0L)).as("np"),
        max(when(col("yc") < col("xc") ||
          (col("yc") === col("xc") && col("y") < col("x")), 1L)
          .otherwise(0L)).as("pruned"))
    val perTau = perVec.groupBy(col("tau_milli"))
      .agg(sum(col("np")).as("np_t"), sum(col("pruned")).as("pr_t"))
    // every grid row appears even when no pair reaches its τ — a
    // calibration curve with silently-missing points misreads as data
    nv.select(explode(array(semTauGrid.map(lit): _*)).as("tau_milli"),
        col("n_vectors"))
      .join(perTau, Seq("tau_milli"), "left")
      .select(col("tau_milli"), col("n_vectors"),
        coalesce(col("np_t"), lit(0L)).as("n_dup_pairs"),
        coalesce(col("pr_t"), lit(0L)).as("n_pruned"))
      // n_vectors > 0 guard: the suite's every-division-guarded contract —
      // an empty embeddings table must yield NULL on both engines, not an
      // ANSI divide-by-zero on the Spark side only
      .withColumn("prune_milli",
        expr("CASE WHEN n_vectors > 0 THEN (1000 * n_pruned) div n_vectors END"))
      .orderBy("tau_milli")
  }

  private val semdedupEpsSweepSql =
    s"""WITH ${SimilarityOps.ivfServeCtes},
       |$semPairsSqlCtes,
       |nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors FROM m),
       |pt AS (
       |  SELECT tau_milli, x, y, xc, yc
       |  FROM prs, UNNEST([${semTauGrid.mkString(", ")}]) t(tau_milli)
       |  WHERE cos >= CAST(tau_milli AS DOUBLE) / 1000),
       |pv AS (
       |  SELECT tau_milli, x,
       |    CAST(SUM(CASE WHEN x < y THEN 1 ELSE 0 END) AS BIGINT) AS np,
       |    MAX(CASE WHEN yc < xc OR (yc = xc AND y < x)
       |        THEN 1 ELSE 0 END) AS pruned
       |  FROM pt GROUP BY 1, 2),
       |pa AS (
       |  SELECT tau_milli, CAST(SUM(np) AS BIGINT) AS np_t,
       |    CAST(SUM(pruned) AS BIGINT) AS pr_t
       |  FROM pv GROUP BY 1),
       |grid AS (
       |  SELECT CAST(tau_milli AS BIGINT) AS tau_milli, nv.n_vectors
       |  FROM nv, UNNEST([${semTauGrid.mkString(", ")}]) t(tau_milli))
       |SELECT g.tau_milli, g.n_vectors,
       |  COALESCE(pa.np_t, 0) AS n_dup_pairs,
       |  COALESCE(pa.pr_t, 0) AS n_pruned,
       |  CASE WHEN g.n_vectors > 0
       |    THEN (1000 * COALESCE(pa.pr_t, 0)) // g.n_vectors END AS prune_milli
       |FROM grid g LEFT JOIN pa USING (tau_milli)
       |ORDER BY g.tau_milli""".stripMargin

  /** Engine-portable md5 decile of a vec_id — the increment selector of
    * the maintenance family (LmOps/DedupOps convention; a plain modulus
    * would alias with the testdata's id-derived columns). */
  private def vecDec(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10)
      .cast("long") % 10
  private def vecDecSql(e: String): String =
    s"CAST('0x' || substr(md5(CAST($e AS VARCHAR)), 1, 8) AS BIGINT) % 10"

  /** SemDeDup under an increment — the maintenance path of the semantic
    * tier (the ivf_list_drift / cc_incremental / kn_model_drift contract
    * applied to [[semdedupPrune]]): arriving vectors (the family's
    * md5-decile-9 slice) are assigned to the DEPLOYED coarse quantizer's
    * clusters and dup-checked against the BASE members of their cluster
    * only — increment × cluster-sized work, never base × base. An
    * arriving duplicate of existing content is pruned and existing
    * content wins (the dedup_incremental replay convention — dominance
    * ranking only applies inside a batch; against an installed corpus
    * the installed copy is the representative). Per arrival: base-dup
    * count, the nearest base duplicate (max cosine, min-id tiebreak) and
    * the keep verdict.
    *
    * Cluster-cap semantics are inherited from the deployed tier (the
    * full-corpus cap semi-join, drop-logged): an arrival landing in a
    * dropped cluster reports 0 dups — the same backstop
    * [[semdedupPrune]] documents. Cosines are exact int64 dots over
    * identical IEEE doubles on both engines; `best_cos` rides the same
    * contract as the prune's ccos output. */
  private def semdedupIncrement(s: SparkSession, dir: String): DataFrame = {
    val m = centAssigned(s, dir)
    val csz = m.groupBy(col("cent_id")).agg(count(lit(1)).as("k"))
    val ok = withDropMetric(s, csz, "graft_drop_sem_cluster_inc",
        sum(when(col("k") > maxSemCluster(s), 1L).otherwise(0L)))
      .filter(col("k") <= maxSemCluster(s))
      .select(col("cent_id"))
    val mok = m.join(ok, Seq("cent_id"), "left_semi")
    val a = mok.filter(vecDec(col("vec_id")) === 9)
      .select(col("cent_id"), col("vec_id").as("x"),
        col("q").as("qx"), col("nrm").as("nx"))
    val b = mok.filter(vecDec(col("vec_id")) =!= 9)
      .select(col("cent_id"), col("vec_id").as("y"),
        col("q").as("qy"), col("nrm").as("ny"))
    val dup = a.join(b, Seq("cent_id"))
      .withColumn("cos", dotQ(col("qx"), col("qy")).cast("double") /
        sqrt((col("nx") * col("ny")).cast("double")))
      .filter(col("cos") >= semTau)
    // one aggregate: max over (cos, -y) is lexicographic, so ties on the
    // cosine resolve to the LOWEST base id — the oracle replays this as
    // a max-cos + min-id two-step
    val agg = dup.groupBy(col("x").as("vec_id"))
      .agg(count(lit(1)).as("n_base_dups"),
        max(struct(col("cos").as("c"), (-col("y")).as("ny"))).as("mx"))
      .select(col("vec_id"), col("n_base_dups"),
        col("mx.c").as("best_cos"), (-col("mx.ny")).as("nearest_dup"))
    m.filter(vecDec(col("vec_id")) === 9)
      .join(agg, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id"), col("ccos"),
        coalesce(col("n_base_dups"), lit(0L)).as("n_base_dups"),
        col("best_cos"), col("nearest_dup"),
        col("n_base_dups").isNull.as("keep"))
      .orderBy("vec_id")
  }

  private def semdedupIncrementSql =
    s"""WITH ${SimilarityOps.ivfServeCtes},
       |$semPairsSqlCtes,
       |dinc AS (
       |  SELECT x, y, cos FROM prs
       |  WHERE ${vecDecSql("x")} = 9 AND ${vecDecSql("y")} <> 9
       |    AND cos >= $semTau),
       |ag AS (
       |  SELECT x, COUNT(*) AS n_base_dups, MAX(cos) AS best_cos
       |  FROM dinc GROUP BY x),
       |nd AS (
       |  SELECT d.x, MIN(d.y) AS nearest_dup
       |  FROM dinc d JOIN ag ON d.x = ag.x AND d.cos = ag.best_cos
       |  GROUP BY d.x)
       |SELECT m.vec_id, m.cent_id, m.ccos,
       |  COALESCE(ag.n_base_dups, 0) AS n_base_dups,
       |  ag.best_cos, nd.nearest_dup, ag.x IS NULL AS keep
       |FROM m LEFT JOIN ag ON m.vec_id = ag.x
       |LEFT JOIN nd ON m.vec_id = nd.x
       |WHERE ${vecDecSql("m.vec_id")} = 9
       |ORDER BY m.vec_id""".stripMargin

  /** Contrastive-training triple mining — the embedding-model training-
    * data op (DPR/SimCSE-style hard-negative mining: Karpukhin et al.
    * 2020 mine hard negatives from the same retrieval shortlist;
    * in-batch negatives are the easy baseline): for every corpus vector
    * that has BOTH, emit its best POSITIVE (highest-cosine τ-neighbor —
    * a semantic duplicate, the label-free positive SimCSE-style
    * pipelines use) and its best HARD NEGATIVE (highest-cosine
    * same-cluster vector BELOW τ — near in coarse geometry, not a
    * duplicate: exactly the "hard" band that makes contrastive losses
    * learn). Ties resolve max-cos then min-id (the semdedup_increment
    * convention). `margin_milli` = ⌊1000·(pos−neg)⌋ is structurally > 0
    * whenever floor doesn't collapse it (pos ≥ τ > neg), and its
    * distribution is the curriculum signal a training run reads.
    *
    * Scale shape: BOTH aggregates read the one capped within-cluster
    * pair relation ([[semPairs]] — shared with the prune, the sweep and
    * the agreement audit), so mining costs two hash aggregates and a
    * vector-keyed join on top of state the dedup pass already built.
    * Mining from the dedup tier's own candidates is the point: at
    * 100 TB nobody runs a second pair pass to build training triples. */
  private def contrastiveTriples(s: SparkSession, dir: String): DataFrame = {
    val prs = semPairs(s, dir)
    def bestOf(df: DataFrame) = df
      .groupBy(col("x").as("anchor"))
      .agg(max(struct(col("cos").as("c"), (-col("y")).as("ny"))).as("m"))
    val pos = bestOf(prs.filter(col("cos") >= semTau))
      .select(col("anchor"), (-col("m.ny")).as("pos_id"),
        col("m.c").as("pos_cos"))
    val neg = bestOf(prs.filter(col("cos") < semTau))
      .select(col("anchor"), (-col("m.ny")).as("neg_id"),
        col("m.c").as("neg_cos"))
    pos.join(neg, "anchor")
      .select(col("anchor"), col("pos_id"), col("pos_cos"),
        col("neg_id"), col("neg_cos"),
        floor(lit(1000.0) * (col("pos_cos") - col("neg_cos")))
          .cast("long").as("margin_milli"))
      .orderBy("anchor")
  }

  private def contrastiveTriplesSql =
    s"""WITH ${SimilarityOps.ivfServeCtes},
       |$semPairsSqlCtes,
       |posc AS (SELECT x AS anchor, MAX(cos) AS pos_cos
       |         FROM prs WHERE cos >= $semTau GROUP BY 1),
       |posi AS (
       |  SELECT p.x AS anchor, MIN(p.y) AS pos_id
       |  FROM prs p JOIN posc ON p.x = posc.anchor AND p.cos = posc.pos_cos
       |  WHERE p.cos >= $semTau GROUP BY 1),
       |negc AS (SELECT x AS anchor, MAX(cos) AS neg_cos
       |         FROM prs WHERE cos < $semTau GROUP BY 1),
       |negi AS (
       |  SELECT p.x AS anchor, MIN(p.y) AS neg_id
       |  FROM prs p JOIN negc ON p.x = negc.anchor AND p.cos = negc.neg_cos
       |  WHERE p.cos < $semTau GROUP BY 1)
       |SELECT pc.anchor, pi.pos_id, pc.pos_cos, ni.neg_id, nc.neg_cos,
       |  CAST(floor(1000 * (pc.pos_cos - nc.neg_cos)) AS BIGINT)
       |    AS margin_milli
       |FROM posc pc JOIN posi pi USING (anchor)
       |JOIN negc nc USING (anchor) JOIN negi ni USING (anchor)
       |ORDER BY pc.anchor""".stripMargin

  // ------------------------------------------------ submodular coverage

  /** Greedy coverage-selection rounds. */
  val covK = 8

  /** Doc → distinct word-trigram incidence (doc_id, g) — the coverage
    * universe. NULL doc_ids are excluded (a selection must name its
    * picks); duplicate doc_ids merge into one candidate (their gram
    * union), the same rule both engines apply by DISTINCT. */
  private def covDocGrams(s: SparkSession, dir: String): DataFrame =
    Util.cachedRelation(s, dir, "covDocGrams", "")(
      t(s, dir, "documents")
        .where(col("doc_id").isNotNull)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"),
          explode(CorpusOps.wordGrams(col("w"), 3)).as("g"))
        .distinct())

  /** The incidence relation with each gram's document-frequency weight
    * attached — cached as ONE relation so the ≤ 2·covK per-round actions
    * of the two selectors never re-derive the weight aggregate (the
    * 100× ScaleCheck finding: re-aggregating wts inside every round's
    * job dominated the round). */
  private def covDocGramW(s: SparkSession, dir: String): DataFrame =
    Util.cachedRelation(s, dir, "covDocGramW", "")({
      val dg = covDocGrams(s, dir)
      dg.join(dg.groupBy("g").agg(count(lit(1)).as("w")), "g")
    })

  /** Sort-free argmax of a per-doc gain relation: ONE row aggregate
    * min(struct(−gain, doc_id, …)) ≡ ORDER BY gain DESC, doc_id LIMIT 1
    * plus the candidate-pool count, in a single job. */
  private def covArgmax(gains: DataFrame): Array[org.apache.spark.sql.Row] =
    gains.agg(count(lit(1)).as("n_cand"),
      min(struct((-col("gain")).as("ng"), col("doc_id"), col("gain"),
        col("n_new"))).as("m"))
      .where(col("n_cand") > 0L)
      .select(col("m.doc_id"), col("m.gain"), col("m.n_new"), col("n_cand"))
      .collect()

  /** Submodular max-coverage data selection, greedy rounds — the
    * subset-selection operator of the curation tier (Nemhauser–Wolsey–
    * Fisher 1978: greedy is (1−1/e)-optimal for monotone submodular
    * objectives; Kirchhoff & Bilmes 2014 apply exactly this
    * feature-coverage objective to training-data selection). Round r
    * picks the document maximizing the marginal gain
    * Σ_{g ∈ grams(d) \ covered} df(g) — document-frequency-weighted
    * distinct-trigram coverage, so the objective is "cover the corpus's
    * doc-gram incidence mass" and the emitted `coverage_milli` is the
    * exact per-mille of that mass covered after each pick. Ties break on
    * doc_id; rounds stop early when every gram is covered (every
    * remaining marginal gain is 0 — emitted rows always have gain ≥ 1).
    *
    * The CELF columns (Leskovec et al. 2007 lazy greedy): submodularity
    * makes every candidate's marginal gain non-increasing across rounds,
    * so a doc's PREVIOUS-round gain upper-bounds its current one.
    * `bound_df` is the winner's stale gain (pinned `bound_ok`:
    * bound ≥ gain, the lazy-greedy correctness theorem; vacuous at round
    * 1), and `n_skippable` counts candidates whose stale gain is already
    * below the round's winning gain — every one of them a candidate a
    * lazy-greedy deployment provably never re-evaluates. At 100 TB this
    * column IS the case for CELF: it reports how much of each round's
    * candidate scan the bound would have saved.
    *
    * Scale shape: token-scale work is ONE cached incidence relation
    * ([[covDocGrams]]); each of the ≤ [[covK]] rounds is a broadcast-able
    * anti-join against the covered set (bounded by the selected docs'
    * gram union — doc-scale, not corpus-scale), a map-side-combining
    * per-doc sum, and a 1-row driver argmax (the bounded-scalar class the
    * trainers use), with generation-by-generation checkpoint release (the
    * per-doc gain relation is checkpointed per round — doc-scale — so the
    * CELF lookups read materialized state instead of re-running the
    * round). A 100 TB deployment selecting large k switches to
    * stochastic-greedy sampling (Mirzasoleiman et al. 2015) — same
    * per-round plan over a sampled candidate slice, which changes only
    * the candidate filter. */
  /** Per-round uncovered incidence: the covered-gram set is derived
    * INLINE from the ≤ [[covK]] selected doc ids (an isin filter over
    * the cached incidence + distinct — doc-scale), not maintained as a
    * per-round checkpointed union: the union checkpoint cost one job
    * per round for a relation the cached incidence can reproduce with
    * zero extra actions, and the anti-join result is row-identical
    * (covered(sel) = ∪_{d ∈ sel} grams(d) either way). Round 19, guide
    * §2.6: the coverage loops were job-count-bound, 4 jobs/round. */
  private def covUncovered(dgw: DataFrame, selected: Seq[Long]): DataFrame =
    if (selected.isEmpty) dgw
    else dgw.join(
      dgw.where(col("doc_id").isin(selected: _*)).select("g").distinct(),
      Seq("g"), "left_anti")

  private def coverageGreedyRounds(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    val dgw = covDocGramW(s, dir)
    val total = dgw.count()
    val rows =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long,
        Long, Long, Option[Long], Option[Long])]
    val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
    var prevGains: DataFrame = null
    var cum = 0L
    var round = 1
    var done = false
    while (round <= covK && !done) {
      val gains = covUncovered(dgw, selected.toSeq)
        .groupBy("doc_id")
        .agg(sum(col("w")).as("gain"), count(lit(1)).as("n_new"))
        .localCheckpoint()
      // ONE action per round serves the argmax AND both CELF lookups:
      // the winner aggregate rides a broadcast 1-row cross join into the
      // stale-gain scan of the PREVIOUS round's checkpointed gains, so
      // the winner's stale bound and the skippable count come out of the
      // same job (they were a second collect per round — guide §2.6,
      // fewer/bigger jobs; the aggregates are unchanged).
      val winnerAgg = gains.agg(count(lit(1)).as("n_cand"),
        min(struct((-col("gain")).as("ng"), col("doc_id"), col("gain"),
          col("n_new"))).as("m"))
      val r0 =
        if (prevGains == null)
          winnerAgg.select(col("n_cand"), col("m.doc_id"), col("m.gain"),
            col("m.n_new"), lit(null).cast("long").as("bound"),
            lit(null).cast("long").as("nskip"))
            .collect().head
        else
          prevGains.crossJoin(broadcast(winnerAgg))
            .agg(min(col("n_cand")).as("n_cand"), min(col("m")).as("m2"),
              max(when(col("doc_id") === col("m.doc_id"), col("gain")))
                .as("bound"),
              sum(when(col("gain") < col("m.gain"), 1L).otherwise(0L))
                .as("nskip"))
            .select(col("n_cand"), col("m2.doc_id"), col("m2.gain"),
              col("m2.n_new"), col("bound"), col("nskip"))
            .collect().head
      if (r0.getLong(0) == 0L) { Util.unpersistDeep(gains); done = true }
      else {
        val id = r0.getLong(1)
        val gain = r0.getLong(2)
        cum += gain
        val bound = if (r0.isNullAt(4)) None else Some(r0.getLong(4))
        val nSkip =
          if (prevGains == null) None
          else Some(if (r0.isNullAt(5)) 0L else r0.getLong(5))
        rows += ((round.toLong, id, gain, r0.getLong(3), cum,
          1000L * cum / total, bound, nSkip))
        selected += id
        if (prevGains != null) Util.unpersistDeep(prevGains)
        prevGains = gains
        round += 1
      }
    }
    if (prevGains != null) Util.unpersistDeep(prevGains)
    rows.toSeq
      .toDF("round", "doc_id", "gain_df", "n_new_grams", "cum_df",
        "coverage_milli", "bound_df", "n_skippable")
      .withColumn("bound_ok",
        coalesce(col("bound_df") >= col("gain_df"), lit(true)))
      .orderBy("round")
  }

  /** Stochastic-greedy candidate slice, per-mille of docs eligible per
    * round (re-sampled every round — the Mirzasoleiman et al. 2015
    * construction). */
  val covSampleMilli = 500L

  /** Stochastic-greedy coverage selection — the 100 TB DEPLOYMENT shape
    * of [[coverageGreedyRounds]] measured against it (Mirzasoleiman et
    * al. 2015, "Lazier Than Lazy Greedy": per round, argmax over a
    * RE-SAMPLED candidate slice instead of all docs — (1−1/e−ε) expected
    * approximation at an |candidates| ∝ (n/k)·ln(1/ε) sample, here a
    * deterministic md5-coin [[covSampleMilli]]‰ slice keyed (round,
    * doc_id) so both engines draw the identical "random" slice). A round
    * whose slice holds no doc with uncovered mass emits nothing and the
    * selection CONTINUES (the resample is the retry) — unlike the full
    * greedy, where empty means done; `n_candidates` per emitted row is
    * the positive-gain pool the argmax actually saw, the quantity that
    * shrinks as coverage saturates. Comparing this query's final
    * coverage_milli against the full greedy's IS the audit: the gap is
    * what the sampled deployment trades for never scanning all
    * candidates in a round.
    *
    * Scale shape: identical to the full greedy (same cached incidence
    * relation, same per-round anti-join + map-side sum + 1-row argmax)
    * with the candidate coin applied before the per-doc aggregate — at a
    * production n/k sampling rate the per-round aggregate reads only the
    * sampled slice, which is the whole point. */
  private def coverageStochasticRounds(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    val dgw = covDocGramW(s, dir)
    val total = dgw.count()
    val rows =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long,
        Long, Long, Long)]
    val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
    var cum = 0L
    for (round <- 1 to covK) {
      val coin = conv(substring(md5(concat(lit(s"$round:"),
        col("doc_id").cast("string"))), 1, 6), 16, 10).cast("long") %
        lit(1000L)
      // covered grams derived inline from the selected ids (see
      // covUncovered) — the sampled slice filters BEFORE the anti-join
      // exactly as before, so the candidate pool is unchanged
      val top = covArgmax(covUncovered(dgw, selected.toSeq)
        .where(coin < covSampleMilli)
        .groupBy("doc_id")
        .agg(sum(col("w")).as("gain"), count(lit(1)).as("n_new")))
      if (top.nonEmpty) {
        val r0 = top(0)
        val id = r0.getLong(0)
        cum += r0.getLong(1)
        rows += ((round.toLong, id, r0.getLong(1), r0.getLong(2), cum,
          1000L * cum / total, r0.getLong(3)))
        selected += id
      }
    }
    rows.toSeq
      .toDF("round", "doc_id", "gain_df", "n_new_grams", "cum_df",
        "coverage_milli", "n_candidates")
      .orderBy("round")
  }

  private def coverageStochasticRoundsSql: String = {
    def coinSql(k: Int) =
      s"CAST('0x' || substr(md5('$k:' || CAST(doc_id AS VARCHAR)), 1, 6) " +
        s"AS BIGINT) % 1000 < $covSampleMilli"
    val rounds = (1 to covK).map { k =>
      s"""g$k AS MATERIALIZED (
         |  SELECT doc_id, CAST(SUM(w) AS BIGINT) AS gain,
         |    CAST(COUNT(*) AS BIGINT) AS n_new
         |  FROM dg JOIN wts USING (g)
         |  WHERE ${coinSql(k)} AND g NOT IN (SELECT g FROM c${k - 1})
         |  GROUP BY 1),
         |s$k AS MATERIALIZED (
         |  SELECT doc_id, gain, n_new,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM g$k) AS n_candidates
         |  FROM g$k ORDER BY gain DESC, doc_id LIMIT 1),
         |c$k AS MATERIALIZED (
         |  SELECT g FROM c${k - 1}
         |  UNION SELECT dg.g FROM dg JOIN s$k USING (doc_id))""".stripMargin
    }.mkString(",\n")
    val arms = (1 to covK).map(k =>
      s"SELECT $k AS round, doc_id, gain, n_new, n_candidates FROM s$k")
      .mkString("\n  UNION ALL ")
    s"""WITH dgo AS (
       |  SELECT doc_id, s AS g
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |        WHERE doc_id IS NOT NULL) d,
       |  UNNEST(list_transform(range(greatest(len(w) - 2, 0)),
       |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) t(s)),
       |dg AS MATERIALIZED (SELECT DISTINCT doc_id, g FROM dgo),
       |wts AS MATERIALIZED (SELECT g, COUNT(*) AS w FROM dg GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM dg),
       |c0 AS (SELECT CAST(NULL AS VARCHAR) AS g WHERE 1 = 0),
       |$rounds,
       |u AS (
       |  $arms)
       |SELECT CAST(round AS BIGINT) AS round, doc_id, gain AS gain_df,
       |  n_new AS n_new_grams,
       |  CAST(SUM(gain) OVER (ORDER BY round) AS BIGINT) AS cum_df,
       |  CAST((1000 * SUM(gain) OVER (ORDER BY round)) // total AS BIGINT)
       |    AS coverage_milli,
       |  n_candidates
       |FROM u, tot ORDER BY round""".stripMargin
  }

  /** Unrolled s1/c1 → s8/c8 greedy chain (the wpCtes pattern): per round
    * a NOT-IN anti-join gain aggregate, a Top-1 argmax, and the covered
    * set extended by the winner's grams — THE single copy of the
    * oracle's greedy math. */
  private def coverageGreedyRoundsSql: String = {
    val rounds = (1 to covK).map { k =>
      s"""g$k AS MATERIALIZED (
         |  SELECT doc_id, CAST(SUM(w) AS BIGINT) AS gain,
         |    CAST(COUNT(*) AS BIGINT) AS n_new
         |  FROM dg JOIN wts USING (g)
         |  WHERE g NOT IN (SELECT g FROM c${k - 1})
         |  GROUP BY 1),
         |s$k AS MATERIALIZED (
         |  SELECT doc_id, gain, n_new
         |  FROM g$k ORDER BY gain DESC, doc_id LIMIT 1),
         |c$k AS MATERIALIZED (
         |  SELECT g FROM c${k - 1}
         |  UNION SELECT dg.g FROM dg JOIN s$k USING (doc_id))""".stripMargin
    }.mkString(",\n")
    // CELF columns per arm: the winner's stale gain in the previous
    // round's FULL gain relation (NULL at round 1) and how many
    // candidates that stale bound already rules out
    val arms = (1 to covK).map { k =>
      val (bound, skip) = if (k == 1)
        ("CAST(NULL AS BIGINT)", "CAST(NULL AS BIGINT)")
      else (
        s"(SELECT p.gain FROM g${k - 1} p WHERE p.doc_id = s.doc_id)",
        s"""(SELECT CAST(COUNT(*) AS BIGINT) FROM g${k - 1} p
           |     WHERE p.gain < s.gain)""".stripMargin)
      s"""SELECT $k AS round, s.doc_id, s.gain, s.n_new,
         |  $bound AS bound_df,
         |  $skip AS n_skippable
         |FROM s$k s""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH dgo AS (
       |  SELECT doc_id, s AS g
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |        WHERE doc_id IS NOT NULL) d,
       |  UNNEST(list_transform(range(greatest(len(w) - 2, 0)),
       |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) t(s)),
       |dg AS MATERIALIZED (SELECT DISTINCT doc_id, g FROM dgo),
       |wts AS MATERIALIZED (SELECT g, COUNT(*) AS w FROM dg GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM dg),
       |c0 AS (SELECT CAST(NULL AS VARCHAR) AS g WHERE 1 = 0),
       |$rounds,
       |u AS (
       |  $arms)
       |SELECT CAST(round AS BIGINT) AS round, doc_id, gain AS gain_df,
       |  n_new AS n_new_grams,
       |  CAST(SUM(gain) OVER (ORDER BY round) AS BIGINT) AS cum_df,
       |  CAST((1000 * SUM(gain) OVER (ORDER BY round)) // total AS BIGINT)
       |    AS coverage_milli,
       |  bound_df, n_skippable,
       |  COALESCE(bound_df >= gain, TRUE) AS bound_ok
       |FROM u, tot ORDER BY round""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("contrastive_triples", contrastiveTriples,
      Some(contrastiveTriplesSql)),
    Q("coverage_greedy_rounds", coverageGreedyRounds,
      Some(coverageGreedyRoundsSql)),
    Q("coverage_stochastic_rounds", coverageStochasticRounds,
      Some(coverageStochasticRoundsSql)),
    Q("global_shuffle_shards", globalShuffleShards,
      Some(globalShuffleShardsSql)),
    Q("dsir_hashed_ngram_weights", dsirHashedNgramWeights,
      Some(dsirHashedNgramWeightsSql)),
    Q("semdedup_prune", semdedupPrune, Some(semdedupPruneSql)),
    Q("prototype_prune", prototypePrune, Some(prototypePruneSql)),
    Q("cluster_prune_agreement", clusterPruneAgreement,
      Some(clusterPruneAgreementSql)),
    Q("semdedup_eps_sweep", semdedupEpsSweep, Some(semdedupEpsSweepSql)),
    Q("curated_shard_manifest", curatedShardManifest,
      Some(curatedShardManifestSql)),
    Q("export_manifest_drift", exportManifestDrift,
      Some(exportManifestDriftSql)),
    Q("semdedup_increment", semdedupIncrement,
      Some(semdedupIncrementSql)))
}
