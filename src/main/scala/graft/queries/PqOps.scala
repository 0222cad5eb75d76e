package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Util._

/** Product quantization (PQ) over the `embeddings` table — the
  * memory-bound ANN scale path (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", public TPAMI 2011) next to the IVF and LSH
  * families: the 64-dim vector splits into [[pqM]] contiguous subvectors,
  * each subvector quantizes to its nearest code in a per-subspace
  * codebook, and a vector is thereafter represented by [[pqM]] small code
  * ids. At 100 TB that is the difference between holding 256-byte float
  * vectors and 4-byte code tuples in executor memory — the corpus-side
  * working set shrinks 64×, and query scoring becomes [[pqM]] table
  * lookups per candidate (ADC — asymmetric distance computation) instead
  * of a 64-dim dot product.
  *
  * Codebook rule: the subvectors of the first [[pqK]] vectors by id — the
  * deterministic stand-in the IVF family established for its coarse
  * quantizer (`SimilarityOps.scala` ivfCentroids); a real deployment
  * k-means each subspace (`kmeans_step` is the audited iteration of
  * exactly that loop, running per subspace instead of per full vector).
  *
  * Determinism: everything is exact int64 on the shared quantized base —
  * sub-distances expand as ss − 2·‹sub,c› + cc with [[graft.functions
  * .QuantizedDot]] sums, so assignment argmins, ADC sums and rank cuts
  * are integer comparisons with id tiebreaks; no float enters any
  * ordering. Ragged/short vectors (fuzz corpora) slice to short or empty
  * subvectors; the dot of an empty/mismatched pair is the common-prefix
  * sum (0 when empty) on BOTH engines — the oracle mirrors QuantizedDot
  * with COALESCE(list_sum(...), 0).
  *
  * Scale shape: encoding is one corpus scan exploded ×[[pqM]] against a
  * BROADCAST [[pqM]]·[[pqK]]-row codebook with a per-(vector, subspace)
  * argmin window — the IVF assignment plan, pqM-wide; the encoded
  * relation (vec_id, m, code, dist) is session-cached and shared by all
  * three queries. ADC joins the (queries × pqM·pqK)-row distance table —
  * broadcast — to the encoded corpus on (m, code) and sums pqM lookups
  * per (query, vector) in one map-side-combining aggregate: candidate
  * cost is O(corpus · pqM) integer adds, never a dim-wide dot.
  */
object PqOps {

  /** Subspace count (64 dims / 16 per subspace). */
  val pqM = 4

  /** Dims per subvector. */
  val pqSubDim = 16

  /** Codes per subspace codebook (subvectors of vec_id < pqK). */
  val pqK = 8

  private def dotQ(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.quantized_dot(a, b)

  /** (keys..., m, sub, ss): every vector of `df` cut into [[pqM]] quantized
    * subvectors with their exact int64 self-dots, carrying `keys` through.
    * Row-local (explode × slice × dot) — no shuffle. */
  private[queries] def subvectorsBy(df: DataFrame, keys: Seq[String]): DataFrame =
    df.select(keys.map(col) :+
        explode(array((0 until pqM).map(lit(_)): _*)).as("m") :+ col("q"): _*)
      .withColumn("sub",
        slice(col("q"), col("m") * pqSubDim + 1, lit(pqSubDim)))
      .withColumn("ss", dotQ(col("sub"), col("sub")))
      .drop("q")

  /** [[subvectorsBy]] keyed by the corpus id. */
  private[queries] def subvectors(e: DataFrame): DataFrame =
    subvectorsBy(e, Seq("vec_id"))

  /** Per-subspace codebook: (m, code, csub, cc) — pqM·pqK rows, the
    * broadcast side of both the encode and the ADC table build. */
  private def codebook(e: DataFrame): DataFrame =
    subvectors(e.filter(col("vec_id") < pqK))
      .select(col("m"), col("vec_id").as("code"),
        col("sub").as("csub"), col("ss").as("cc"))

  /** The codebook collapsed to ONE broadcastable row (cb: array of
    * (m, code, csub, cc) structs, sorted by (m, code) so any fold over it
    * is order-deterministic) — the bloom-gate / ivfQuantizerRow collapse
    * pattern, for the streaming encode twin
    * ([[graft.streaming.StreamingPipeline]] `pqEncodeStream`). */
  def pqCodebookRow(corpus: DataFrame): DataFrame =
    subvectors(SimilarityOps.quantize(corpus).filter(col("vec_id") < pqK))
      .select(struct(col("m"), col("vec_id").as("code"),
        col("sub").as("csub"), col("ss").as("cc")).as("c"))
      .agg(sort_array(collect_list(col("c"))).as("cb"))

  /** Encoded corpus (vec_id, m, code, dist): each subvector's argmin code
    * (dist asc, code asc — integer comparisons) and its exact int64
    * quantization distance. Session-cached: the stats report, the ADC
    * search and the recall audit all ride ONE encode pass, the
    * quantizedBase discipline. `private[graft]`: the streaming twin's
    * parity spec reads this relation directly. */
  private[graft] def pqEncoded(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Util.cachedRelation(s, dir, "pqEncoded", s"m=$pqM,k=$pqK") {
      val e = SimilarityOps.quantizedBase(s, dir)
      val scored = subvectors(e).join(broadcast(codebook(e)), Seq("m"))
        .withColumn("dist",
          col("ss") - lit(2L) * dotQ(col("sub"), col("csub")) + col("cc"))
      val w = Window.partitionBy(col("vec_id"), col("m"))
        .orderBy(col("dist").asc, col("code"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), col("m"), col("code"), col("dist"))
    }
  }

  /** The shared e → svn → cb → enc WITH-chain of the PQ oracle family —
    * ONE copy of the slicing / codebook / argmin-encode math (the
    * ivfSqlCtes discipline). `COALESCE(list_sum(...), 0)` mirrors
    * QuantizedDot exactly: empty/mismatched slices dot to 0, never NULL,
    * and a shorter side contributes only the common prefix (a NULL
    * element product is skipped by list_sum on the DuckDB side and by the
    * null-element guard in the expression). */
  /** The chain AFTER the shared `e` CTE — separated so the IVFADC
    * composition can splice it behind the IVF serve chain (which defines
    * the identical `e` itself). */
  private val pqSqlCtesAfterE =
    s"""svn AS (
       |  SELECT vec_id, CAST(m AS INT) AS m,
       |    q[m*$pqSubDim+1 : m*$pqSubDim+$pqSubDim] AS sub,
       |    COALESCE(CAST(list_sum(list_transform(
       |      q[m*$pqSubDim+1 : m*$pqSubDim+$pqSubDim], x -> x*x)) AS BIGINT), 0) AS ss
       |  FROM e, UNNEST(range($pqM)) t(m)),
       |cb AS (
       |  SELECT m, vec_id AS code, sub AS csub, ss AS cc
       |  FROM svn WHERE vec_id < $pqK),
       |pq_scored AS (
       |  SELECT s.vec_id, s.m, c.code,
       |    s.ss - 2*COALESCE(CAST(list_sum(list_transform(range(len(s.sub)),
       |      i -> s.sub[i+1]*c.csub[i+1])) AS BIGINT), 0) + c.cc AS dist
       |  FROM svn s JOIN cb c USING (m)),
       |enc AS (
       |  SELECT vec_id, m, code, dist FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY dist ASC, code) AS rn
       |    FROM pq_scored)
       |  WHERE rn = 1)""".stripMargin

  private val pqSqlCtes =
    s"""e AS (
       |  SELECT * FROM (
       |    SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm
       |    FROM (SELECT vec_id, ${SimilarityOps.qvecSql} AS q FROM embeddings))
       |  WHERE nrm > 0),
       |$pqSqlCtesAfterE""".stripMargin

  /** Codebook-quality report: per (subspace, code) the assignment count,
    * its share of the subspace in exact milli, and the total int64
    * quantization distortion — the artifact that decides whether the
    * codebook needs retraining (a code with near-zero share is dead; a
    * code carrying most of a subspace's distortion is where the next
    * k-means split goes). Output is ≤ pqM·pqK rows at any corpus size:
    * one map-side-combining aggregate over the cached encode + one
    * window on the 32-row result. */
  private def pqEncodeStats(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    pqEncoded(s, dir)
      .groupBy(col("m"), col("code"))
      .agg(count(lit(1)).as("n_assigned"), sum(col("dist")).as("distortion"))
      .withColumn("share_milli",
        floor(lit(1000.0) * col("n_assigned") /
          sum(col("n_assigned")).over(Window.partitionBy(col("m"))))
          .cast("long"))
      .select(col("m"), col("code"), col("n_assigned"), col("distortion"),
        col("share_milli"))
      .orderBy("m", "code")
  }

  private val pqEncodeStatsSql =
    s"""WITH $pqSqlCtes
       |SELECT m, code, COUNT(*) AS n_assigned,
       |  CAST(SUM(dist) AS BIGINT) AS distortion,
       |  CAST(floor(1000.0 * COUNT(*) /
       |    SUM(COUNT(*)) OVER (PARTITION BY m)) AS BIGINT) AS share_milli
       |FROM enc GROUP BY m, code ORDER BY m, code""".stripMargin

  /** ADC top-5 per query (vec_id < 5, the suite's query-set rule):
    * each query builds a pqM·pqK-entry distance table (exact int64
    * sub-distances query-subvector → code), and every encoded corpus
    * vector scores as the SUM of pqM table lookups on its codes — the
    * classic IVFADC search half without the coarse filter (compose with
    * `ann_ivf_cosine`'s probe to get full IVFADC; this query isolates
    * the PQ approximation so `pq_recall_audit` can grade it alone).
    * Ranking is pure int64 (adc_dist asc, vec_id asc). */
  /** ADC distance table (query_id, m, code, pd): exact int64 sub-distance
    * from every query subvector to every code — queries × pqM·pqK rows,
    * the broadcast side of both the flat ADC search and the IVFADC
    * composition. */
  private def adcTable(s: SparkSession, dir: String): DataFrame = {
    val e = SimilarityOps.quantizedBase(s, dir)
    subvectors(e.filter(col("vec_id") < 5))
      .withColumnRenamed("vec_id", "query_id")
      .join(broadcast(codebook(e)), Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        (col("ss") - lit(2L) * dotQ(col("sub"), col("csub")) + col("cc"))
          .as("pd"))
  }

  private def pqAdcTopk(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tab = adcTable(s, dir)
    val cand = pqEncoded(s, dir)
      .join(broadcast(tab),
        Seq("m", "code")) // (m, code) lookup — the ADC table probe
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pd")).as("adc_dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("vec_id"))
    cand.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"),
        col("adc_dist"))
      .orderBy("query_id", "rk")
  }

  private val pqAdcTopkBody =
    s"""tab AS (
       |  SELECT q.vec_id AS query_id, q.m, c.code,
       |    q.ss - 2*COALESCE(CAST(list_sum(list_transform(range(len(q.sub)),
       |      i -> q.sub[i+1]*c.csub[i+1])) AS BIGINT), 0) + c.cc AS pd
       |  FROM svn q JOIN cb c USING (m) WHERE q.vec_id < 5),
       |adc AS (
       |  SELECT t.query_id, en.vec_id, CAST(SUM(t.pd) AS BIGINT) AS adc_dist
       |  FROM enc en JOIN tab t ON en.m = t.m AND en.code = t.code
       |    AND en.vec_id <> t.query_id
       |  GROUP BY 1, 2),
       |adc_ranked AS (
       |  SELECT query_id, rk, vec_id AS neighbor_id, adc_dist FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist ASC, vec_id) AS rk
       |    FROM adc)
       |  WHERE rk <= 5)""".stripMargin

  private val pqAdcTopkSql =
    s"""WITH $pqSqlCtes,
       |$pqAdcTopkBody
       |SELECT query_id, rk, neighbor_id, adc_dist
       |FROM adc_ranked ORDER BY query_id, rk""".stripMargin

  /** Measured recall@5 of the ADC path against exact L2 ground truth —
    * the accept/reject evidence for the 64× compression (the
    * `ann_recall_audit` / `lsh_recall_audit` contract applied to PQ):
    * per query, |exact L2 top-5 ∩ ADC top-5| as n_hits and exact milli
    * recall. Exact side is the full-vector int64 L2 (nrm − 2·dot + qn)
    * over the shared quantized base; reconciliation is a 25-row join
    * regardless of corpus size. */
  private def pqRecallAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = SimilarityOps.quantizedBase(s, dir)
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("nrm").as("qn"))
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("l2").asc, col("vec_id"))
    val exact = e.join(broadcast(qs), col("vec_id") =!= col("query_id"))
      .withColumn("l2",
        col("qn") - lit(2L) * dotQ(col("qq"), col("q")) + col("nrm"))
      .withColumn("rk", row_number().over(wE)).filter(col("rk") <= 5)
      .select(col("query_id"), col("vec_id"))
    val adc = pqAdcTopk(s, dir)
      .select(col("query_id").as("a_qid"), col("neighbor_id").as("a_nid"))
    exact.join(adc,
        col("query_id") === col("a_qid") && col("vec_id") === col("a_nid"),
        "left")
      .groupBy(col("query_id"))
      .agg(count(col("a_nid")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        (col("n_hits") * 200).as("recall_milli"))
      .orderBy("query_id")
  }

  private val pqRecallAuditSql =
    s"""WITH $pqSqlCtes,
       |$pqAdcTopkBody,
       |exact AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT a.vec_id AS query_id, b.vec_id,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        a.nrm - 2*COALESCE(CAST(list_sum(list_transform(range(len(a.q)),
       |          i -> a.q[i+1]*b.q[i+1])) AS BIGINT), 0) + b.nrm ASC,
       |        b.vec_id) AS rk
       |    FROM e a JOIN e b ON a.vec_id < 5 AND b.vec_id <> a.vec_id)
       |  WHERE rk <= 5)
       |SELECT x.query_id,
       |  CAST(COUNT(r.neighbor_id) AS BIGINT) AS n_hits,
       |  CAST(COUNT(r.neighbor_id) * 200 AS BIGINT) AS recall_milli
       |FROM exact x LEFT JOIN adc_ranked r
       |  ON r.query_id = x.query_id AND r.neighbor_id = x.vec_id
       |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin

  /** IVFADC — the full FAISS-style serve pipeline (coarse IVF filter +
    * PQ-compressed ranking, Jégou et al. 2011 §V): queries probe their
    * [[SimilarityOps.ivfProbes]] nearest inverted lists exactly as
    * `ann_ivf_cosine` does, but the candidates are then ranked by ADC
    * table lookups over their 4 stored codes instead of a full-vector
    * dot — the shape that serves 100 TB from memory: the coarse filter
    * bounds candidates at corpus·nprobe/K, and ranking touches only the
    * 4-code representation (the raw vectors never load at query time).
    * Top-5 per query by (adc_dist asc, vec_id asc).
    *
    * Both halves are the SHARED relations: the IVF assignment/probe math
    * is [[SimilarityOps.ivfServeAssigned]]/[[SimilarityOps.ivfServeProbes]]
    * (one copy with `ann_ivf_cosine` and `ivf_probe_sweep`), the codes are
    * the session-cached [[pqEncoded]], the table is [[adcTable]] — so in a
    * serving session this query costs one candidate join + one 4-row-deep
    * lookup aggregate on top of already-materialized state. */
  private def annIvfadcTopk(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = SimilarityOps.ivfServeProbes(s, dir, SimilarityOps.ivfProbes)
      .select(col("query_id"), col("cent_id"))
      .join(SimilarityOps.ivfServeAssigned(s, dir)
        .select(col("vec_id"), col("cent_id")), "cent_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    val adc = cand.join(pqEncoded(s, dir), "vec_id")
      .join(broadcast(adcTable(s, dir)), Seq("query_id", "m", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pd")).as("adc_dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("vec_id"))
    adc.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"),
        col("adc_dist"))
      .orderBy("query_id", "rk")
  }

  private val annIvfadcTopkSql =
    s"""WITH ${SimilarityOps.ivfServeCtes},
       |$pqSqlCtesAfterE,
       |qs AS (SELECT vec_id AS query_id, q AS qq, nrm AS qn FROM e WHERE vec_id < 5),
       |pr AS (
       |  SELECT query_id, cent_id FROM (
       |    SELECT qu.query_id, c.cent_id,
       |      row_number() OVER (PARTITION BY qu.query_id ORDER BY
       |        CAST(CAST(list_sum(list_transform(range(len(qu.qq)), i -> qu.qq[i+1]*c.cq[i+1])) AS BIGINT) AS DOUBLE)
       |          / sqrt(CAST(qu.qn*c.cn AS DOUBLE)) DESC, c.cent_id) AS prn
       |    FROM qs qu CROSS JOIN cents c)
       |  WHERE prn <= ${SimilarityOps.ivfProbes}),
       |ivf_cand AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM pr p JOIN assigned a USING (cent_id)
       |  WHERE a.vec_id <> p.query_id),
       |tab AS (
       |  SELECT q.vec_id AS query_id, q.m, c.code,
       |    q.ss - 2*COALESCE(CAST(list_sum(list_transform(range(len(q.sub)),
       |      i -> q.sub[i+1]*c.csub[i+1])) AS BIGINT), 0) + c.cc AS pd
       |  FROM svn q JOIN cb c USING (m) WHERE q.vec_id < 5),
       |adc AS (
       |  SELECT ic.query_id, ic.vec_id, CAST(SUM(t.pd) AS BIGINT) AS adc_dist
       |  FROM ivf_cand ic JOIN enc en ON en.vec_id = ic.vec_id
       |  JOIN tab t ON t.query_id = ic.query_id
       |    AND t.m = en.m AND t.code = en.code
       |  GROUP BY 1, 2)
       |SELECT query_id, rk, vec_id AS neighbor_id, adc_dist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc_dist ASC, vec_id) AS rk
       |  FROM adc)
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** Residual-encoding gain — the design decision real IVFADC makes
    * (Jégou et al. 2011 §V.B: encode r = q − centroid instead of q;
    * residuals are smaller and more isotropic, so the same code budget
    * buys less distortion): per subspace, the total int64 distortion of
    * plain PQ vs residual PQ and the exact-milli gain. A deployment
    * reads gain_milli per subspace and decides whether the extra
    * centroid subtraction at encode/decode time pays.
    *
    * Residual codebook rule: residuals of the first [[pqK]] NON-centroid
    * ids (pqK ≤ vec_id < 2·pqK) — the centroid donors' own residuals are
    * ~zero and would make a degenerate codebook. Residual components
    * subtract via index-transform with try_element_at / q[i+1] NULL
    * semantics, so ragged fuzz vectors behave identically in both
    * engines (NULL elements drop from every dot — the QuantizedDot
    * contract).
    *
    * Scale shape: one extra encode pass over the residual projection
    * (same broadcast-codebook argmin plan as [[pqEncoded]], on the
    * already-assigned relation), two 4-row aggregates, one 4-row join.
    * A plain distortion of 0 (every vector IS a code) reports NULL gain
    * rather than dividing by zero. */
  /** Residual projection (vec_id, cent_id, q): q − assigned coarse
    * centroid, element-wise with try_element_at NULL semantics (a ragged
    * centroid side NULLs the element, which every downstream dot then
    * skips — the QuantizedDot contract, mirrored by the oracle's
    * cq[i+1]). Shared by the gain audit, the residual codebook, and the
    * residual serve path. */
  private def residualVecs(s: SparkSession, dir: String): DataFrame =
    SimilarityOps.ivfServeAssigned(s, dir)
      .join(broadcast(SimilarityOps.ivfServeCents(s, dir)), "cent_id")
      .select(col("vec_id"), col("cent_id"),
        expr("transform(q, (x, i) -> x - try_element_at(cq, i + 1))").as("q"))

  /** Residual codebook (m, code, csub, cc): subvectors of the first
    * [[pqK]] NON-centroid ids' residuals (pqK ≤ vec_id < 2·pqK — the
    * centroid donors' own residuals are ~zero and would degenerate it),
    * the `pq_residual_gain` rule promoted to THE serve codebook. */
  private[queries] def residualCodebook(s: SparkSession, dir: String): DataFrame =
    subvectors(residualVecs(s, dir))
      .filter(col("vec_id") >= pqK && col("vec_id") < 2 * pqK)
      .select(col("m"), col("vec_id").as("code"),
        col("sub").as("csub"), col("ss").as("cc"))

  /** Residual-encoded corpus (vec_id, cent_id, m, code, dist): each
    * vector's residual subvectors argmin-coded against the residual
    * codebook, carrying the coarse assignment — the corpus artifact real
    * IVFADC stores (Jégou §V.B). Session-cached: the gain audit and the
    * residual serve ride ONE encode pass (the pqEncoded discipline). */
  private[graft] def residualEncoded(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Util.cachedRelation(s, dir, "pqResidualEncoded", s"m=$pqM,k=$pqK") {
      val rScored = subvectors(residualVecs(s, dir))
        .join(broadcast(residualCodebook(s, dir)), Seq("m"))
        .withColumn("dist",
          col("ss") - lit(2L) * dotQ(col("sub"), col("csub")) + col("cc"))
      val wR = Window.partitionBy(col("vec_id"), col("m"))
        .orderBy(col("dist").asc, col("code"))
      rScored.withColumn("rn", row_number().over(wR)).filter(col("rn") === 1)
        .join(SimilarityOps.ivfServeAssigned(s, dir)
          .select(col("vec_id"), col("cent_id")), "vec_id")
        .select(col("vec_id"), col("cent_id"), col("m"), col("code"),
          col("dist"))
    }
  }

  private def pqResidualGain(s: SparkSession, dir: String): DataFrame = {
    val plain = pqEncoded(s, dir).groupBy(col("m"))
      .agg(sum(col("dist")).as("distortion_plain"))
    val resid = residualEncoded(s, dir)
      .groupBy(col("m")).agg(sum(col("dist")).as("distortion_residual"))
    plain.join(resid, Seq("m"))
      .select(col("m"), col("distortion_plain"), col("distortion_residual"),
        when(col("distortion_plain") > 0,
          floor(lit(1000.0) *
            (col("distortion_plain") - col("distortion_residual")) /
            col("distortion_plain")).cast("long")).as("gain_milli"))
      .orderBy("m")
  }

  /** The res → rsvn → rcb → renc WITH-chain of the residual oracle family
    * — ONE copy of the residual projection / codebook / argmin-encode math
    * (the pqSqlCtesAfterE discipline), shared by `pq_residual_gain` and
    * `ann_ivfadc_residual_topk`. Rides `assigned`/`cents` from
    * [[SimilarityOps.ivfServeCtes]]. */
  private val pqResidualCtes =
    s"""res AS (
       |  SELECT a.vec_id, a.cent_id,
       |    list_transform(range(len(a.q)), i -> a.q[i+1] - c.cq[i+1]) AS q
       |  FROM assigned a JOIN cents c USING (cent_id)),
       |rsvn AS (
       |  SELECT vec_id, cent_id, CAST(m AS INT) AS m,
       |    q[m*$pqSubDim+1 : m*$pqSubDim+$pqSubDim] AS sub,
       |    COALESCE(CAST(list_sum(list_transform(
       |      q[m*$pqSubDim+1 : m*$pqSubDim+$pqSubDim],
       |      x -> x*x)) AS BIGINT), 0) AS ss
       |  FROM res, UNNEST(range($pqM)) t(m)),
       |rcb AS (
       |  SELECT m, vec_id AS code, sub AS csub, ss AS cc
       |  FROM rsvn WHERE vec_id >= $pqK AND vec_id < ${2 * pqK}),
       |r_scored AS (
       |  SELECT s.vec_id, s.cent_id, s.m, c.code,
       |    s.ss - 2*COALESCE(CAST(list_sum(list_transform(range(len(s.sub)),
       |      i -> s.sub[i+1]*c.csub[i+1])) AS BIGINT), 0) + c.cc AS dist
       |  FROM rsvn s JOIN rcb c USING (m)),
       |renc AS (
       |  SELECT vec_id, cent_id, m, code, dist FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY dist ASC, code) AS rn
       |    FROM r_scored)
       |  WHERE rn = 1)""".stripMargin

  private val pqResidualGainSql =
    s"""WITH ${SimilarityOps.ivfServeCtes},
       |$pqSqlCtesAfterE,
       |$pqResidualCtes,
       |plain AS (
       |  SELECT m, CAST(SUM(dist) AS BIGINT) AS distortion_plain
       |  FROM enc GROUP BY 1),
       |resid AS (
       |  SELECT m, CAST(SUM(dist) AS BIGINT) AS distortion_residual
       |  FROM renc GROUP BY 1)
       |SELECT m, distortion_plain, distortion_residual,
       |  CASE WHEN distortion_plain > 0
       |       THEN CAST(floor(1000.0 *
       |         (distortion_plain - distortion_residual) / distortion_plain)
       |         AS BIGINT) END AS gain_milli
       |FROM plain JOIN resid USING (m) ORDER BY m""".stripMargin

  /** Residual-encoded IVFADC — the §V.B serve pipeline (Jégou et al.
    * 2011: encode r = q − coarse centroid instead of q), the path a
    * deployment turns ON when `pq_residual_gain` reports positive
    * gain_milli. The audit's conclusion is CORPUS-DEPENDENT and this
    * family is honest about it: on tight coarse cells (clustered
    * corpora — the geometry §V.B presumes) residuals carry less energy
    * than raw vectors and the same code budget buys strictly better
    * ranking (PqOpsSpec pins residual recall ≥ raw, with full recall on
    * a clustered fixture where raw coding collapses in-cell order); on
    * the near-isotropic testdata corpus (`embedding_anisotropy` measures
    * it) residuals vs sample centroids GAIN energy and gain_milli goes
    * negative — serve raw there. Differences from [[annIvfadcTopk]],
    * exactly the real-IVFADC deltas:
    *
    *  - the corpus codes are [[residualEncoded]] (argmin over the
    *    residual codebook, assignment carried);
    *  - the ADC table is per (query, PROBED centroid): the query's
    *    residual against that centroid, cut into subvectors against the
    *    residual codebook — nprobe tables per query instead of one,
    *    still queries·nprobe·pqM·pqK rows, broadcast;
    *  - candidates join their OWN list's table entry on
    *    (query_id, cent_id, m, code) — a vector is ranked by the table
    *    of the list it lives in, the §V.B algorithm.
    *
    * Scale shape is unchanged from the raw composition: coarse filter
    * bounds candidates at corpus·nprobe/K, ranking touches only 4-code
    * representations, every small side broadcast, exact int64
    * everywhere. */
  private def annIvfadcResidualTopk(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pr = SimilarityOps.ivfServeProbes(s, dir, SimilarityOps.ivfProbes)
    // query residual per probed list: qq − that list's centroid
    val qres = pr.join(broadcast(SimilarityOps.ivfServeCents(s, dir)), "cent_id")
      .select(col("query_id"), col("cent_id"),
        expr("transform(qq, (x, i) -> x - try_element_at(cq, i + 1))").as("q"))
    val rtab = subvectorsBy(qres, Seq("query_id", "cent_id"))
      .join(broadcast(residualCodebook(s, dir)), Seq("m"))
      .select(col("query_id"), col("cent_id"), col("m"), col("code"),
        (col("ss") - lit(2L) * dotQ(col("sub"), col("csub")) + col("cc"))
          .as("pd"))
    val cand = pr.select(col("query_id"), col("cent_id"))
      .join(SimilarityOps.ivfServeAssigned(s, dir)
        .select(col("vec_id"), col("cent_id")), "cent_id")
      .filter(col("vec_id") =!= col("query_id"))
    val adc = cand
      .join(residualEncoded(s, dir).select(col("vec_id"), col("cent_id"),
        col("m"), col("code")), Seq("vec_id", "cent_id"))
      .join(broadcast(rtab), Seq("query_id", "cent_id", "m", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pd")).as("adc_dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("vec_id"))
    adc.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"),
        col("adc_dist"))
      .orderBy("query_id", "rk")
  }

  private val annIvfadcResidualTopkSql =
    s"""WITH ${SimilarityOps.ivfServeCtes},
       |$pqResidualCtes,
       |qs AS (SELECT vec_id AS query_id, q AS qq, nrm AS qn FROM e WHERE vec_id < 5),
       |pr AS (
       |  SELECT query_id, qq, cent_id FROM (
       |    SELECT qu.query_id, qu.qq, c.cent_id,
       |      row_number() OVER (PARTITION BY qu.query_id ORDER BY
       |        CAST(CAST(list_sum(list_transform(range(len(qu.qq)), i -> qu.qq[i+1]*c.cq[i+1])) AS BIGINT) AS DOUBLE)
       |          / sqrt(CAST(qu.qn*c.cn AS DOUBLE)) DESC, c.cent_id) AS prn
       |    FROM qs qu CROSS JOIN cents c)
       |  WHERE prn <= ${SimilarityOps.ivfProbes}),
       |qres AS (
       |  SELECT p.query_id, p.cent_id,
       |    list_transform(range(len(p.qq)), i -> p.qq[i+1] - c.cq[i+1]) AS q
       |  FROM pr p JOIN cents c USING (cent_id)),
       |rqsvn AS (
       |  SELECT query_id, cent_id, CAST(m AS INT) AS m,
       |    q[m*$pqSubDim+1 : m*$pqSubDim+$pqSubDim] AS sub,
       |    COALESCE(CAST(list_sum(list_transform(
       |      q[m*$pqSubDim+1 : m*$pqSubDim+$pqSubDim],
       |      x -> x*x)) AS BIGINT), 0) AS ss
       |  FROM qres, UNNEST(range($pqM)) t(m)),
       |rtab AS (
       |  SELECT s.query_id, s.cent_id, s.m, c.code,
       |    s.ss - 2*COALESCE(CAST(list_sum(list_transform(range(len(s.sub)),
       |      i -> s.sub[i+1]*c.csub[i+1])) AS BIGINT), 0) + c.cc AS pd
       |  FROM rqsvn s JOIN rcb c USING (m)),
       |ivf_cand AS (
       |  SELECT p.query_id, a.cent_id, a.vec_id
       |  FROM pr p JOIN assigned a USING (cent_id)
       |  WHERE a.vec_id <> p.query_id),
       |adc AS (
       |  SELECT ic.query_id, ic.vec_id, CAST(SUM(t.pd) AS BIGINT) AS adc_dist
       |  FROM ivf_cand ic
       |  JOIN renc en ON en.vec_id = ic.vec_id AND en.cent_id = ic.cent_id
       |  JOIN rtab t ON t.query_id = ic.query_id AND t.cent_id = ic.cent_id
       |    AND t.m = en.m AND t.code = en.code
       |  GROUP BY 1, 2)
       |SELECT query_id, rk, vec_id AS neighbor_id, adc_dist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc_dist ASC, vec_id) AS rk
       |  FROM adc)
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** Two-stage serve audit — the standard production recall recovery: a
    * cheap PQ/ADC candidate stage keeps the top-[[rerankCandidates]] per
    * query (compressed codes only), then an exact full-vector int64 L2
    * re-rank of JUST those candidates picks the final top-5. Per query,
    * the audit reports brute-truth hits of the single-stage ADC top-5 vs
    * the reranked top-5 — the measured evidence that a bounded exact
    * stage (20 full-vector distances per query, independent of corpus
    * size) recovers what quantization lost (PqOpsSpec pins rerank ≥ adc
    * per query).
    *
    * Scale shape: stage 1 is the flat ADC aggregate (corpus·pqM integer
    * adds); stage 2 touches rerankCandidates·dim per query — at 100 TB
    * that is the only stage reading raw vectors, and it reads ≤ 20 of
    * them per query via an id-equi-join against the (id-partitioned)
    * vector store, never a scan. */
  val rerankCandidates = 20

  private def annRerankAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = SimilarityOps.quantizedBase(s, dir)
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("nrm").as("qn"))
    // stage 1: flat ADC ranking, kept to depth rerankCandidates
    val cand = pqEncoded(s, dir)
      .join(broadcast(adcTable(s, dir)), Seq("m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pd")).as("adc_dist"))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("vec_id"))
    val staged = cand.withColumn("ark", row_number().over(wA))
      .filter(col("ark") <= rerankCandidates)
    // stage 2: exact int64 L2 over ONLY the staged candidates
    val wR = Window.partitionBy(col("query_id"))
      .orderBy(col("l2").asc, col("vec_id"))
    val reranked = staged.join(e, "vec_id").join(broadcast(qs), "query_id")
      .withColumn("l2",
        col("qn") - lit(2L) * dotQ(col("qq"), col("q")) + col("nrm"))
      .withColumn("rrk", row_number().over(wR)).filter(col("rrk") <= 5)
      .select(col("query_id"), col("vec_id"))
    // truth: exact L2 top-5 over the full corpus (the pq_recall_audit rule)
    val wT = Window.partitionBy(col("query_id"))
      .orderBy(col("l2").asc, col("vec_id"))
    val truth = e.join(broadcast(qs), col("vec_id") =!= col("query_id"))
      .withColumn("l2",
        col("qn") - lit(2L) * dotQ(col("qq"), col("q")) + col("nrm"))
      .withColumn("rk", row_number().over(wT)).filter(col("rk") <= 5)
      .select(col("query_id"), col("vec_id"))
    val adc5 = staged.filter(col("ark") <= 5)
      .select(col("query_id").as("a_qid"), col("vec_id").as("a_nid"))
    val rr5 = reranked
      .select(col("query_id").as("r_qid"), col("vec_id").as("r_nid"))
    truth
      .join(adc5, col("query_id") === col("a_qid") &&
        col("vec_id") === col("a_nid"), "left")
      .join(rr5, col("query_id") === col("r_qid") &&
        col("vec_id") === col("r_nid"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("a_nid")).as("n_hits_adc"),
        count(col("r_nid")).as("n_hits_rerank"))
      .select(col("query_id"), col("n_hits_adc"),
        (col("n_hits_adc") * 200).as("recall_adc_milli"),
        col("n_hits_rerank"),
        (col("n_hits_rerank") * 200).as("recall_rerank_milli"))
      .orderBy("query_id")
  }

  private val annRerankAuditSql =
    s"""WITH $pqSqlCtes,
       |tab AS (
       |  SELECT q.vec_id AS query_id, q.m, c.code,
       |    q.ss - 2*COALESCE(CAST(list_sum(list_transform(range(len(q.sub)),
       |      i -> q.sub[i+1]*c.csub[i+1])) AS BIGINT), 0) + c.cc AS pd
       |  FROM svn q JOIN cb c USING (m) WHERE q.vec_id < 5),
       |adc AS (
       |  SELECT t.query_id, en.vec_id, CAST(SUM(t.pd) AS BIGINT) AS adc_dist
       |  FROM enc en JOIN tab t ON en.m = t.m AND en.code = t.code
       |    AND en.vec_id <> t.query_id
       |  GROUP BY 1, 2),
       |staged AS (
       |  SELECT query_id, vec_id, ark FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist ASC, vec_id) AS ark
       |    FROM adc)
       |  WHERE ark <= $rerankCandidates),
       |qs AS (SELECT vec_id AS query_id, q AS qq, nrm AS qn FROM e WHERE vec_id < 5),
       |reranked AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT st.query_id, st.vec_id,
       |      row_number() OVER (PARTITION BY st.query_id ORDER BY
       |        qu.qn - 2*COALESCE(CAST(list_sum(list_transform(range(len(qu.qq)),
       |          i -> qu.qq[i+1]*b.q[i+1])) AS BIGINT), 0) + b.nrm ASC,
       |        st.vec_id) AS rrk
       |    FROM staged st JOIN e b ON b.vec_id = st.vec_id
       |    JOIN qs qu ON qu.query_id = st.query_id)
       |  WHERE rrk <= 5),
       |truth AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT a.vec_id AS query_id, b.vec_id,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        a.nrm - 2*COALESCE(CAST(list_sum(list_transform(range(len(a.q)),
       |          i -> a.q[i+1]*b.q[i+1])) AS BIGINT), 0) + b.nrm ASC,
       |        b.vec_id) AS rk
       |    FROM e a JOIN e b ON a.vec_id < 5 AND b.vec_id <> a.vec_id)
       |  WHERE rk <= 5)
       |SELECT x.query_id,
       |  CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits_adc,
       |  CAST(COUNT(a.vec_id) * 200 AS BIGINT) AS recall_adc_milli,
       |  CAST(COUNT(r.vec_id) AS BIGINT) AS n_hits_rerank,
       |  CAST(COUNT(r.vec_id) * 200 AS BIGINT) AS recall_rerank_milli
       |FROM truth x
       |LEFT JOIN (SELECT query_id, vec_id FROM staged WHERE ark <= 5) a
       |  ON a.query_id = x.query_id AND a.vec_id = x.vec_id
       |LEFT JOIN reranked r
       |  ON r.query_id = x.query_id AND r.vec_id = x.vec_id
       |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin

  /** One Lloyd round for the PQ subspace codebooks with MEASURED return —
    * the retrain step `pq_encode_stats`'s scaladoc promises ("a real
    * deployment k-means each subspace"), closing the PQ training loop the
    * way `kmeans_step` closes the coarse quantizer's: per subspace,
    * update every code to the floor-mean of its assigned subvectors
    * (exact per-dim integer sums; ragged fuzz vectors contribute only the
    * dims they have — per-(code, dim) counts, not member counts), then
    * RE-ENCODE the corpus against the retrained codebook and report
    * distortion before/after, exact-milli gain, and how many (vector,
    * subspace) assignments moved. A code that lost every member keeps
    * its old vector (deterministic on both engines). A deployment loops
    * this until gain_milli flattens; one audited round is the
    * oracle-checkable unit.
    *
    * Scale shape: rides the session-cached [[pqEncoded]] assignment; the
    * mean is a (m, code, dim)-keyed map-side aggregate (≤ pqM·pqK·dim
    * rows out); the re-encode is the same broadcast-codebook argmin plan
    * as the original encode. Output is pqM rows at any corpus size.
    * Measured at sf0.01: the single round cuts plain-PQ distortion
    * 27–37% per subspace (gain_milli 275/342/293/367, ~100
    * reassignments each) — the evidence that shipping untrained
    * stand-in codebooks leaves real quality on the table. */
  private def pqKmeansStep(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = SimilarityOps.quantizedBase(s, dir)
    val enc = pqEncoded(s, dir)
    val subs = subvectors(e)
    val asub = subs.join(enc.select(col("vec_id"), col("m"), col("code")),
      Seq("vec_id", "m"))
    val dsum = asub
      .select(col("m"), col("code"), posexplode(col("sub")).as(Seq("d", "x")))
      .groupBy("m", "code", "d")
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("cnt"))
    val ncd = dsum.select(col("m"), col("code"), col("d"),
      floor(lit(1.0) * col("sx") / col("cnt")).cast("long").as("ndv"))
    val retrained = ncd.groupBy("m", "code")
      .agg(transform(sort_array(collect_list(struct(col("d"), col("ndv")))),
        x => x.getField("ndv")).as("rsub"))
    val ncb = codebook(e)
      .join(retrained, Seq("m", "code"), "left")
      .select(col("m"), col("code"),
        coalesce(col("rsub"), col("csub")).as("ncsub"))
      .withColumn("ncc", dotQ(col("ncsub"), col("ncsub")))
    val reScored = subs.join(broadcast(ncb), Seq("m"))
      .withColumn("dist",
        col("ss") - lit(2L) * dotQ(col("sub"), col("ncsub")) + col("ncc"))
    val wR = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("dist").asc, col("code"))
    val renc2 = reScored.withColumn("rn", row_number().over(wR))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("code"), col("dist"))
    val before = enc.groupBy(col("m"))
      .agg(sum(col("dist")).as("distortion_before"))
    val after = renc2.groupBy(col("m"))
      .agg(sum(col("dist")).as("distortion_after"))
    val moved = renc2.select(col("vec_id"), col("m"), col("code").as("nc"))
      .join(enc.select(col("vec_id"), col("m"), col("code").as("oc")),
        Seq("vec_id", "m"))
      .filter(col("nc") =!= col("oc"))
      .groupBy(col("m")).agg(count(lit(1)).as("n_reassigned"))
    before.join(after, Seq("m")).join(moved, Seq("m"), "left")
      .select(col("m"), col("distortion_before"), col("distortion_after"),
        when(col("distortion_before") > 0,
          floor(lit(1000.0) *
            (col("distortion_before") - col("distortion_after")) /
            col("distortion_before")).cast("long")).as("gain_milli"),
        coalesce(col("n_reassigned"), lit(0L)).as("n_reassigned"))
      .orderBy("m")
  }

  private val pqKmeansStepSql =
    s"""WITH $pqSqlCtes,
       |asub AS (
       |  SELECT s.vec_id, s.m, en.code, s.sub, s.ss
       |  FROM svn s JOIN enc en USING (vec_id, m)),
       |dsum AS (
       |  SELECT m, code, i AS d, CAST(SUM(sub[i+1]) AS BIGINT) AS sx,
       |    COUNT(*) AS cnt
       |  FROM asub, UNNEST(range(len(sub))) t(i) GROUP BY 1, 2, 3),
       |ncd AS (
       |  SELECT m, code, d, CAST(floor(1.0 * sx / cnt) AS BIGINT) AS ndv
       |  FROM dsum),
       |retrained AS (
       |  SELECT m, code, list(ndv ORDER BY d) AS rsub FROM ncd GROUP BY 1, 2),
       |ncb AS (
       |  SELECT c.m, c.code, COALESCE(r.rsub, c.csub) AS ncsub
       |  FROM cb c LEFT JOIN retrained r USING (m, code)),
       |re_scored AS (
       |  SELECT s.vec_id, s.m, c.code,
       |    s.ss - 2*COALESCE(CAST(list_sum(list_transform(range(len(s.sub)),
       |      i -> s.sub[i+1]*c.ncsub[i+1])) AS BIGINT), 0)
       |    + COALESCE(CAST(list_sum(list_transform(c.ncsub, x -> x*x))
       |      AS BIGINT), 0) AS dist
       |  FROM svn s JOIN ncb c USING (m)),
       |renc2 AS (
       |  SELECT vec_id, m, code, dist FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY dist ASC, code) AS rn
       |    FROM re_scored)
       |  WHERE rn = 1),
       |bef AS (
       |  SELECT m, CAST(SUM(dist) AS BIGINT) AS distortion_before
       |  FROM enc GROUP BY 1),
       |aft AS (
       |  SELECT m, CAST(SUM(dist) AS BIGINT) AS distortion_after
       |  FROM renc2 GROUP BY 1),
       |moved AS (
       |  SELECT r.m, COUNT(*) AS n_reassigned
       |  FROM renc2 r JOIN enc en ON en.vec_id = r.vec_id AND en.m = r.m
       |  WHERE r.code <> en.code GROUP BY 1)
       |SELECT b.m, b.distortion_before, a.distortion_after,
       |  CASE WHEN b.distortion_before > 0
       |       THEN CAST(floor(1000.0 *
       |         (b.distortion_before - a.distortion_after) /
       |         b.distortion_before) AS BIGINT) END AS gain_milli,
       |  CAST(COALESCE(mv.n_reassigned, 0) AS BIGINT) AS n_reassigned
       |FROM bef b JOIN aft a USING (m) LEFT JOIN moved mv USING (m)
       |ORDER BY b.m""".stripMargin

  val all: Seq[Q] = Seq(
    Q("pq_kmeans_step", pqKmeansStep, Some(pqKmeansStepSql)),
    Q("pq_encode_stats", pqEncodeStats, Some(pqEncodeStatsSql)),
    Q("pq_adc_topk", pqAdcTopk, Some(pqAdcTopkSql)),
    Q("pq_recall_audit", pqRecallAudit, Some(pqRecallAuditSql)),
    Q("ann_ivfadc_topk", annIvfadcTopk, Some(annIvfadcTopkSql)),
    Q("ann_ivfadc_residual_topk", annIvfadcResidualTopk,
      Some(annIvfadcResidualTopkSql)),
    Q("ann_rerank_audit", annRerankAudit, Some(annRerankAuditSql)),
    Q("pq_residual_gain", pqResidualGain, Some(pqResidualGainSql)))
}
