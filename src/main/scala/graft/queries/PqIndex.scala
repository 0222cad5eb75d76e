package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PQ index PERSISTENCE — the lifecycle piece the serve-family queries
  * imply (`ivf_list_drift` audits a deployed index whose quantizer is
  * held fixed between retrains; this is how that index exists on disk):
  *
  *  - [[save]] writes the two artifacts a PQ deployment stores — the
  *    pqM·pqK-row codebook and the 4-codes-per-vector encoded corpus
  *    (codes.parquet is ~64× smaller than the float vectors it replaces;
  *    at 100 TB of embeddings that is the difference between a
  *    serveable index and an unloadable one);
  *  - [[serveAdcTopk]] answers top-k from the SAVED artifacts alone:
  *    query vectors quantize row-locally, build their 32-entry ADC
  *    tables against the loaded codebook (broadcast — it is tiny by
  *    construction), and rank encoded vectors by summed table lookups.
  *    The corpus embeddings are never read at serve time — the index IS
  *    the data, which is the entire point of storing codes.
  *  - [[saveIvfAdc]]/[[serveIvfAdcTopk]] extend the flat artifacts with
  *    the coarse quantizer (centroids.parquet) and the inverted-list
  *    assignment (assigned.parquet), so the FULL IVF→ADC composition
  *    serves cold — the deployed-index file `ivf_list_drift`'s
  *    fixed-quantizer story presumes.
  *
  * PqIndexSpec pins that a saved-then-served index answers bit-for-bit
  * identically to the in-session `pq_adc_topk` / `ann_ivfadc_topk`
  * pipelines on the same corpus and queries. */
object PqIndex {

  /** Write the codebook + encoded codes for `dir`'s embeddings corpus
    * under `out` (out/codebook.parquet, out/codes.parquet). Rides the
    * session-cached encode relation — saving after querying costs only
    * the writes. */
  def save(s: SparkSession, dir: String, out: String): Unit = {
    val e = SimilarityOps.quantizedBase(s, dir)
    PqOps.subvectors(e.filter(col("vec_id") < PqOps.pqK))
      .select(col("m"), col("vec_id").as("code"),
        col("sub").as("csub"), col("ss").as("cc"))
      .write.mode("overwrite").parquet(s"$out/codebook.parquet")
    PqOps.pqEncoded(s, dir)
      .write.mode("overwrite").parquet(s"$out/codes.parquet")
  }

  /** Top-k ADC search over a SAVED index for `queries`
    * (vec_id, embedding) rows: per query, the k nearest encoded vectors
    * by summed per-subspace table distances (adc asc, id ties — the
    * pq_adc_topk rule). Self-matches are EXCLUDED: an id present in both
    * the query set and the index never matches itself — the same
    * `vec_id <> query_id` rule every serve query in the suite applies, so
    * a saved-then-served index answers bit-for-bit like the in-session
    * pipeline (PqIndexSpec pins this, including the self-match case). */
  def serveAdcTopk(s: SparkSession, indexDir: String, queries: DataFrame,
      k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cb = s.read.parquet(s"$indexDir/codebook.parquet")
    val codes = s.read.parquet(s"$indexDir/codes.parquet")
    val q = SimilarityOps.quantize(queries)
      .select(col("vec_id").as("query_id"), col("q"))
    val tab = PqOps.subvectors(q.withColumnRenamed("query_id", "vec_id"))
      .withColumnRenamed("vec_id", "query_id")
      .join(broadcast(cb), Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        (col("ss") - lit(2L) *
          graft.functions.GraftFunctions.quantized_dot(col("sub"), col("csub"))
          + col("cc")).as("pd"))
    val cand = codes.join(broadcast(tab), Seq("m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pd")).as("adc_dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("vec_id"))
    cand.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"),
        col("adc_dist"))
      .orderBy("query_id", "rk")
  }

  /** Write the FULL IVFADC index for `dir`'s corpus under `out`: the flat
    * PQ artifacts ([[save]]: codebook + codes) PLUS the coarse quantizer
    * (centroids.parquet — cent_id, cq, cn) and the inverted-list
    * assignment (assigned.parquet — vec_id, cent_id). With these four,
    * the complete IVF→ADC composition serves COLD from disk: nothing
    * about the corpus is needed at query time, which is the deployment
    * story `ivf_list_drift` audits (the quantizer held fixed between
    * retrains IS this persisted file). At 100 TB the four artifacts are
    * K centroid rows + one (id, cent) pair + 4 codes per vector — the
    * codes dominate at ~64× under the raw vectors. */
  def saveIvfAdc(s: SparkSession, dir: String, out: String): Unit = {
    save(s, dir, out)
    SimilarityOps.ivfServeCents(s, dir)
      .write.mode("overwrite").parquet(s"$out/centroids.parquet")
    SimilarityOps.ivfServeAssigned(s, dir).select(col("vec_id"), col("cent_id"))
      .write.mode("overwrite").parquet(s"$out/assigned.parquet")
  }

  /** Write the RESIDUAL-encoded IVFADC index ([[PqOps]]
    * `ann_ivfadc_residual_topk`'s artifacts) under `out`: coarse
    * quantizer + assignment (as [[saveIvfAdc]]) plus the residual
    * codebook (rcodebook.parquet) and the per-list residual codes
    * (rcodes.parquet — vec_id, cent_id, m, code). The pair
    * save/serve is what a deployment whose `pq_residual_gain` audit
    * came back positive persists instead of the raw artifacts. */
  def saveIvfAdcResidual(s: SparkSession, dir: String, out: String): Unit = {
    SimilarityOps.ivfServeCents(s, dir)
      .write.mode("overwrite").parquet(s"$out/centroids.parquet")
    SimilarityOps.ivfServeAssigned(s, dir).select(col("vec_id"), col("cent_id"))
      .write.mode("overwrite").parquet(s"$out/assigned.parquet")
    PqOps.residualCodebook(s, dir)
      .write.mode("overwrite").parquet(s"$out/rcodebook.parquet")
    PqOps.residualEncoded(s, dir)
      .select(col("vec_id"), col("cent_id"), col("m"), col("code"))
      .write.mode("overwrite").parquet(s"$out/rcodes.parquet")
  }

  /** Top-k residual-IVFADC search over a SAVED index
    * ([[saveIvfAdcResidual]]) — the cold twin of
    * `ann_ivfadc_residual_topk`, bit-for-bit (PqIndexSpec): queries
    * quantize row-locally, probe their nprobe max-cosine centroids, form
    * the per-(query, probed centroid) RESIDUAL, build its ADC table
    * against the loaded residual codebook, and rank the probed lists'
    * stored residual codes by summed lookups. Corpus vectors never
    * load. */
  def serveIvfAdcResidualTopk(s: SparkSession, indexDir: String,
      queries: DataFrame, k: Int = 5,
      nprobe: Int = SimilarityOps.ivfProbes): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = s.read.parquet(s"$indexDir/centroids.parquet")
    val assigned = s.read.parquet(s"$indexDir/assigned.parquet")
    val rcb = s.read.parquet(s"$indexDir/rcodebook.parquet")
    val rcodes = s.read.parquet(s"$indexDir/rcodes.parquet")
    val q = SimilarityOps.quantize(queries)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("nrm").as("qn"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("ccos",
        graft.functions.GraftFunctions.quantized_dot(col("qq"), col("cq"))
          .cast("double") / sqrt((col("qn") * col("cn")).cast("double")))
      .withColumn("prn", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("ccos").desc, col("cent_id"))))
      .filter(col("prn") <= nprobe)
      .select(col("query_id"), col("cent_id"), col("qq"), col("cq"))
    val qres = probes.select(col("query_id"), col("cent_id"),
      expr("transform(qq, (x, i) -> x - try_element_at(cq, i + 1))").as("q"))
    val rtab = PqOps.subvectorsBy(qres, Seq("query_id", "cent_id"))
      .join(broadcast(rcb), Seq("m"))
      .select(col("query_id"), col("cent_id"), col("m"), col("code"),
        (col("ss") - lit(2L) *
          graft.functions.GraftFunctions.quantized_dot(col("sub"), col("csub"))
          + col("cc")).as("pd"))
    val cand = probes.select(col("query_id"), col("cent_id"))
      .join(assigned, "cent_id")
      .filter(col("vec_id") =!= col("query_id"))
    val adc = cand.join(rcodes, Seq("vec_id", "cent_id"))
      .join(broadcast(rtab), Seq("query_id", "cent_id", "m", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pd")).as("adc_dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("vec_id"))
    adc.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"),
        col("adc_dist"))
      .orderBy("query_id", "rk")
  }

  /** Top-k IVFADC search over a SAVED index ([[saveIvfAdc]]) for `queries`
    * (vec_id, embedding) rows — the cold twin of `ann_ivfadc_topk`, and
    * PqIndexSpec pins them bit-for-bit identical: queries quantize
    * row-locally, probe their `nprobe` max-cosine centroids (broadcast
    * K-row quantizer), candidates come from the probed inverted lists
    * (assignment equi-join), and ranking is the summed ADC table lookup
    * over each candidate's 4 stored codes. Self-matches excluded — the
    * suite-wide serve rule. The corpus vectors are never read: index
    * artifacts only. */
  def serveIvfAdcTopk(s: SparkSession, indexDir: String, queries: DataFrame,
      k: Int = 5, nprobe: Int = SimilarityOps.ivfProbes): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = s.read.parquet(s"$indexDir/centroids.parquet")
    val assigned = s.read.parquet(s"$indexDir/assigned.parquet")
    val cb = s.read.parquet(s"$indexDir/codebook.parquet")
    val codes = s.read.parquet(s"$indexDir/codes.parquet")
    val q = SimilarityOps.quantize(queries)
      .select(col("vec_id").as("query_id"), col("q"), col("nrm").as("qn"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("ccos",
        graft.functions.GraftFunctions.quantized_dot(col("q"), col("cq"))
          .cast("double") / sqrt((col("qn") * col("cn")).cast("double")))
      .withColumn("prn", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("ccos").desc, col("cent_id"))))
      .filter(col("prn") <= nprobe)
      .select(col("query_id"), col("cent_id"))
    val cand = probes.join(assigned, "cent_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    val tab = PqOps.subvectors(q.withColumnRenamed("query_id", "vec_id"))
      .withColumnRenamed("vec_id", "query_id")
      .join(broadcast(cb), Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        (col("ss") - lit(2L) *
          graft.functions.GraftFunctions.quantized_dot(col("sub"), col("csub"))
          + col("cc")).as("pd"))
    val adc = cand.join(codes, "vec_id")
      .join(broadcast(tab), Seq("query_id", "m", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pd")).as("adc_dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("vec_id"))
    adc.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"),
        col("adc_dist"))
      .orderBy("query_id", "rk")
  }
}
