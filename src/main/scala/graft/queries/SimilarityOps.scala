package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Util._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Determinism design: vectors are quantized to integer thousandths
  * (`round(x*1000) → BIGINT`), so dot products and norms are EXACT int64
  * sums (order-independent — safe under any aggregation order in either
  * engine). Cosine is then a single double division by a single sqrt of an
  * exact int64 — one correctly-rounded IEEE op each, bit-identical across
  * engines. Ranking ties break on neighbor id.
  *
  * Scale design: brute-force top-k is the oracle-able baseline — a broadcast
  * of the (small) query set against a scan of the corpus, no shuffle until
  * the final per-query top-k (a tiny aggregate). The LSH variant buckets by
  * md5-derived random-hyperplane signatures: candidates come from an
  * equi-join on (band, signature) — the 100 TB path where all-pairs is
  * impossible. Signature computation is a narrow projection; the sign matrix
  * is data-independent and engine-portable (derived from md5 hex).
  */
object SimilarityOps {

  /** Graph-serve knobs, declared ahead of every val that interpolates
    * them (a val declared later reads as 0 during object init — exactly
    * the bug that emptied the beam oracle's hop chain before this moved
    * up). */
  private val graphDegree = 4
  private val graphHops = 3

  /** Quantized int64 vector: round(x*1000) per element, in double to match
    * DuckDB's float→double promotion. */
  private def qvec(c: Column): Column =
    transform(c, x => round(x.cast("double") * 1000, 0).cast("long"))

  private[queries] val qvecSql =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000, 0) AS BIGINT))"

  /** Exact int64 dot product of two quantized vectors — the engine's native
    * codegen'd expression (one primitive loop; the equivalent
    * aggregate∘zip_with composition runs interpreted per element). */
  private def dotQ(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.quantized_dot(a, b)

  /** Row-local quantization of an embeddings frame (vec_id, q, nrm) —
    * STREAM-SAFE (no shuffle, no state): the projection half of
    * [[quantizedBase]] without the persist, shared by the streaming
    * assignment twin. Zero-norm (NULL / empty / all-zero) vectors are
    * dropped, the quantizedBase contract. */
  def quantize(vecs: DataFrame): DataFrame = {
    vecs.select(col("vec_id"), qvec(col("embedding")).as("q"))
      .withColumn("nrm",
        graft.functions.GraftFunctions.quantized_dot(col("q"), col("q")))
      .filter(col("nrm") > 0)
  }

  /** The fixed coarse quantizer of `ivf_list_drift` collapsed to ONE
    * broadcastable row (cents: array of (cent_id, cq, cn), sorted by
    * cent_id so any fold over it is order-deterministic) — the
    * collapse-to-one-row broadcast pattern of the bloom gate, for the
    * streaming assignment twin. */
  def ivfQuantizerRow(corpus: DataFrame): DataFrame =
    quantize(corpus)
      .filter(col("vec_id") < 10 && col("vec_id") % 5 =!= 0)
      .select(struct(col("vec_id").as("cent_id"), col("q").as("cq"),
        col("nrm").as("cn")).as("c"))
      .agg(sort_array(collect_list(col("c"))).as("cents"))

  /** The semantic-decontamination bench set collapsed to ONE
    * broadcastable row (bench: array of (bench_id, bq, bn), sorted by
    * bench_id so any fold over it is order-deterministic) — the
    * ivfQuantizerRow collapse pattern, for the streaming gate twin
    * ([[graft.streaming.StreamingPipeline]] `semanticGateStream`). Bench
    * rule matches `decontaminate_semantic`: vec_id % 5 = 0 ∧ < 25. */
  def semanticBenchRow(corpus: DataFrame): DataFrame =
    quantize(corpus)
      .filter(col("vec_id") % 5 === 0 && col("vec_id") < 25)
      .select(struct(col("vec_id").as("bench_id"), col("q").as("bq"),
        col("nrm").as("bn")).as("b"))
      .agg(sort_array(collect_list(col("b"))).as("bench"))

  /** The walk's hop count, shared with the streaming serve twin so both
    * run the same depth. */
  private[graft] def serveGraphHops: Int = graphHops

  /** Neighbor-BLOCK serve index for the streaming ANN twin
    * ([[graft.streaming.StreamingPipeline]] `annServeStream`): one row
    * per serve-graph node with the node's full adjacency inlined —
    * `(node, nbrs: array<struct<nbr, nq, nn>>)`, sorted by nbr so any
    * fold over it is order-deterministic. This is the shape a serving
    * system ships (DiskANN/HNSW serve = fetch the current node's
    * neighbor block, score row-locally, move): each hop of a stateless
    * stream walk is ONE stream-static equi-join on `cur` + a row-local
    * argmax, no rank window (unsupported on append streams) and no
    * per-edge shuffle. Block size is degree-bounded (≤ graphDegree + 1
    * entries × dim int64 + ids), so the index is |V|-row with
    * constant-size payloads — the scale shape of a serving store. Built
    * over the SAME static top-degree graph + quantized base the batch
    * greedy audit walks, so the stream twin's parity pin is exact. */
  def graphNeighborIndex(s: SparkSession, dir: String): DataFrame = {
    val (e, g2, _) = graphServeParts(s, dir)
    g2.join(e.select(col("vec_id").as("nbr"), col("q").as("nq"),
        col("nrm").as("nn")), "nbr")
      .groupBy(col("node"))
      .agg(sort_array(collect_list(struct(col("nbr"), col("nq"),
        col("nn")))).as("nbrs"))
  }

  /** The random-hyperplane LSH matrix collapsed to ONE broadcastable
    * row for the streaming insert gate: `planes` is bit-major ascending
    * — element i holds hyperplane i's 64 ±1 signs ([[sign]], the
    * md5-portable family) — so an ARRIVING vector's signature is a
    * row-local fold (bit i = sign of Σ q·planes[i]), identical exact-int
    * math to the corpus-side signature aggregate. */
  def lshPlanesRow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dims = 64
    val nBits = lshBitsFor(s, dir)
    Seq(Tuple1((0 until nBits).map(i =>
      (0 until dims).map(j => sign(i, j).toLong)))).toDF("planes")
  }

  /** LSH bucket-MEMBERSHIP index for the streaming insert gate: one row
    * per (band, sig) bucket with the members inlined —
    * `(band, sig, members: array<struct<vec_id, q, nrm>>)`, sorted by
    * vec_id for order-deterministic folds, over-cap buckets
    * ([[maxLshBucket]]) excluded exactly as the batch candidate
    * discipline excludes them from pairing. Unlike the pair relation,
    * SINGLETON buckets stay: a lone corpus vector is still a valid
    * candidate for an arriving query. This is the write-path serving
    * store: an insert gate looks up the arrival's ≤2 band buckets,
    * scores the inlined members row-locally, and commits kept edges —
    * no corpus-side work per arrival. With `corpusOnly` the index holds
    * only the ESTABLISHED corpus (vec_id % 10 ≠ 0 — the increment
    * family's split), the store a deployment serves while the %10
    * increment arrives: the stream gate over that index is then
    * row-for-row the batch `ann_insert_gate` query
    * (StreamingPipelineSpec pins it). Per-vector band signatures are
    * independent of other vectors, so the filtered index IS the index
    * of the filtered corpus — same invariance as the MinHash sharing. */
  def lshBucketMembersIndex(s: SparkSession, dir: String,
      corpusOnly: Boolean = false): DataFrame = {
    val e = quantizedBase(s, dir)
    val all = lshBands(s, dir)
    val bands = if (corpusOnly) all.filter(col("vec_id") % 10 =!= 0) else all
    val ok = bands.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("k"))
      .filter(col("k") <= maxLshBucket(s))
      .select(col("band"), col("sig"))
    bands.join(ok, Seq("band", "sig"), "left_semi")
      .join(e, "vec_id")
      .groupBy(col("band"), col("sig"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("q"),
        col("nrm")))).as("members"))
  }

  /** The serve graph's entry rule collapsed to ONE broadcastable row:
    * the two lowest graph nodes with their quantized vectors —
    * `(n1, q1, m1, n2, q2, m2)`. The stream twin starts every arriving
    * query at n1 (n2 if the query IS node n1 — the batch
    * [[entryState]] rule, which external query ids never trigger). */
  def graphEntryRow(s: SparkSession, dir: String): DataFrame = {
    val (e, g2, _) = graphServeParts(s, dir)
    g2.select("node").distinct().orderBy("node").limit(2)
      .agg(min("node").as("n1"), max("node").as("n2"))
      .join(e.select(col("vec_id").as("n1"), col("q").as("q1"),
        col("nrm").as("m1")), "n1")
      .join(e.select(col("vec_id").as("n2"), col("q").as("q2"),
        col("nrm").as("m2")), "n2")
      .select(col("n1"), col("q1"), col("m1"), col("n2"), col("q2"),
        col("m2"))
  }

  /** Quantized corpus (vec_id, q, nrm), persisted once per (session, dir):
    * five similarity queries share this base, and within one query the
    * LSH/IVF plans reference it up to three times — caching turns those
    * re-scans + re-quantizations into memory reads. Transparent to results.
    * Lazy like every [[Util.cachedRelation]]: the first action populates
    * the cache for every later consumer. */
  private[queries] def quantizedBase(s: SparkSession, dir: String): DataFrame =
    Util.cachedRelation(s, dir, "quantizedBase", "") {
      t(s, dir, "embeddings")
        .select(col("vec_id"), qvec(col("embedding")).as("q"))
        .withColumn("nrm",
          graft.functions.GraftFunctions.quantized_dot(col("q"), col("q")))
        // zero-norm (NULL / empty / all-zero) vectors have no cosine: keep
        // them out of the SHARED base so every similarity consumer agrees
        // with its oracle twin. Found by the differential fuzz gate: DuckDB
        // gave an empty vector the all-zero LSH signature (NULL sums → sign
        // bit 0) while the Spark signature aggregate dropped it (posexplode
        // of an empty array emits no rows), so bucket 0 candidate sets
        // diverged; IVF additionally hit DIVIDE_BY_ZERO on the zero norm.
        .filter(col("nrm") > 0)
    }

  /** Brute-force cosine top-10 for query vectors (vec_id < 5) against the
    * whole corpus. Session-cached: TWELVE call sites across the ANN/graph
    * family join this as their ground truth (every serve audit's
    * reconciliation), and uncached each re-ran the corpus × queries score
    * + rank window — one full-corpus pass per consumer for a 50-row
    * relation a session computes once (guide §1.2 step 1). */
  private def knnBruteCosine(s: SparkSession, dir: String): DataFrame =
    Util.cachedRelation(s, dir, "knnBrute", "")(
      knnBruteCosineUncached(s, dir))

  private def knnBruteCosineUncached(s: SparkSession, dir: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = quantizedBase(s, dir)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("nrm").as("qn"))
    // nrm/qn > 0 guard: a zero-norm vector would make cos = 0/0 = NaN, and
    // NaN ordering differs between TopKByScore (ranks NaN worst) and
    // window/DuckDB ordering (NaN largest) — filter so the divergence is
    // unreachable in every variant sharing this oracle.
    val joined = e.filter(col("nrm") > 0)
      .join(broadcast(queries.filter(col("qn") > 0)),
        col("vec_id") =!= col("query_id"))
      .withColumn("dot", dotQ(col("qq"), col("q")))
      .withColumn("cos",
        col("dot").cast("double") / sqrt((col("qn") * col("nrm")).cast("double")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    joined.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"), col("cos"))
      .orderBy("query_id", "rk")
  }

  private val knnBruteCosineSql =
    s"""WITH e AS (
       |  SELECT * FROM (
       |    SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm
       |    FROM (SELECT vec_id, $qvecSql AS q FROM embeddings))
       |  WHERE nrm > 0),
       |pairs AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    CAST(list_sum(list_transform(range(len(a.q)), i -> a.q[i+1]*b.q[i+1])) AS BIGINT) AS dot,
       |    a.nrm AS qn, b.nrm AS nn
       |  FROM e a JOIN e b ON a.vec_id < 5 AND b.vec_id <> a.vec_id
       |    AND a.nrm > 0 AND b.nrm > 0),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(dot AS DOUBLE)/sqrt(CAST(qn*nn AS DOUBLE)) AS cos
       |  FROM pairs)
       |SELECT query_id, rk, neighbor_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
       |  FROM scored)
       |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin

  /** Same top-10 as [[knnBruteCosine]] but through the engine's typed
    * [[graft.functions.TopKByScore]] Aggregator instead of a ranking
    * window: the aggregate keeps a bounded k-buffer with map-side partial
    * aggregation, so the shuffle carries ≤ k rows per key per map task —
    * the plan that survives millions of candidates per query at 100 TB.
    * Shares the window variant's oracle: two physical strategies, one
    * semantic contract. */
  private def knnTopkAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = quantizedBase(s, dir)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("nrm").as("qn"))
    // Same nrm/qn > 0 NaN guard as the window variant (shared oracle).
    val scored = e.filter(col("nrm") > 0)
      .join(broadcast(queries.filter(col("qn") > 0)),
        col("vec_id") =!= col("query_id"))
      .withColumn("dot", dotQ(col("qq"), col("q")))
      .withColumn("cos",
        col("dot").cast("double") / sqrt((col("qn") * col("nrm")).cast("double")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"))
      .as[(Long, Long, Double)]
    val topk = new graft.functions.TopKByScore(10).toColumn
    scored.groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(topk)
      .toDF("query_id", "topk")
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "nc")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rk"),
        col("nc._1").as("neighbor_id"), col("nc._2").as("cos"))
      .orderBy("query_id", "rk")
  }

  /** Signature width for the verify corpus (2 bands of 8 bits). The SQL
    * oracle twin is generated at this width, so [[lshBitsFor]] must resolve
    * to it at the driver's verify scale — and does, for any corpus up to
    * 4096 estimated rows (the test corpora are 500–2000). */
  val lshBits = 16

  /** Per-bucket candidate cap: a bucket with more than this many members is
    * dropped from candidate generation (and logged via the `graft_drop_*`
    * observation). 100 TB rationale: a degenerate bucket — all-near-zero
    * vectors hashing to the all-zero signature, the normal case in web
    * corpora — otherwise yields |bucket|² candidate pairs on one join key.
    * The cap bounds that at ~500k pairs per bucket. Sized to never bind at
    * test scale (max observed bucket ≈ 30 at sf0.1), so oracle output is
    * unchanged there.
    * Session conf `graft.cap.lshBucket` overrides per deployment — ENGINE
    * SIDE ONLY: the DuckDB oracle twins interpolate the default (static
    * `oracleSql` contract), so [[graft.Verify]] refuses oracle replay
    * under an override. */
  val maxLshBucketDefault = 1024
  def maxLshBucket(s: SparkSession): Int =
    s.conf.getOption("graft.cap.lshBucket").map(_.toInt)
      .getOrElse(maxLshBucketDefault)

  /** Estimate corpus rows WITHOUT running a Spark job (query construction
    * must stay job-free for schema/explain callers): exact row counts from
    * parquet footers, read through the session's Hadoop FileSystem — so the
    * derivation works on ANY configured store (HDFS, S3A, local), not just
    * a stat-able local path. Footer reads are driver-side metadata fetches,
    * not jobs; for many-file tables only the first [[footerSample]] footers
    * are read and the rest extrapolated by byte share, bounding driver time
    * at O(sample) regardless of file count. Returns None when the store is
    * unreachable — callers fall back to the verify-scale default; a real
    * deployment sizes the knob explicitly via `graft.lsh.bits`. */
  private val footerSample = 32
  private def estimatedRows(s: SparkSession, dir: String, table: String): Option[Long] = {
    try {
      import org.apache.hadoop.fs.{FileStatus, Path => HPath}
      val p = new HPath(dir, s"$table.parquet")
      val conf = s.sessionState.newHadoopConf()
      val fs = p.getFileSystem(conf)
      val files = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
      val it = fs.listFiles(p, true) // a plain file yields itself
      while (it.hasNext) {
        val f = it.next()
        val n = f.getPath.getName
        if (f.isFile && !n.startsWith("_") && !n.startsWith(".")) files += f
      }
      if (files.isEmpty) None
      else {
        val sample = files.sortBy(_.getPath.toString).take(footerSample).toSeq
        val sampleRows = sample.map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        }.sum
        val sampleBytes = math.max(1L, sample.map(_.getLen).sum)
        val totalBytes = files.map(_.getLen).sum
        Some(math.max(1L,
          math.round(sampleRows.toDouble * totalBytes / sampleBytes)))
      }
    } catch { case _: Exception => None }
  }

  /** Scale-derived signature width: bits ≈ log₂(n) + 4, even (2 equal
    * bands), floored at [[lshBits]], capped at 64. Keeps expected bucket
    * population roughly constant (n / 2^(bits/2) per band) as the corpus
    * grows — with the fixed 16 bits, bucket size ∝ corpus size and the
    * candidate join degenerates toward all-pairs at 100 TB.
    *
    * Session conf `graft.lsh.bits` overrides the derivation — the explicit
    * knob for deployments where the corpus is not on a stat-able local
    * path (object stores) or where the operator knows n better than the
    * file-size estimate. */
  def lshBitsFor(s: SparkSession, dir: String): Int =
    s.conf.getOption("graft.lsh.bits").map(_.toInt) match {
      case Some(b) => math.min(64, math.max(2, b + (b & 1)))
      case None => estimatedRows(s, dir, "embeddings") match {
        case Some(n) =>
          val raw = (64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))) + 4
          math.min(64, math.max(lshBits, raw + (raw & 1)))
        case None => lshBits
      }
    }

  /** Engine-portable pseudo-random hyperplane sign: +1 when the first hex
    * digit of md5("<bit>_<dim>") is 0-7, else -1. Computed driver-side here
    * and via SQL md5 in the oracle — identical by md5's definition. */
  private def sign(bit: Int, dim: Int): Int = {
    val mdBytes = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${bit}_$dim".getBytes("UTF-8"))
    if (((mdBytes(0) >> 4) & 0xf) < 8) 1 else -1
  }

  /** LSH-bucketed cosine candidates: random-hyperplane signatures of
    * [[lshBitsFor]] bits (16 at verify scale, growing with log₂ of corpus
    * size) in 2 equal bands; vectors sharing a band signature are
    * candidates, verified with the exact quantized cosine.
    *
    * The signature dot products are computed relationally — posexplode the
    * quantized vector, broadcast-join the (bit, dim, sign) matrix, hash-
    * aggregate per (vec, bit) — which stays inside WholeStageCodegen,
    * instead of 16 interpreted higher-order `aggregate` lambdas per row
    * (measured ~6× faster at sf0.1). */
  /** Cached per (session, dir, resolved bits, resolved cap): retuning
    * EITHER knob in-session builds a fresh plan and releases the old one.
    * The value carries every persisted DataFrame the plan owns (result +
    * the bands intermediate). `dedup_embedding_neardup` is a filter over
    * this exact result, so materializing it once (it is candidate-pair
    * sized — thousands of rows, not corpus-sized) halves the similarity
    * suite's wall time. Transparent to results.
    *
    * The persist is LAZY (no count() at construction): schema/explain-only
    * callers trigger no Spark job, and bench timing attributes the first
    * materialization to the query that actually runs first — noted next to
    * the bench results. */
  private def lshState(s: SparkSession, dir: String): Seq[DataFrame] =
    Util.cached(s, dir, "lshState", s"${lshBitsFor(s, dir)}_${maxLshBucket(s)}") {
      val (result, bands) = annLshCosineUncached(s, dir)
      Seq(result.persist(), bands)
    }

  private def annLshCosine(s: SparkSession, dir: String): DataFrame =
    lshState(s, dir).head

  /** The persisted (vec_id, band, sig) relation — the multiprobe audit
    * rides the same signature subtree the candidate join uses. */
  private def lshBands(s: SparkSession, dir: String): DataFrame =
    lshState(s, dir).last

  /** Returns (result, persisted bands intermediate) — the caller owns the
    * cache registration and eventual unpersist of both. */
  private def annLshCosineUncached(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val dims = 64
    val nBits = lshBitsFor(s, dir)
    val bandBits = nBits / 2
    val e = quantizedBase(s, dir)
    val sgn = (for { i <- 0 until nBits; j <- 0 until dims }
      yield (i, j, sign(i, j))).toDF("bit", "dim", "sgn")
    // ONE aggregate: nBits conditional sums per vec_id (bit i's hyperplane
    // dot = Σ qv·sgn over rows with bit == i), pivoted to sign chars in the
    // same projection — one exchange fewer than the former
    // (vec, bit)-aggregate + pivot-aggregate chain, same exact-int math
    val sumCols = (0 until nBits).map(i =>
      sum(when(col("bit") === i, col("qv") * col("sgn"))).as(s"b$i"))
    val sums = e.select(col("vec_id"), posexplode(col("q")).as(Seq("dim", "qv")))
      .join(broadcast(sgn), "dim")
      .groupBy(col("vec_id"))
      .agg(sumCols.head, sumCols.tail: _*)
    // Bit-pack each band's sign bits into ONE long (bit k set iff
    // hyperplane k's dot ≥ 0) — the same packing SimHash uses for its
    // b0..b3 band ints. The bucket key becomes an 8-byte integer instead
    // of a bandBits-char string: smaller persisted rows, cheaper join
    // hashing. bandBits ≤ 32 (nBits caps at 64), so the value always fits.
    def packed(bits: Range): Column = bits.zipWithIndex.map { case (i, k) =>
      when(col(s"b$i") >= 0, lit(1L << k)).otherwise(lit(0L))
    }.reduce((a: Column, b: Column) => a + b)
    // long-form (vec_id, band, sig). The candidate self-join below
    // references this three times; a LAZY persist (3 small ints per
    // vector-band; the cache manager dedups identical plans) makes the
    // expensive signature subtree above evaluate once across those
    // references WITHOUT running anything at construction — a checkpoint
    // would not: even localCheckpoint(eager = false) calls
    // physicalPlan.execute() at construction, which under AQE materializes
    // every shuffle stage and breaks schema/explain-only callers
    // (LazyPlanSpec guards this).
    val bands = sums.select(col("vec_id"), explode(array(
        struct(lit(0).as("band"), packed(0 until bandBits).as("sig")),
        struct(lit(1).as("band"), packed(bandBits until nBits).as("sig")))).as("bs"))
      .select(col("vec_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
      .persist()
    // candidates: equi-join on the bucket key (band, sig) — pairs STREAM
    // through the join instead of materializing one array per bucket, so a
    // degenerate bucket (all-near-zero vectors sharing the zero signature)
    // can no longer collect the corpus onto a single task. Buckets beyond
    // maxLshBucket are dropped from one join side (bucket membership is a
    // (band, sig) property, so filtering one side kills the pair) and the
    // drop is logged via the graft_drop_* observation.
    val bucketSizes = bands.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("k"))
    val okBuckets = withDropMetric(s, bucketSizes, "graft_drop_lsh_bucket",
        sum(when(col("k") > maxLshBucket(s), 1L).otherwise(0L)))
      .filter(col("k") > 1 && col("k") <= maxLshBucket(s))
      .select(col("band"), col("sig"))
    val eligible = bands.join(okBuckets, Seq("band", "sig"), "left_semi")
    val pairs = eligible.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.vec_id") < col("y.vec_id"))
      .groupBy(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
      .agg(count(lit(1)).as("n_shared_bands"))
    val ea = e.select(col("vec_id").as("a_id"), col("q").as("qa"), col("nrm").as("na"))
    val eb = e.select(col("vec_id").as("b_id"), col("q").as("qb"), col("nrm").as("nb"))
    val result = pairs.join(ea, "a_id").join(eb, "b_id")
      .withColumn("cos", dotQ(col("qa"), col("qb")).cast("double") /
        sqrt((col("na") * col("nb")).cast("double")))
      .select(col("a_id"), col("b_id"), col("n_shared_bands"), col("cos"))
      .orderBy("a_id", "b_id")
    (result, bands)
  }

  /** The e → sigs → bands WITH-chain of the LSH oracle family — ONE copy
    * of the signature/banding math (the ivfSqlCtes discipline), shared by
    * `ann_lsh_cosine`, its dedup filter and the multiprobe audit. The
    * oracle twin is generated at the verify-corpus width (lshBits = 16,
    * 2 bands of 8): lshBitsFor resolves to exactly that for every test
    * SF. Bit k of a packed band signature is hyperplane i's sign bit
    * weighted 2^k — identical bit-packing to the Spark plan (both are
    * injective maps of the sign vector, so bucket membership is the same
    * relation either way). */
  private val lshBandsCtes = {
    def bitExpr(i: Int, k: Int) =
      s"""(CASE WHEN list_sum(list_transform(range(len(q)), j ->
         |  q[j+1] * (CASE WHEN strpos('01234567', substr(md5($i || '_' || j), 1, 1)) > 0
         |            THEN 1 ELSE -1 END))) >= 0 THEN CAST(${1L << k} AS BIGINT) ELSE 0 END)""".stripMargin
    val sig0 = (0 until lshBits / 2).zipWithIndex
      .map { case (i, k) => bitExpr(i, k) }.mkString(" + ")
    val sig1 = (lshBits / 2 until lshBits).zipWithIndex
      .map { case (i, k) => bitExpr(i, k) }.mkString(" + ")
    s"""e AS (
       |  SELECT * FROM (
       |    SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm
       |    FROM (SELECT vec_id, $qvecSql AS q FROM embeddings))
       |  WHERE nrm > 0),
       |sigs AS (SELECT vec_id, q, nrm, $sig0 AS sig0, $sig1 AS sig1 FROM e),
       |bands AS (
       |  SELECT vec_id, q, nrm, 0 AS band, sig0 AS sig FROM sigs
       |  UNION ALL SELECT vec_id, q, nrm, 1, sig1 FROM sigs),
       |okb AS (
       |  SELECT band, sig FROM bands GROUP BY band, sig
       |  HAVING COUNT(*) > 1 AND COUNT(*) <= $maxLshBucketDefault),
       |bandsok AS (SELECT bands.* FROM bands JOIN okb USING (band, sig))""".stripMargin
  }

  private val annLshCosineSql =
    s"""WITH $lshBandsCtes,
       |cand AS (
       |  SELECT a.vec_id a_id, b.vec_id b_id, COUNT(*) AS n_shared_bands,
       |    ANY_VALUE(a.q) qa, ANY_VALUE(a.nrm) na, ANY_VALUE(b.q) qb, ANY_VALUE(b.nrm) nb
       |  FROM bandsok a JOIN bandsok b
       |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
       |  GROUP BY 1, 2)
       |SELECT a_id, b_id, n_shared_bands,
       |  CAST(CAST(list_sum(list_transform(range(len(qa)), i -> qa[i+1]*qb[i+1])) AS BIGINT) AS DOUBLE)
       |    / sqrt(CAST(na*nb AS DOUBLE)) AS cos
       |FROM cand ORDER BY a_id, b_id""".stripMargin

  /** Serve-quantizer width (nlist). Fixed at 8 for the oracle corpora —
    * deliberately DEGENERATE at large synthetic scale so the semCluster
    * cap's backstop path stays exercised there. Session conf
    * `graft.cap.ivfCentroids` overrides per deployment/scale run — the
    * production control is K ∝ √N (SemDeDup's 50k clusters for LAION),
    * which a ScaleCheck run passes as a conf arg to measure the
    * POPULATED cluster-tier path at big corpora. ENGINE SIDE ONLY: the
    * DuckDB oracles interpolate the default, so Verify refuses oracle
    * replay under an override. */
  val ivfCentroidsDefault = 8
  def ivfCentroids(s: SparkSession): Int =
    s.conf.getOption("graft.cap.ivfCentroids").map(_.toInt)
      .getOrElse(ivfCentroidsDefault)
  val ivfProbes = 2

  /** The serve quantizer's centroid relation (cent_id, cq, cn) — the
    * broadcast side of every serve-family assignment/probe. */
  private[queries] def ivfServeCents(s: SparkSession, dir: String): DataFrame =
    quantizedBase(s, dir).filter(col("vec_id") < ivfCentroids(s))
      .select(col("vec_id").as("cent_id"), col("q").as("cq"), col("nrm").as("cn"))

  /** Serve-quantizer inverted-list assignment (vec_id, cent_id, q, nrm):
    * best centroid per vector, ccos desc with cent_id ties — ONE copy of
    * the assignment math shared by `ann_ivf_cosine`, `ivf_probe_sweep`
    * and the raw + residual IVFADC compositions in [[PqOps]] (the
    * ivfSqlCtes discipline, engine side). Session-cached: this relation
    * IS the inverted index — the residual family alone references it
    * three times per query (residual projection, encode join-back,
    * candidate lists), and at scale a deployment holds the assignment,
    * not re-derives it per search. */
  private[queries] def ivfServeAssigned(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Util.cachedRelation(s, dir, "ivfServeAssigned", s"K=${ivfCentroids(s)}") {
      val e = quantizedBase(s, dir)
      // argmax via max_by — the lloydRows assign rewrite (map-side
      // combine, no sort; identical row by the total (ccos, −cent_id)
      // order)
      e.crossJoin(broadcast(ivfServeCents(s, dir)))
        .withColumn("ccos", dotQ(col("q"), col("cq")).cast("double") /
          sqrt((col("nrm") * col("cn")).cast("double")))
        .groupBy(col("vec_id"))
        .agg(max_by(struct(col("cent_id"), col("q"), col("nrm")),
          struct(col("ccos"), (-col("cent_id")).as("nid"))).as("m"))
        .select(col("vec_id"), col("m.cent_id"), col("m.q"), col("m.nrm"))
    }
  }

  /** Probe lists for the query set (query_id, qq, qn, cent_id, prn ≤
    * nprobe): the nprobe best centroids per query vector. */
  private[queries] def ivfServeProbes(s: SparkSession, dir: String,
      nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val queries = quantizedBase(s, dir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("nrm").as("qn"))
    queries.crossJoin(broadcast(ivfServeCents(s, dir)))
      .withColumn("ccos", dotQ(col("qq"), col("cq")).cast("double") /
        sqrt((col("qn") * col("cn")).cast("double")))
      .withColumn("prn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("ccos").desc, col("cent_id"))))
      .filter(col("prn") <= nprobe)
      .select(col("query_id"), col("qq"), col("qn"), col("cent_id"), col("prn"))
  }

  /** IVF-style ANN: a deterministic coarse quantizer (the first
    * [[ivfCentroids]] vectors by id serve as "centroids" — a real system
    * would k-means; the partition/probe shape is identical), every vector
    * assigned to its max-cosine centroid (inverted lists), queries probe
    * their [[ivfProbes]] nearest lists and rank only those members — the
    * other classic scale path besides LSH: candidate count ∝ corpus/nlist ×
    * nprobe, never all-pairs. All assignment and ranking on exact int64
    * dots with id tiebreaks. */
  private def annIvfCosine(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = ivfServeAssigned(s, dir)
    val probes = ivfServeProbes(s, dir, ivfProbes)
      .select(col("query_id"), col("qq"), col("qn"), col("cent_id"))
    // candidates = members of probed lists; rank top-5 per query
    val cand = probes.join(assigned, "cent_id")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", dotQ(col("qq"), col("q")).cast("double") /
        sqrt((col("qn") * col("nrm")).cast("double")))
    cand.withColumn("rk", row_number().over(
      Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"), col("cos"))
      .orderBy("query_id", "rk")
  }

  /** The e → cents → assigned WITH-chain of the IVF oracle family — ONE
    * copy of the quantize / quantizer-filter / argmax-assignment math,
    * parameterized only by the quantizer predicate: the serve family
    * (`ann_ivf_cosine`, `ivf_probe_sweep`, and the audits that embed
    * them) uses the first-[[ivfCentroids]] rule; the maintenance family
    * (`ivf_list_drift`, `kmeans_step`) uses the base-build rule
    * (vec_id < 10 ∧ % 5 ≠ 0). `assigned` carries every column any
    * consumer needs (vec_id, cent_id, q, nrm, cn, dot) — the
    * simhashSqlCtes discipline, so the four oracles can never drift. */
  private def ivfSqlCtes(centsWhere: String): String =
    s"""e AS (
       |  SELECT * FROM (
       |    SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm
       |    FROM (SELECT vec_id, $qvecSql AS q FROM embeddings))
       |  WHERE nrm > 0),
       |cents AS (SELECT vec_id AS cent_id, q AS cq, nrm AS cn FROM e WHERE $centsWhere),
       |assigned AS (
       |  SELECT vec_id, cent_id, q, nrm, cn, dot FROM (
       |    SELECT e.vec_id, c.cent_id, e.q, e.nrm, c.cn,
       |      CAST(list_sum(list_transform(range(len(e.q)), i -> e.q[i+1]*c.cq[i+1])) AS BIGINT) AS dot,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        CAST(CAST(list_sum(list_transform(range(len(e.q)), i -> e.q[i+1]*c.cq[i+1])) AS BIGINT) AS DOUBLE)
       |          / sqrt(CAST(e.nrm*c.cn AS DOUBLE)) DESC, c.cent_id) AS arn
       |    FROM e CROSS JOIN cents c)
       |  WHERE arn = 1)""".stripMargin
  private[queries] val ivfServeCtes = ivfSqlCtes(s"vec_id < $ivfCentroidsDefault")
  private val ivfMaintCtes = ivfSqlCtes("vec_id < 10 AND vec_id % 5 <> 0")

  private val annIvfCosineSql =
    s"""WITH $ivfServeCtes,
       |queries AS (SELECT vec_id AS query_id, q AS qq, nrm AS qn FROM e WHERE vec_id < 5),
       |probes AS (
       |  SELECT query_id, qq, qn, cent_id FROM (
       |    SELECT qu.query_id, qu.qq, qu.qn, c.cent_id,
       |      row_number() OVER (PARTITION BY qu.query_id ORDER BY
       |        CAST(CAST(list_sum(list_transform(range(len(qu.qq)), i -> qu.qq[i+1]*c.cq[i+1])) AS BIGINT) AS DOUBLE)
       |          / sqrt(CAST(qu.qn*c.cn AS DOUBLE)) DESC, c.cent_id) AS prn
       |    FROM queries qu CROSS JOIN cents c)
       |  WHERE prn <= $ivfProbes),
       |cand AS (
       |  SELECT p.query_id, a.vec_id,
       |    CAST(CAST(list_sum(list_transform(range(len(p.qq)), i -> p.qq[i+1]*a.q[i+1])) AS BIGINT) AS DOUBLE)
       |      / sqrt(CAST(p.qn*a.nrm AS DOUBLE)) AS cos
       |  FROM probes p JOIN assigned a ON p.cent_id = a.cent_id
       |  WHERE a.vec_id <> p.query_id)
       |SELECT query_id, rk, vec_id AS neighbor_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
       |  FROM cand)
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** IVF index-maintenance drift audit — the ANN analog of
    * `dedup_incremental` / `cc_incremental`: a deployed IVF index holds
    * its coarse quantizer fixed between retrains, so arriving vectors are
    * ASSIGNED to the existing lists, and the operational question is
    * whether those lists stay balanced or the quantizer needs retraining.
    * Base corpus = vec_id % 5 != 0 (the index build), increment =
    * vec_id % 5 == 0 (arrivals); the quantizer is the base's 8 lowest ids
    * (vec_id < 10 ∧ % 5 != 0 — held CONSTANT, the deployment invariant).
    * Output per list: base/increment member counts, growth_milli
    * (increment load relative to list size; NULL for an empty base list),
    * and corpus-share before/after in exact milli — the retrain trigger
    * reads share_after drift directly.
    *
    * Scale shape: one broadcast of 8 centroid vectors against the shared
    * session-cached [[quantizedBase]], a per-vector argmax window keyed by
    * vec_id (hash-partitioned, no skew — every vector emits exactly 8
    * scored rows), one 8-key aggregate, one scalar cross join. Exact
    * int64 dots, id tiebreaks, integer milli everywhere. */
  private def ivfListDrift(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = quantizedBase(s, dir)
    val cents = e.filter(col("vec_id") < 10 && col("vec_id") % 5 =!= 0)
      .select(col("vec_id").as("cent_id"), col("q").as("cq"), col("nrm").as("cn"))
    val scored = e.crossJoin(broadcast(cents))
      .withColumn("ccos", dotQ(col("q"), col("cq")).cast("double") /
        sqrt((col("nrm") * col("cn")).cast("double")))
    // argmax via max_by — the lloydRows assign rewrite (map-side
    // combine, no sort; identical row by the total (ccos, −cent_id)
    // order)
    val assigned = scored
      .groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"),
        struct(col("ccos"), (-col("cent_id")).as("nid"))).as("cent_id"))
      .select(col("cent_id"), (col("vec_id") % 5 === 0).as("is_inc"))
    val agg = assigned.groupBy("cent_id").agg(
      sum(when(!col("is_inc"), 1L).otherwise(0L)).as("n_base"),
      sum(when(col("is_inc"), 1L).otherwise(0L)).as("n_inc"))
    val tot = agg.agg(sum(col("n_base")).as("t_base"),
      sum(col("n_base") + col("n_inc")).as("t_all"))
    agg.crossJoin(tot) // scalar broadcast, the suite's standard pattern
      .select(col("cent_id"), col("n_base"), col("n_inc"),
        when(col("n_base") > 0,
          floor(lit(1000.0) * col("n_inc") / col("n_base")).cast("long"))
          .as("growth_milli"),
        floor(lit(1000.0) * col("n_base") / col("t_base")).cast("long")
          .as("share_before_milli"),
        floor(lit(1000.0) * (col("n_base") + col("n_inc")) / col("t_all"))
          .cast("long").as("share_after_milli"))
      .orderBy("cent_id")
  }

  private val ivfListDriftSql =
    s"""WITH $ivfMaintCtes,
       |flagged AS (SELECT cent_id, vec_id % 5 = 0 AS is_inc FROM assigned),
       |agg AS (
       |  SELECT cent_id,
       |    CAST(SUM(CASE WHEN is_inc THEN 0 ELSE 1 END) AS BIGINT) AS n_base,
       |    CAST(SUM(CASE WHEN is_inc THEN 1 ELSE 0 END) AS BIGINT) AS n_inc
       |  FROM flagged GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_base) AS BIGINT) AS t_base,
       |               CAST(SUM(n_base + n_inc) AS BIGINT) AS t_all FROM agg)
       |SELECT cent_id, n_base, n_inc,
       |  CASE WHEN n_base > 0
       |       THEN CAST(floor(1000.0 * n_inc / n_base) AS BIGINT) END
       |    AS growth_milli,
       |  CAST(floor(1000.0 * n_base / t_base) AS BIGINT) AS share_before_milli,
       |  CAST(floor(1000.0 * (n_base + n_inc) / t_all) AS BIGINT)
       |    AS share_after_milli
       |FROM agg CROSS JOIN tot ORDER BY cent_id""".stripMargin

  /** IVF nprobe tuning curve — recall vs candidate cost for nprobe 1..4
    * against the SAME index `ann_ivf_cosine` serves (vec_id < 8
    * quantizer): per nprobe, total probed candidates, brute-truth hits in
    * the re-ranked top-5, and overall recall in exact milli. This is the
    * knob-setting artifact an ANN deployment produces before fixing
    * nprobe ([[annRecallAudit]] grades the shipped probe-2 point; this
    * sweeps the curve so the 2 is a DECISION, not a default).
    *
    * One assignment pass and one probe-ranking pass serve all four curve
    * points: each candidate carries the probe rank of its (unique) list,
    * an explode over nprobe ∈ 1..4 keeps it for every setting ≥ that
    * rank, and the per-(nprobe, query) re-rank is window work on
    * candidate-sized data. Scale: candidates ∝ queries × corpus/nlist ×
    * nprobe — the sweep costs ~(1+2+3+4)/nprobe of the shipped path,
    * bounded, never all-pairs; everything reuses the session-cached
    * quantizedBase. */
  private def ivfProbeSweep(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = ivfServeAssigned(s, dir)
    val pr = ivfServeProbes(s, dir, 4)
    val cand = pr.join(assigned, "cent_id")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", dotQ(col("qq"), col("q")).cast("double") /
        sqrt((col("qn") * col("nrm")).cast("double")))
      .select(col("query_id"), col("vec_id"), col("prn"), col("cos"))
    // a vector lives in exactly one list, so prn IS the min nprobe that
    // reaches it — the explode keeps it for every setting >= that rank
    val sweep = cand
      .withColumn("nprobe", explode(array((1 to 4).map(lit(_)): _*)))
      .filter(col("prn") <= col("nprobe"))
    val counts = sweep.groupBy("nprobe").agg(count(lit(1)).as("n_candidates"))
    val top5 = sweep
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("nprobe"), col("query_id"))
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= 5)
      .select(col("nprobe"), col("query_id"), col("vec_id"))
    val brute = knnBruteCosine(s, dir).filter(col("rk") <= 5)
      .select(col("query_id").as("b_qid"), col("neighbor_id").as("b_nid"))
    val nTruth = brute.agg(count(lit(1)).as("n_truth"))
    val hits = top5.join(brute,
        col("query_id") === col("b_qid") && col("vec_id") === col("b_nid"))
      .groupBy("nprobe").agg(count(lit(1)).as("n_hits"))
    counts.join(hits, Seq("nprobe"), "left")
      .crossJoin(nTruth) // scalar broadcast
      .select(col("nprobe"), col("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        floor(lit(1000.0) * coalesce(col("n_hits"), lit(0L)) / col("n_truth"))
          .cast("long").as("recall_milli"))
      .orderBy("nprobe")
  }

  private val ivfProbeSweepSql =
    s"""WITH $ivfServeCtes,
       |qs AS (SELECT vec_id AS query_id, q AS qq, nrm AS qn FROM e WHERE vec_id < 5),
       |pr AS (
       |  SELECT query_id, qq, qn, cent_id, prn FROM (
       |    SELECT qu.query_id, qu.qq, qu.qn, c.cent_id,
       |      row_number() OVER (PARTITION BY qu.query_id ORDER BY
       |        CAST(CAST(list_sum(list_transform(range(len(qu.qq)), i -> qu.qq[i+1]*c.cq[i+1])) AS BIGINT) AS DOUBLE)
       |          / sqrt(CAST(qu.qn*c.cn AS DOUBLE)) DESC, c.cent_id) AS prn
       |    FROM qs qu CROSS JOIN cents c)
       |  WHERE prn <= 4),
       |cand AS (
       |  SELECT p.query_id, a.vec_id, p.prn,
       |    CAST(CAST(list_sum(list_transform(range(len(p.qq)), i -> p.qq[i+1]*a.q[i+1])) AS BIGINT) AS DOUBLE)
       |      / sqrt(CAST(p.qn*a.nrm AS DOUBLE)) AS cos
       |  FROM pr p JOIN assigned a USING (cent_id)
       |  WHERE a.vec_id <> p.query_id),
       |sweep AS (
       |  SELECT query_id, vec_id, cos, np AS nprobe
       |  FROM cand, UNNEST([1, 2, 3, 4]) t(np) WHERE prn <= np),
       |counts AS (SELECT nprobe, COUNT(*) AS n_candidates FROM sweep GROUP BY 1),
       |top5 AS (
       |  SELECT nprobe, query_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY nprobe, query_id
       |      ORDER BY cos DESC, vec_id) AS rk FROM sweep)
       |  WHERE rk <= 5),
       |brute AS (
       |  SELECT query_id AS b_qid, neighbor_id AS b_nid
       |  FROM ($knnBruteCosineSql) WHERE rk <= 5),
       |nt AS (SELECT COUNT(*) AS n_truth FROM brute),
       |hits AS (
       |  SELECT nprobe, COUNT(*) AS n_hits FROM top5
       |  JOIN brute ON query_id = b_qid AND vec_id = b_nid GROUP BY 1)
       |SELECT c.nprobe, CAST(c.n_candidates AS BIGINT) AS n_candidates,
       |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  CAST(floor(1000.0 * COALESCE(h.n_hits, 0) / n_truth) AS BIGINT)
       |    AS recall_milli
       |FROM counts c LEFT JOIN hits h USING (nprobe) CROSS JOIN nt
       |ORDER BY c.nprobe""".stripMargin

  /** One Lloyd (k-means) iteration from the fixed coarse quantizer — the
    * RETRAIN step the `ivf_list_drift` audit triggers: assign every vector
    * to its max-cosine centroid (the drift query's assignment, identical
    * tie rule), then per list report n_members, the exact int64 INERTIA to
    * the old centroid (Σ |q−c|² expanded as nrm − 2·q·c + cn — no
    * per-dimension explosion for the distance), and the squared SHIFT of
    * the recomputed centroid (per-dim integer mean via IEEE floor(Σ/n),
    * then exact integer Σ(new−old)²). A deployment loops this to
    * convergence; one audited step is the oracle-checkable unit, and
    * shift_sq ≈ 0 IS the "quantizer still fits" verdict.
    *
    * Scale shape: assignment is the 8-centroid broadcast argmax over the
    * session-cached base (WindowGroupLimit rank-1); inertia needs no dim
    * explosion; the centroid recompute explodes |members| × dim rows into
    * a map-side-combining (cent, dim) aggregate — dim-bounded output.
    * Lists with zero members drop from the report (nothing to recompute),
    * same as the oracle's inner joins. Double-exactness note: per-dim
    * sums are exact in IEEE double up to 2^53 (quantized units × corpus
    * size); beyond that a deployment swaps the mean to DECIMAL — the
    * oracle contract pins today's widths. */
  private def kmeansStep(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = quantizedBase(s, dir)
    val cents = e.filter(col("vec_id") < 10 && col("vec_id") % 5 =!= 0)
      .select(col("vec_id").as("cent_id"), col("q").as("cq"), col("nrm").as("cn"))
    val scored = e.crossJoin(broadcast(cents))
      .withColumn("dot", dotQ(col("q"), col("cq")))
      .withColumn("ccos", col("dot").cast("double") /
        sqrt((col("nrm") * col("cn")).cast("double")))
    // argmax as a map-side-combining max_by aggregate (K× fewer shuffled
    // rows, no sort) — same row as the former row_number()=1 window: the
    // (ccos, −cent_id) order is total and ccos never NULL on the nrm>0
    // base (the lloydRows assign rewrite, one round's worth)
    val assigned = scored
      .groupBy(col("vec_id"))
      .agg(max_by(
        struct(col("cent_id"), col("q"), col("nrm"), col("dot"), col("cn")),
        struct(col("ccos"), (-col("cent_id")).as("nid"))).as("m"))
      .select(col("m.cent_id"), col("m.q"), col("m.nrm"), col("m.dot"),
        col("m.cn"))
    val stats = assigned.groupBy("cent_id").agg(
      count(lit(1)).as("n_members"),
      sum(col("nrm") - lit(2L) * col("dot") + col("cn")).as("inertia"))
    val dims = assigned
      .select(col("cent_id"), posexplode(col("q")).as(Seq("d", "x")))
      .groupBy("cent_id", "d").agg(sum(col("x")).as("sx"))
    val nd = dims.join(stats.select(col("cent_id"), col("n_members")), "cent_id")
      .select(col("cent_id"), col("d"),
        floor(lit(1.0) * col("sx") / col("n_members")).cast("long").as("ndv"))
    val old = cents.select(col("cent_id"),
      posexplode(col("cq")).as(Seq("d", "ox")))
    val shift = nd.join(old, Seq("cent_id", "d"))
      .groupBy("cent_id")
      .agg(sum((col("ndv") - col("ox")) * (col("ndv") - col("ox")))
        .as("shift_sq"))
    stats.join(shift, "cent_id")
      .select(col("cent_id"), col("n_members"), col("inertia"), col("shift_sq"))
      .orderBy("cent_id")
  }

  private val kmeansStepSql =
    s"""WITH $ivfMaintCtes,
       |stats AS (
       |  SELECT cent_id, COUNT(*) AS n_members,
       |    CAST(SUM(nrm - 2*dot + cn) AS BIGINT) AS inertia
       |  FROM assigned GROUP BY 1),
       |dims AS (
       |  SELECT cent_id, i AS d, CAST(SUM(q[i+1]) AS BIGINT) AS sx
       |  FROM assigned, UNNEST(range(len(q))) t(i) GROUP BY 1, 2),
       |nd AS (
       |  SELECT cent_id, d, CAST(floor(1.0 * sx / n_members) AS BIGINT) AS ndv
       |  FROM dims JOIN stats USING (cent_id)),
       |old AS (
       |  SELECT cent_id, i AS d, cq[i+1] AS ox
       |  FROM cents, UNNEST(range(len(cq))) t(i)),
       |shift AS (
       |  SELECT cent_id, CAST(SUM((ndv-ox)*(ndv-ox)) AS BIGINT) AS shift_sq
       |  FROM nd JOIN old USING (cent_id, d) GROUP BY 1)
       |SELECT s.cent_id, CAST(n_members AS BIGINT) AS n_members, inertia, shift_sq
       |FROM stats s JOIN shift USING (cent_id) ORDER BY cent_id""".stripMargin

  /** The coarse quantizer's ACTUAL training loop — kmeans_step is one
    * audited Lloyd round; this runs [[kmeansTrainRoundsK]] of them (the
    * bpe_merge_rounds contract for the vector side): per round, assign
    * every vector to its max-cosine centroid (ccos DESC, cent_id ties —
    * the serve rule), report the round's L2 inertia against its INPUT
    * centroids, the live-centroid count, and how many assignments moved
    * since the previous round, then update each centroid to the floor-mean
    * of its members (per-(cent, dim) integer sums over n_members — the
    * kmeans_step update; memberless centroids keep their vector, the
    * pq_kmeans_step rule). Round 1 therefore equals kmeans_step's input
    * state exactly — KmeansTrainSpec pins the reconciliation — and the
    * inertia column is the convergence curve a retrain job monitors.
    *
    * Scale/lineage: assignments derive from the session-cached
    * quantizedBase; only the 8-row centroid relation crosses rounds, and
    * it crosses via localCheckpoint (the kcore/bpe discipline — an 8-row
    * eager action per round, no analyzer-exploding lineage), with each
    * superseded generation's checkpoint RDD released. Per-round driver
    * actions are the bounded-scalar class (one 2-column aggregate + one
    * count); results are session-cached so Verify/bench pay the loop
    * once. */
  private val kmeansTrainRoundsK = 4

  /** The ad-hoc (build-rule) seed set — `kmeans_train_rounds`' seed. */
  private def adhocSeed(s: SparkSession, dir: String): DataFrame =
    quantizedBase(s, dir)
      .filter(col("vec_id") < 10 && col("vec_id") % 5 =!= 0)
      .select(col("vec_id").as("cent_id"), col("q").as("cq"),
        col("nrm").as("cn"))

  /** The ad-hoc (build-rule) seeded trainer — `kmeans_train_rounds`'
    * loop, now one instantiation of [[lloydRows]]. */
  private def kmeansTrainRows(s: SparkSession, dir: String)
      : Seq[(Long, Long, Long, Option[Long])] =
    lloydRows(s, dir, Seq("adhoc" -> (() => adhocSeed(s, dir))))("adhoc")

  /** [[kmeansTrainRoundsK]] Lloyd rounds from arbitrary seed sets — per
    * arm, per round (round, inertia, n_active, n_moved). Results are
    * cached per (session, dir, armKey) as `kmeansTrain:<arm>` so
    * Verify/bench pay each arm's loop once.
    *
    * Uncached arms run FUSED (the round-16 verdict's loop fusion): seed
    * sets union under an `arm` tag, assignment ranks per (arm, vec_id),
    * metrics and centroid updates group by (arm, …) — so each round is
    * ONE assignment job + ONE metric collect + ONE moved count over
    * every arm instead of a sequential loop per arm, halving the
    * job count that dominates at small SF and the driver round-trips at
    * any scale. Per-arm math is unchanged by construction: ranking
    * within (arm = const, vec_id) IS the per-arm ranking, and every
    * aggregate carries arm in its key, so the fused loop's per-arm rows
    * equal the sequential loop's bit-for-bit. */
  private def lloydRows(s: SparkSession, dir: String,
      arms: Seq[(String, () => DataFrame)])
      : Map[String, Seq[(Long, Long, Long, Option[Long])]] = {
    def name(arm: String) = s"kmeansTrain:$arm"
    val resident = Util.cacheStats(s)
      .filter(c => c.dir == dir && c.resident).map(_.name).toSet
    // every arm not yet cached runs in ONE fused loop, built by the first
    // such arm's registry entry and read by the others'
    val missing = arms.filterNot(a => resident(name(a._1)))
    lazy val fused = lloydFused(s, dir, missing)
    arms.map { case (arm, seed) =>
      arm -> Util.cached(s, dir, name(arm), "")(
        if (missing.exists(_._1 == arm)) fused(arm)
        else lloydFused(s, dir, Seq(arm -> seed))(arm))
    }.toMap
  }

  private def lloydFused(s: SparkSession, dir: String,
      missing: Seq[(String, () => DataFrame)])
      : Map[String, Seq[(Long, Long, Long, Option[Long])]] = {
    val e = quantizedBase(s, dir)
    // argmax as ONE map-side-combining hash aggregate (max_by over the
    // (ccos, −cent_id) order — identical row to the former
    // row_number()=1 window: cent_id is unique within a (arm, vec_id)
    // group so the order is total, and ccos is never NULL/NaN on the
    // nrm>0 base), replacing Exchange+Sort+Window: the partial
    // aggregate combines the K scored rows per vector BEFORE the
    // shuffle, so K× fewer bytes cross the wire and no sort runs —
    // guide §2.3/§2.4 (measured in-suite: see OPTIMIZATION_r18.md).
    def assign(cents: DataFrame): DataFrame =
      e.crossJoin(broadcast(cents))
        .withColumn("dot", dotQ(col("q"), col("cq")))
        .withColumn("ccos", col("dot").cast("double") /
          sqrt((col("nrm") * col("cn")).cast("double")))
        .groupBy(col("arm"), col("vec_id"))
        .agg(max_by(
          struct(col("cent_id"), col("q"), col("nrm"), col("dot"),
            col("cn")),
          struct(col("ccos"), (-col("cent_id")).as("nid"))).as("m"))
        .select(col("arm"), col("vec_id"), col("m.cent_id"), col("m.q"),
          col("m.nrm"), col("m.dot"), col("m.cn"))
    var cents = missing
      .map { case (key, mk) => mk().withColumn("arm", lit(key)) }
      .reduce(_.unionByName(_))
    var prevCents: DataFrame = null
    var prevAssign: DataFrame = null
    val out = missing.map { case (key, _) =>
      key -> scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Option[Long])]
    }.toMap
    for (r <- 1 to kmeansTrainRoundsK) {
      // each round's assignment is persisted: it feeds the metric
      // aggregate, the NEXT round's moved-count join AND (twice) the
      // centroid update — uncached, every consumer re-ran the
      // crossJoin+argmax, i.e. ~4 corpus passes per round instead of 1
      // (the kppCents recompute trap, assignment-sized; measured in
      // ProfileQ as the Lloyd loop's dominant job count). Superseded
      // generations unpersist as soon as their last reader (the next
      // round's metric collect) is done.
      val a = assign(cents).persist()
      // moved-count rides the SAME aggregate as the metrics (one
      // driver action per round, not two): every vector is assigned
      // every round, so the inner join against the previous round's
      // assignment keeps all rows and the joined relation's inertia
      // equals the unjoined one
      val am = if (prevAssign == null) a.withColumn("pc", col("cent_id"))
        else a.join(prevAssign.select(col("arm"), col("vec_id"),
          col("cent_id").as("pc")), Seq("arm", "vec_id"))
      // groupBy(arm) drops arms whose assignment is empty (degenerate
      // corpora) — the map default keeps the sequential loop's
      // (0, 0, 0) row for them
      val st = am.groupBy(col("arm")).agg(
        coalesce(sum(col("nrm") - lit(2L) * col("dot") + col("cn")), lit(0L))
          .as("inertia"),
        countDistinct(col("cent_id")).as("n_active"),
        sum(when(col("cent_id") =!= col("pc"), 1L).otherwise(0L))
          .as("n_moved")).collect()
        .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2),
          x.getLong(3)))).toMap
        .withDefaultValue((0L, 0L, 0L))
      missing.foreach { case (key, _) =>
        out(key) += ((r.toLong, st(key)._1, st(key)._2,
          if (prevAssign == null) None else Some(st(key)._3)))
      }
      // the metric collect above was the previous assignment's last
      // reader (the centroid update below reads only this round's)
      if (prevAssign != null) prevAssign.unpersist(blocking = false)
      prevAssign = a
      // the LAST round's metrics are already recorded — its centroid
      // update would never be read, and it costs a full corpus-scale
      // aggregate + an eager checkpoint job (review finding: the SQL
      // oracle correctly generates only K−1 update rounds)
      if (r < kmeansTrainRoundsK) {
        // n_members still rides the SAME per-(arm, cent, d) aggregate
        // as the dimension sums (no separate count pass — the round-18
        // fusion), but the DIVISOR is the per-CENTROID member count,
        // not the per-dimension row count: on a dirty corpus with
        // ragged embedding arrays a dimension absent from some member
        // made count(*) within (arm, cent_id, d) smaller than the
        // member count, silently shifting that dimension's mean — the
        // round-19 fuzz gate caught rounds 2..4 of both trainer
        // queries diverging from the oracle (which divides every
        // dimension by the member count, as the pre-fusion code did).
        // Every member has dimension 0 (the nrm > 0 base excludes
        // empty vectors), so the d = 0 group's count IS the member
        // count, read in the pack aggregate and applied to every
        // dimension.
        val newC = a
          .select(col("arm"), col("cent_id"),
            posexplode(col("q")).as(Seq("d", "x")))
          .groupBy("arm", "cent_id", "d").agg(sum(col("x")).as("sx"),
            count(lit(1)).as("cnt"))
          .groupBy("arm", "cent_id").agg(
            max(when(col("d") === 0, col("cnt"))).as("n_members"),
            array_sort(collect_list(struct(col("d"), col("sx"))))
              .as("ws"))
          .select(col("arm"), col("cent_id"), expr(
            "transform(ws, w -> CAST(floor(1.0 * w.sx / n_members)" +
              " AS BIGINT))").as("nq"))
          .withColumn("nn", graft.functions.GraftFunctions
            .quantized_dot(col("nq"), col("nq")))
        val merged = cents
          .join(newC, Seq("arm", "cent_id"), "left")
          .select(col("arm"), col("cent_id"),
            coalesce(col("nq"), col("cq")).as("cq"),
            coalesce(col("nn"), col("cn")).as("cn"))
        if (prevCents != null) Util.unpersistDeep(prevCents)
        prevCents = cents
        cents = merged.localCheckpoint() // |arms|·8 rows, eager
      }
    }
    if (prevCents != null) Util.unpersistDeep(prevCents)
    Util.unpersistDeep(cents)
    // the final round's assignment has no reader past its metric row
    if (prevAssign != null) prevAssign.unpersist(blocking = false)
    out.map { case (key, buf) => key -> buf.toSeq }
  }

  private def kmeansTrainRounds(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    kmeansTrainRows(s, dir)
      .toDF("round", "inertia", "n_active", "n_moved")
      .orderBy("round")
  }

  /** Beam-width tuning curve for the graph serve — the graph family's
    * ivf_probe_sweep / minhash_band_sweep: HNSW deployments tune
    * ef_search (the beam width); this measures the recall-vs-cost curve
    * for beam ∈ 1..3 on the SAME graph [[annGraphGreedyAudit]] walks.
    * Pure beam search per hop: states ∪ their neighbors (self-loops keep
    * the current nodes candidates), DEDUP to distinct (query, node) —
    * a node's score does not depend on the path that reached it — then
    * keep the top-beam by (cos DESC, node ASC). After the same 3 hops:
    * the best landed node vs brute truth, and the surviving final
    * states (≤ beam; the cost side of the curve is structural —
    * candidates per hop ≤ beam·(degree+1)).
    *
    * Beam-1 differs from the greedy audit ONLY in the tie rule (pure
    * (cos, node) ranking vs the walk's stay-on-tie), so its final COSINE
    * is pinned equal to the greedy audit's in GraphGreedySpec — the
    * curves reconcile while each keeps its canonical semantics. All
    * three widths run as ONE unrolled single-reference chain with the
    * beam width as a DATA column (seeded by exploding the shared hop-1
    * pool, ranked per (bw, query) with rk ≤ bw): per-width chains cost
    * 3× the hop stages for identical results — the same
    * branches-as-data linearization lesson as the greedy walk, applied
    * across the sweep dimension. The oracle keeps its per-width CTE
    * chains (generated from the same loop; DuckDB CTEs are cheap). */
  private val beamWidths = Seq(1, 2, 3)

  /** SQL cosine between two quantized (q, nrm) pairs — the graph family's
    * shared expression builder (a def, so object-init order can't zero
    * it). */
  private def graphCosSql(q1: String, n1: String, q2: String, n2: String) =
    s"CAST(CAST(list_sum(list_transform(range(len($q1)), " +
      s"i -> $q1[i+1]*$q2[i+1])) AS BIGINT) AS DOUBLE) " +
      s"/ sqrt(CAST($n1*$n2 AS DOUBLE))"

  /** ONE copy of the graph-serve build, shared by the greedy audit and
    * the beam sweep oracles (the lshBandsCtes/ivfSqlCtes discipline —
    * review finding: the first cut duplicated this chain verbatim in both
    * oracles, exactly the drift risk the shared-constant rule exists
    * for): LSH candidate pairs → symmetric edges → top-degree graph →
    * self-loops → query set, entry rule, start state h0 (entry_id and a
    * zeroed moves column ride along; the beam chains simply don't select
    * them) and the rank-1 brute truth `nn`. Candidate pairs come from
    * `bandsok` — the maxLshBucket-capped band relation — so the oracle
    * graph mirrors the engine graph (which rides annLshCosine's capped
    * pair relation) even on a corpus where a bucket overflows the cap. */
  private val graphServeCtes =
    s"""p0 AS (
       |  SELECT a.vec_id a_id, b.vec_id b_id,
       |    ANY_VALUE(a.q) qa, ANY_VALUE(a.nrm) na,
       |    ANY_VALUE(b.q) qb, ANY_VALUE(b.nrm) nb
       |  FROM bandsok a JOIN bandsok b
       |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
       |  GROUP BY 1, 2),
       |pc AS (SELECT a_id, b_id, ${graphCosSql("qa", "na", "qb", "nb")} AS cos
       |       FROM p0),
       |ed AS (SELECT a_id AS node, b_id AS nbr, cos FROM pc
       |       UNION ALL SELECT b_id, a_id, cos FROM pc),
       |g AS (SELECT node, nbr FROM (
       |        SELECT node, nbr, row_number() OVER (PARTITION BY node
       |          ORDER BY cos DESC, nbr) AS rk FROM ed)
       |      WHERE rk <= $graphDegree),
       |g2 AS (SELECT node, nbr FROM g
       |       UNION ALL SELECT DISTINCT node, node FROM g),
       |qs AS (SELECT vec_id AS query_id, q AS qq, nrm AS qn FROM e
       |       WHERE vec_id < 5),
       |low2 AS (SELECT MIN(node) AS n1, MAX(node) AS n2 FROM (
       |           SELECT DISTINCT node FROM g2 ORDER BY node LIMIT 2)),
       |h0 AS (
       |  SELECT q.query_id, q.qq, q.qn,
       |    e.vec_id AS entry_id, e.vec_id AS cur,
       |    ${graphCosSql("q.qq", "q.qn", "e.q", "e.nrm")} AS ccos,
       |    CAST(0 AS BIGINT) AS moves
       |  FROM qs q CROSS JOIN low2 l
       |  JOIN e ON e.vec_id =
       |    CASE WHEN q.query_id = l.n1 THEN l.n2 ELSE l.n1 END),
       |tp AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    ${graphCosSql("a.q", "a.nrm", "b.q", "b.nrm")} AS cos
       |  FROM e a JOIN e b ON a.vec_id < 5 AND b.vec_id <> a.vec_id),
       |nn AS (SELECT query_id, neighbor_id AS true_nn_id, cos AS true_cos
       |       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |               ORDER BY cos DESC, neighbor_id) AS rk FROM tp)
       |       WHERE rk = 1)""".stripMargin

  /** Symmetric scored candidate edges (node, nbr, cos) off the capped
    * LSH pair relation — shared by the flat serve graph and the layered
    * audit's upper-layer graph. */
  private def graphScoredEdges(s: SparkSession, dir: String): DataFrame = {
    val p = annLshCosine(s, dir)
    p.select(col("a_id").as("node"), col("b_id").as("nbr"), col("cos"))
      .unionByName(
        p.select(col("b_id").as("node"), col("a_id").as("nbr"), col("cos")))
  }

  /** Top-[[graphDegree]] graph + self-loops over a scored edge relation —
    * ONE copy of the graph-build rule for every layer. */
  private def topDegreeGraph(ed: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = ed
      .withColumn("rk", row_number().over(
        Window.partitionBy("node").orderBy(col("cos").desc, col("nbr"))))
      .filter(col("rk") <= graphDegree).select("node", "nbr")
    g.unionByName(
      g.select(col("node")).distinct()
        .select(col("node"), col("node").as("nbr")))
  }

  /** Entry state for a walk on `graph`: each query starts at the graph's
    * lowest node (second-lowest if the query IS that node), entry_id and
    * a zeroed moves column riding along. */
  private def entryState(e: DataFrame, graph: DataFrame, qs: DataFrame)
      : DataFrame = {
    val low2 = graph.select("node").distinct().orderBy("node").limit(2)
      .agg(min("node").as("n1"), max("node").as("n2"))
    val en = e.select(col("vec_id").as("cur"), col("q").as("cq"),
      col("nrm").as("cn"))
    qs.crossJoin(broadcast(low2)) // two-scalar broadcast
      .withColumn("cur",
        when(col("query_id") === col("n1"), col("n2")).otherwise(col("n1")))
      .join(en, "cur")
      .select(col("query_id"), col("qq"), col("qn"), col("cur").as("entry_id"),
        col("cur"),
        (dotQ(col("qq"), col("cq")).cast("double") /
          sqrt((col("qn") * col("cn")).cast("double"))).as("ccos"),
        lit(0L).as("moves"))
  }

  /** The greedy strict-improvement walk, [[graphHops]] unrolled hops on
    * an arbitrary graph — the annGraphGreedyAudit loop factored so every
    * layer of the layered audit replays the identical rule.
    *
    * With `armed = true` the graph and state carry an `arm` tag column
    * and ONE walk serves every arm at once: the graph join also matches
    * on arm and the per-hop rank window partitions by (query_id, arm),
    * which is definitionally the same ranking each per-arm walk computes
    * alone — so an A/B pair of walks collapses to half the hop joins and
    * windows with bit-identical per-arm results (the round-16 verdict's
    * shared-walk rewrite). Unarmed callers get the exact pre-rewrite
    * plan: the arm branches add no nodes when `armed = false`. */
  private def greedyWalk(e: DataFrame, graph: DataFrame, h0: DataFrame,
      armed: Boolean = false): DataFrame = {
    val armCols = if (armed) Seq(col("arm")) else Nil
    val g = if (armed) graph.withColumnRenamed("arm", "g_arm") else graph
    var h = h0
    for (_ <- 1 to graphHops) {
      // per-hop argmax as a map-side-combining max_by aggregate over the
      // (ncos, stay-on-tie, −nbr) order — identical survivor to the
      // former row_number()=1 window (the order is total: nbr unique
      // within a (query, arm) candidate set), with the per-hop sort gone
      // and hop candidates combined BEFORE the exchange (the lloydRows
      // assign rewrite, per hop). qq/qn/entry_id/cur0/moves are constant
      // within the group and ride the argmax struct.
      h = h
        .select(Seq(col("query_id")) ++ armCols ++ Seq(col("qq"), col("qn"),
          col("entry_id"), col("cur").as("cur0"), col("moves")): _*)
        .join(g, if (armed)
          col("node") === col("cur0") && col("g_arm") === col("arm")
        else col("node") === col("cur0"))
        .filter(col("nbr") =!= col("query_id")) // cur0 ≠ query, loop survives
        .join(e.select(col("vec_id").as("nbr"), col("q").as("nq"),
          col("nrm").as("nn")), "nbr")
        .withColumn("ncos", dotQ(col("qq"), col("nq")).cast("double") /
          sqrt((col("qn") * col("nn")).cast("double")))
        .groupBy(col("query_id") +: armCols: _*)
        .agg(max_by(
          struct(col("qq"), col("qn"), col("entry_id"), col("nbr"),
            col("ncos"), col("cur0"), col("moves")),
          struct(col("ncos"), col("nbr") === col("cur0"),
            (-col("nbr")).as("nid"))).as("m"))
        .select(Seq(col("query_id")) ++ armCols ++ Seq(col("m.qq"),
          col("m.qn"), col("m.entry_id"), col("m.nbr").as("cur"),
          col("m.ncos").as("ccos"),
          (col("m.moves") +
            when(col("m.nbr") =!= col("m.cur0"), 1L).otherwise(0L))
            .as("moves")): _*)
    }
    h
  }

  /** Spark twin of [[graphServeCtes]]: (quantized base, cached self-loop
    * graph, start state h0 with entry_id + zeroed moves). */
  private def graphServeParts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val e = quantizedBase(s, dir)
    // the graph is node·degree-sized and read once per hop per consumer —
    // session-cached, keyed by the LSH knobs like the pair relation
    val g2 = Util.cachedRelation(s, dir, "greedyGraph",
      s"${lshBitsFor(s, dir)}_${maxLshBucket(s)}") {
      topDegreeGraph(graphScoredEdges(s, dir))
    }
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("nrm").as("qn"))
    (e, g2, entryState(e, g2, qs))
  }

  /** Rank-1 brute truth shared by the graph family's reconciliations. */
  private def bruteTruth(s: SparkSession, dir: String): DataFrame =
    knnBruteCosine(s, dir).filter(col("rk") === 1)
      .select(col("query_id"), col("neighbor_id").as("true_nn_id"),
        col("cos").as("true_cos"))

  private def annGraphBeamSweep(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (e, g2, h0full) = graphServeParts(s, dir)
    val h0 = h0full.select("query_id", "qq", "qn", "cur", "ccos")
    val wQ = Window.partitionBy("query_id")
      .orderBy(col("ncos").desc, col("nbr"))
    val wB = Window.partitionBy("bw", "query_id")
      .orderBy(col("ncos").desc, col("nbr"))
    // hop 1's candidate pool is BEAM-INDEPENDENT (all widths expand the
    // same single entry state), so the ranked pool is computed once and
    // session-cached; each width just cuts rk ≤ b from it. No distinct
    // needed at this hop: one state per query × g2's distinct neighbors.
    val hop1 = Util.cachedRelation(s, dir, "graphHop1",
      s"${lshBitsFor(s, dir)}_${maxLshBucket(s)}") {
      h0
        .join(g2, col("node") === col("cur"))
        .filter(col("nbr") =!= col("query_id"))
        .join(e.select(col("vec_id").as("nbr"), col("q").as("nq"),
          col("nrm").as("nn")), "nbr")
        .withColumn("ncos", dotQ(col("qq"), col("nq")).cast("double") /
          sqrt((col("qn") * col("nn")).cast("double")))
        .select(col("query_id"), col("qq"), col("qn"), col("nbr"),
          col("ncos"))
        .withColumn("rk", row_number().over(wQ))
    }
    // ONE chain for all widths: bw is a data column, the shared ranked
    // hop-1 pool seeds every width via rk <= bw, each hop references the
    // state once and ranks per (bw, query_id)
    var hb = hop1
      .withColumn("bw", explode(typedLit(beamWidths.map(_.toLong))))
      .filter(col("rk") <= col("bw"))
      .select(col("bw"), col("query_id"), col("qq"), col("qn"),
        col("nbr").as("cur"), col("ncos").as("ccos"))
    for (_ <- 2 to graphHops) {
      // path-independent: dedup (bw, query, node) BEFORE ranking. A
      // dense_rank form (rank duplicates as ties, dedup the ≤ bw
      // survivors) was tried in round 17 and measured SLOWER in
      // controlled pairs (+1.4 s both pairs at sf0.1): the pre-rank
      // distinct's partial aggregate combines duplicates map-side, so
      // both the shuffle bytes AND the window's sort input shrink —
      // worth more than the shuffle it costs, here and on a real
      // network.
      hb = hb
        .join(g2, col("node") === col("cur"))
        .filter(col("nbr") =!= col("query_id"))
        .join(e.select(col("vec_id").as("nbr"), col("q").as("nq"),
          col("nrm").as("nn")), "nbr")
        .withColumn("ncos", dotQ(col("qq"), col("nq")).cast("double") /
          sqrt((col("qn") * col("nn")).cast("double")))
        .select(col("bw"), col("query_id"), col("qq"), col("qn"),
          col("nbr"), col("ncos"))
        .distinct()
        .withColumn("rk", row_number().over(wB))
        .filter(col("rk") <= col("bw"))
        .select(col("bw"), col("query_id"), col("qq"), col("qn"),
          col("nbr").as("cur"), col("ncos").as("ccos"))
    }
    val wF = Window.partitionBy("bw", "query_id")
      .orderBy(col("ccos").desc, col("cur"))
    hb
      .withColumn("n_states", count(lit(1)).over(
        Window.partitionBy("bw", "query_id")))
      .withColumn("frk", row_number().over(wF))
      .filter(col("frk") === 1)
      .select(col("bw").as("beam_width"), col("query_id"),
        col("cur").as("final_id"), col("ccos").as("final_cos"),
        col("n_states"))
      .join(bruteTruth(s, dir), "query_id")
      .select(col("beam_width"), col("query_id"), col("final_id"),
        col("final_cos"), col("true_nn_id"),
        (col("final_id") === col("true_nn_id")).as("found_exact"),
        col("n_states"))
      .orderBy("beam_width", "query_id")
  }

  private val annGraphBeamSweepSql = {
    // hop 1 is beam-independent (every width expands the same entry
    // state): ONE ranked pool CTE, each width cuts rk <= b from it —
    // mirrors the session-cached hop1 relation on the Spark side
    val hop1 =
      s"""c1s AS (SELECT h.query_id, h.qq, h.qn, c.nbr,
         |          ${graphCosSql("h.qq", "h.qn", "e.q", "e.nrm")} AS ncos
         |        FROM h0 h JOIN g2 c ON c.node = h.cur
         |        JOIN e ON e.vec_id = c.nbr
         |        WHERE c.nbr <> h.query_id),
         |r1 AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |         ORDER BY ncos DESC, nbr) AS rk FROM c1s)""".stripMargin
    val chains = beamWidths.map { b =>
      val hops = (2 to graphHops).map { k =>
        s"""b${b}h$k AS (
           |  SELECT query_id, qq, qn, nbr AS cur, ncos AS ccos FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY ncos DESC, nbr) AS rk
           |    FROM (SELECT DISTINCT h.query_id, h.qq, h.qn, c.nbr,
           |            ${graphCosSql("h.qq", "h.qn", "e.q", "e.nrm")} AS ncos
           |          FROM b${b}h${k - 1} h JOIN g2 c ON c.node = h.cur
           |          JOIN e ON e.vec_id = c.nbr
           |          WHERE c.nbr <> h.query_id))
           |  WHERE rk <= $b)""".stripMargin
      }.mkString(",\n")
      s"""b${b}h1 AS (SELECT query_id, qq, qn, nbr AS cur, ncos AS ccos
         |           FROM r1 WHERE rk <= $b),
         |$hops,
         |f$b AS (
         |  SELECT CAST($b AS BIGINT) AS beam_width, query_id,
         |    cur AS final_id, ccos AS final_cos, n_states FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY ccos DESC, cur) AS frk,
         |      COUNT(*) OVER (PARTITION BY query_id) AS n_states
         |    FROM b${b}h$graphHops)
         |  WHERE frk = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $lshBandsCtes,
       |$graphServeCtes,
       |$hop1,
       |$chains,
       |allb AS (${beamWidths.map(b => s"SELECT * FROM f$b")
                    .mkString(" UNION ALL ")})
       |SELECT beam_width, query_id, final_id, final_cos, true_nn_id,
       |  final_id = true_nn_id AS found_exact,
       |  CAST(n_states AS BIGINT) AS n_states
       |FROM allb JOIN nn USING (query_id)
       |ORDER BY beam_width, query_id""".stripMargin
  }

  /** Unrolled round template generated from the same 1..k loop as the
    * driver loop (the bpeCtes discipline): a0/cents come from the shared
    * maintenance-quantizer CTE chain; each c$r is the floor-mean update
    * with memberless carry-over, each a$r the re-assignment. */
  private val kmeansTrainRoundsSql = {
    val rounds = (1 to kmeansTrainRoundsK - 1).map { r =>
      val prevA = if (r == 1) "assigned" else s"a${r - 1}"
      val prevC = if (r == 1) "cents" else s"c${r - 1}"
      s"""s$r AS (SELECT cent_id, COUNT(*) AS n_members FROM $prevA GROUP BY 1),
         |nd$r AS (
         |  SELECT cent_id, d, CAST(floor(1.0 * sx / n_members) AS BIGINT) AS ndv
         |  FROM (SELECT cent_id, i AS d, CAST(SUM(q[i+1]) AS BIGINT) AS sx
         |        FROM $prevA, UNNEST(range(len(q))) t(i) GROUP BY 1, 2)
         |  JOIN s$r USING (cent_id)),
         |c$r AS (
         |  SELECT c.cent_id, COALESCE(n.nq, c.cq) AS cq,
         |    COALESCE(n.nn, c.cn) AS cn
         |  FROM $prevC c LEFT JOIN (
         |    SELECT cent_id, nq,
         |      CAST(list_sum(list_transform(nq, x -> x*x)) AS BIGINT) AS nn
         |    FROM (SELECT cent_id, list(ndv ORDER BY d) AS nq
         |          FROM nd$r GROUP BY 1)) n USING (cent_id)),
         |a$r AS (
         |  SELECT vec_id, cent_id, q, nrm, cn, dot FROM (
         |    SELECT e.vec_id, c.cent_id, e.q, e.nrm, c.cn,
         |      CAST(list_sum(list_transform(range(len(e.q)), i -> e.q[i+1]*c.cq[i+1])) AS BIGINT) AS dot,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        CAST(CAST(list_sum(list_transform(range(len(e.q)), i -> e.q[i+1]*c.cq[i+1])) AS BIGINT) AS DOUBLE)
         |          / sqrt(CAST(e.nrm*c.cn AS DOUBLE)) DESC, c.cent_id) AS arn
         |    FROM e CROSS JOIN c$r c)
         |  WHERE arn = 1)""".stripMargin
    }.mkString(",\n")
    val metricRows = (1 to kmeansTrainRoundsK).map { r =>
      val aR = if (r == 1) "assigned" else s"a${r - 1}"
      val aPrev = if (r == 2) "assigned" else s"a${r - 2}"
      val movedExpr =
        if (r == 1) "CAST(NULL AS BIGINT)"
        else s"""(SELECT CAST(COUNT(*) AS BIGINT) FROM $aR x
                 |   JOIN $aPrev y USING (vec_id)
                 |   WHERE x.cent_id <> y.cent_id)""".stripMargin
      s"""SELECT CAST($r AS BIGINT) AS round,
         |  (SELECT CAST(COALESCE(SUM(nrm - 2*dot + cn), 0) AS BIGINT) FROM $aR) AS inertia,
         |  (SELECT CAST(COUNT(DISTINCT cent_id) AS BIGINT) FROM $aR) AS n_active,
         |  $movedExpr AS n_moved""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $ivfMaintCtes,
       |$rounds
       |$metricRows
       |ORDER BY round""".stripMargin
  }

  /** Measured recall@5 of the IVF ANN path against the brute-force
    * oracle — the ANN counterpart of `lsh_recall_audit`: the standard
    * accept/reject evidence for an approximate index (probe-2 over
    * sqrt-ish centroid lists trades recall for touching ~2/K of the
    * corpus; this query MEASURES the trade instead of asserting it).
    * Per query vector: how many of the exact top-5 neighbors the IVF
    * result contains, as exact milli recall (n_hits × 200).
    *
    * Scale: both inputs reuse the session-cached `quantizedBase`
    * relation (no recompute — LazyPlanSpec's cache contract), the join
    * is on (query_id, neighbor_id) — a 25-row × 25-row reconciliation
    * regardless of corpus size; the expensive parts are the audited
    * queries themselves. */
  private def annRecallAudit(s: SparkSession, dir: String): DataFrame = {
    val brute = knnBruteCosine(s, dir).filter(col("rk") <= 5)
      .select(col("query_id"), col("neighbor_id"))
    val ivf = annIvfCosine(s, dir)
      .select(col("query_id").as("i_qid"), col("neighbor_id").as("i_nid"))
    brute.join(ivf,
        col("query_id") === col("i_qid") && col("neighbor_id") === col("i_nid"),
        "left")
      .groupBy(col("query_id"))
      .agg(count(col("i_nid")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        (col("n_hits") * 200).as("recall_milli"))
      .orderBy("query_id")
  }

  private val annRecallAuditSql =
    s"""WITH brute AS (
       |  SELECT query_id, neighbor_id FROM ($knnBruteCosineSql) WHERE rk <= 5),
       |ivf AS (
       |  SELECT query_id AS i_qid, neighbor_id AS i_nid FROM ($annIvfCosineSql))
       |SELECT b.query_id,
       |  CAST(COUNT(i.i_nid) AS BIGINT) AS n_hits,
       |  CAST(COUNT(i.i_nid) * 200 AS BIGINT) AS recall_milli
       |FROM brute b LEFT JOIN ivf i
       |  ON i.i_qid = b.query_id AND i.i_nid = b.neighbor_id
       |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin

  /** Rank-sensitive retrieval quality of the IVF path against brute-force
    * ground truth: per query, MRR@5 and NDCG@5 in exact integer milli —
    * the metrics an embedding-retrieval eval reports beyond plain recall
    * ([[annRecallAudit]] counts set hits; a system that returns every true
    * neighbor but bottom-ranked scores the same there, while NDCG sees the
    * ordering). Graded relevance is the brute rank itself (rel = 6 − rk:
    * the true best neighbor is worth most), discounts come from a PINNED
    * integer-milli ⌊1000/log₂(rank+1)⌋ table written as the SAME constant
    * CASE in both engines — no libm call at query time, so cross-engine
    * float parity is structural, the quartiles_cont lesson applied to
    * NDCG. IDCG is data-driven (Σ rel·disc over the query's actual truth
    * rows), so short truth lists (tiny/dirty corpora) normalize correctly.
    *
    * Scale shape: two query-count-bounded aggregates over the component
    * outputs joined on (query_id, neighbor_id) — audit cost tracks
    * queries × k, never corpus size; both components reuse the
    * session-cached quantizedBase relation. */
  private def retrievalQualityAudit(s: SparkSession, dir: String): DataFrame = {
    def disc(rk: Column): Column =
      when(rk === 1, 1000L).when(rk === 2, 630L).when(rk === 3, 500L)
        .when(rk === 4, 430L).otherwise(386L)
    val gt = knnBruteCosine(s, dir).filter(col("rk") <= 5)
      .select(col("query_id"), col("neighbor_id"),
        (lit(6L) - col("rk")).cast("long").as("rel"), col("rk").as("gt_rk"))
    val idcg = gt.groupBy("query_id")
      .agg(sum(col("rel") * disc(col("gt_rk"))).as("idcg_milli"))
    val scored = annIvfCosine(s, dir)
      .select(col("query_id"), col("rk"), col("neighbor_id"))
      .join(gt.select(col("query_id"), col("neighbor_id"), col("rel")),
        Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("rk"), coalesce(col("rel"), lit(0L)).as("rel"))
    val m = scored.groupBy("query_id").agg(
      sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_hits"),
      min(when(col("rel") > 0, col("rk"))).as("first_hit"),
      sum(col("rel") * disc(col("rk"))).as("dcg_milli"))
    // idcg is the spine: a query whose IVF list came back empty (possible
    // on degenerate corpora) still reports, with all-zero metrics
    idcg.join(m, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("first_hit"), lit(0)).cast("long").as("first_hit_rank"),
        coalesce(floor(lit(1000) / col("first_hit")), lit(0L)).cast("long")
          .as("mrr_milli"),
        coalesce(col("dcg_milli"), lit(0L)).as("dcg_milli"),
        col("idcg_milli"),
        coalesce(floor(lit(1000.0) * col("dcg_milli") / col("idcg_milli")),
          lit(0L)).cast("long").as("ndcg_milli"))
      .orderBy("query_id")
  }

  private val retrievalQualityAuditSql =
    s"""WITH gt AS (
       |  SELECT query_id, neighbor_id, CAST(6 - rk AS BIGINT) AS rel, rk AS gt_rk
       |  FROM ($knnBruteCosineSql) WHERE rk <= 5),
       |idcg AS (
       |  SELECT query_id,
       |    CAST(SUM(rel * CASE gt_rk WHEN 1 THEN 1000 WHEN 2 THEN 630
       |             WHEN 3 THEN 500 WHEN 4 THEN 430 ELSE 386 END) AS BIGINT)
       |      AS idcg_milli
       |  FROM gt GROUP BY 1),
       |scored AS (
       |  SELECT r.query_id, r.rk, COALESCE(g.rel, 0) AS rel
       |  FROM ($annIvfCosineSql) r LEFT JOIN gt g
       |    ON g.query_id = r.query_id AND g.neighbor_id = r.neighbor_id),
       |m AS (
       |  SELECT query_id,
       |    CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |    MIN(CASE WHEN rel > 0 THEN rk END) AS first_hit,
       |    CAST(SUM(rel * CASE rk WHEN 1 THEN 1000 WHEN 2 THEN 630
       |             WHEN 3 THEN 500 WHEN 4 THEN 430 ELSE 386 END) AS BIGINT)
       |      AS dcg_milli
       |  FROM scored GROUP BY 1)
       |SELECT i.query_id,
       |  COALESCE(n_hits, 0) AS n_hits,
       |  CAST(COALESCE(first_hit, 0) AS BIGINT) AS first_hit_rank,
       |  CAST(COALESCE(floor(1000.0 / first_hit), 0) AS BIGINT) AS mrr_milli,
       |  COALESCE(dcg_milli, 0) AS dcg_milli,
       |  idcg_milli,
       |  CAST(COALESCE(floor(1000.0 * dcg_milli / idcg_milli), 0) AS BIGINT)
       |    AS ndcg_milli
       |FROM idcg i LEFT JOIN m USING (query_id)
       |ORDER BY query_id""".stripMargin

  /** Per-label corpus statistics in exact integers. */
  private def embeddingStats(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), qvec(col("embedding")).as("q"))
      .withColumn("nrm", dotQ(col("q"), col("q")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(size(col("q"))).as("min_dims"),
        max(size(col("q"))).as("max_dims"),
        sum(col("nrm")).as("sum_sq_norm"),
        min(col("vec_id")).as("min_vec_id"))
      .orderBy("label")
  }

  private val embeddingStatsSql =
    s"""SELECT label, COUNT(*) AS n_vecs,
       |  CAST(MIN(len(q)) AS INT) AS min_dims, CAST(MAX(len(q)) AS INT) AS max_dims,
       |  CAST(SUM(CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT)) AS BIGINT) AS sum_sq_norm,
       |  MIN(vec_id) AS min_vec_id
       |FROM (SELECT vec_id, label, $qvecSql AS q FROM embeddings)
       |GROUP BY label ORDER BY label""".stripMargin

  /** Embedding-cosine near-duplicate pairs: LSH candidates verified at a
    * high cosine threshold, with the smaller id as canonical — the
    * embedding-space member of the dedup family (SURVEY §7.5). τ is
    * corpus-relative: real near-dup corpora use ~0.98; this synthetic corpus
    * of random unit vectors tops out near 0.5, so τ=0.4 selects the extreme
    * tail. The cosine is bit-identical cross-engine (exact int64 dot/norm,
    * one IEEE divide+sqrt), so the cut is deterministic at the boundary. */
  private def dedupEmbeddingNeardup(s: SparkSession, dir: String): DataFrame = {
    annLshCosine(s, dir)
      .filter(col("cos") >= 0.4)
      .select(col("a_id").as("canonical_id"), col("b_id").as("dup_id"), col("cos"))
      .orderBy("canonical_id", "dup_id")
  }

  private val dedupEmbeddingNeardupSql =
    s"""SELECT a_id AS canonical_id, b_id AS dup_id, cos
       |FROM ($annLshCosineSql)
       |WHERE cos >= 0.4 ORDER BY canonical_id, dup_id""".stripMargin

  /** Per-label centroid of the quantized embeddings, one row per
    * (label, dim) — the k-means update step / class-prototype aggregate.
    * The vector explodes to (label, dim, component) and collapses in ONE
    * map-side-combining sum/count keyed (label, dim): output is
    * labels × dims however large the corpus, and there are no joins. The
    * mean stays exact: components are integer thousandths, the mean is
    * one IEEE double division + floor, identical in both engines (the
    * TextOps.milli contract). */
  private def labelCentroids(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "embeddings")
      .select(col("label"), posexplode(qvec(col("embedding"))).as(Seq("dim", "qx")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("qx")).as("sum_q"))
      .select(col("label"), col("dim"), col("n_vecs"), col("sum_q"),
        floor(col("sum_q") / col("n_vecs")).cast("long").as("mean_milli"))
      .orderBy("label", "dim")
  }

  private val labelCentroidsSql =
    s"""WITH e AS (SELECT label, $qvecSql AS q FROM embeddings),
       |x AS (
       |  SELECT label, CAST(i AS INT) AS dim, q[i+1] AS qx
       |  FROM e, UNNEST(range(len(q))) t(i))
       |SELECT label, dim, COUNT(*) AS n_vecs,
       |  CAST(SUM(qx) AS BIGINT) AS sum_q,
       |  CAST(floor(CAST(SUM(qx) AS BIGINT) / COUNT(*)) AS BIGINT) AS mean_milli
       |FROM x GROUP BY 1, 2 ORDER BY label, dim""".stripMargin

  /** Per-cluster doc cap for [[semanticDedup]]'s within-cluster pair join:
    * a cluster larger than this is dropped WHOLE (and logged via the
    * `graft_drop_*` observation) rather than fed to a quadratic verify.
    * 100 TB rationale: the within-cluster join is |cluster|² on ONE key —
    * the cap bounds it at ~5·10⁷ pairs per cluster. In production K scales
    * with the corpus (SemDeDup uses N/‹target size› clusters) so clusters
    * stay small; the cap is the guard-rail for a degenerate clustering.
    * Sized to never bind at test scale (≤ ~500 docs/cluster at sf0.1).
    * Session conf `graft.cap.semCluster` overrides per deployment. */
  val maxSemClusterDefault = 10000
  def maxSemCluster(s: SparkSession): Int =
    s.conf.getOption("graft.cap.semCluster").map(_.toInt)
      .getOrElse(maxSemClusterDefault)

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, public arXiv
    * 2303.09540): assign every vector to its nearest centroid, find
    * near-duplicate pairs ONLY within a cluster (the SemDeDup
    * approximation that makes embedding dedup tractable), and keep the
    * lowest-id member of each near-dup pair. Output is one row PER DOC
    * (vec_id, label, cluster, ccos = cosine to its centroid, keep) — the
    * decision table a corpus-prune job writes.
    *
    * Centroids are the per-label milli-means ([[labelCentroids]]'s exact
    * aggregate) assembled into vectors; K = |labels| here, standing in for
    * the k-means codebook — at a real deployment K ≈ N/‹target cluster
    * size› keeps clusters bounded and the plan identical. Determinism:
    * exact int64 dots/norms, cosine = one IEEE divide of one sqrt,
    * centroid argmax ties break on label asc, so both engines pick the
    * same cluster bit-for-bit. τ = 0.4 matches [[dedupEmbeddingNeardup]]
    * (corpus-relative: random unit vectors top out near 0.5).
    *
    * Scale shape: centroid build is one map-side-combining (label, dim)
    * aggregate; assignment is a BROADCAST of K centroid rows against a
    * corpus scan (row-local argmax, no shuffle); the pair join shuffles
    * once on cluster id with the [[maxSemCluster]] cap bounding the
    * quadratic; the keep flag is one anti-join back. No stage touches
    * more than O(corpus + pairs-within-caps) rows. */
  private def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), qvec(col("embedding")).as("q"))
      .withColumn("nrm", dotQ(col("q"), col("q")))
      .filter(col("nrm") > 0)
    // a NULL label is not a cluster: building a centroid from it would
    // give NULL-cluster assignments that a cluster-keyed equi-join (the
    // cap path) silently drops on one engine only — found by the fuzz
    // gate (seed 19). NULL-label VECTORS still flow through: they just
    // assign to a real centroid.
    val cen = e.filter(col("label").isNotNull)
      .select(col("label"), posexplode(col("q")).as(Seq("dim", "qx")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("qx")).as("sq"))
      .select(col("label"), col("dim"),
        floor(col("sq") / col("n")).cast("long").as("m"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        x => x.getField("m")).as("c"))
      .withColumn("cnrm", dotQ(col("c"), col("c")))
      .filter(col("cnrm") > 0)
      .select(col("label").as("cl"), col("c"), col("cnrm"))
    // tiebreak chain (ccos desc, cl, label): `label` disambiguates
    // duplicate vec_id rows (a dirty-corpus reality) whose scores tie, so
    // both engines keep the same row; asc_nulls_last matches DuckDB's
    // default NULL placement (Spark's asc default is nulls FIRST)
    val byVec = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cl"), col("label").asc_nulls_last)
    val assigned = e.crossJoin(broadcast(cen))
      .withColumn("ccos", dotQ(col("q"), col("c")).cast("double") /
        sqrt((col("nrm") * col("cnrm")).cast("double")))
      .withColumn("rk", row_number().over(byVec))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("label"), col("cl").as("cluster"),
        col("q"), col("nrm"), col("ccos"))
    // cluster-size cap as ONE window over the assignment (no second pass,
    // no sizes join — the first cut recomputed the whole assignment
    // subtree for a groupBy-sizes relation; the plan capture showed the
    // cross join + rank windows twice). The drop metric counts DOCS in
    // over-cap clusters, same value as summing the dropped cluster sizes.
    val withSz = assigned.withColumn("csz",
      count(lit(1)).over(Window.partitionBy(col("cluster"))))
    // LAZY persist through Util.cachedRelation: both pair-join sides and
    // the keep-flag base scan one capped relation (whose cache preserves
    // the cluster partitioning the pair join needs — its sides shuffle
    // zero times), and repeated in-session calls reuse it instead of
    // stacking InMemoryRelations (keyed on the cap so a retune rebuilds)
    val a2 = Util.cachedRelation(s, dir, "semanticDedupAssigned",
        s"semCluster=${maxSemCluster(s)}") {
      withDropMetric(s, withSz, "graft_drop_semantic_cluster",
          sum(when(col("csz") > maxSemCluster(s), 1L).otherwise(0L)))
        .filter(col("csz") <= maxSemCluster(s))
        .drop("csz")
    }
    val dropped = a2.select(col("cluster"), col("vec_id").as("a_id"),
        col("q").as("qa"), col("nrm").as("na"))
      .join(a2.select(col("cluster"), col("vec_id").as("b_id"),
        col("q").as("qb"), col("nrm").as("nb")), Seq("cluster"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", dotQ(col("qa"), col("qb")).cast("double") /
        sqrt((col("na") * col("nb")).cast("double")))
      .filter(col("cos") >= 0.4)
      .select(col("b_id").as("vec_id"))
      .distinct()
    a2.join(dropped.withColumn("dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("cluster"), col("ccos"),
        col("dup").isNull.as("keep"))
      .orderBy("vec_id")
  }

  private val semanticDedupSql =
    s"""WITH e AS (
       |  SELECT * FROM (
       |    SELECT vec_id, label, q,
       |      CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm
       |    FROM (SELECT vec_id, label, $qvecSql AS q FROM embeddings))
       |  WHERE nrm > 0),
       |cd AS (
       |  -- NULL label is not a cluster (its vectors still assign below)
       |  SELECT label, CAST(i AS INT) AS dim,
       |    CAST(floor(CAST(SUM(q[i+1]) AS BIGINT) / COUNT(*)) AS BIGINT) AS m
       |  FROM e, UNNEST(range(len(q))) t(i)
       |  WHERE label IS NOT NULL GROUP BY 1, 2),
       |cen AS (
       |  SELECT * FROM (
       |    SELECT label AS cl, c,
       |      CAST(list_sum(list_transform(c, x -> x*x)) AS BIGINT) AS cnrm
       |    FROM (SELECT label, list(m ORDER BY dim) AS c FROM cd GROUP BY 1))
       |  WHERE cnrm > 0),
       |scored AS (
       |  -- COALESCE(...,0): quantized_dot returns 0 (not NULL) when no
       |  -- element pair is non-NULL; mirror that exactly
       |  SELECT e.vec_id, e.label, e.q, e.nrm, c.cl,
       |    COALESCE(CAST(list_sum(list_transform(range(len(e.q)), i -> e.q[i+1]*c.c[i+1])) AS BIGINT), 0)
       |      / sqrt(CAST(e.nrm * c.cnrm AS DOUBLE)) AS ccos
       |  FROM e CROSS JOIN cen c),
       |asg AS (
       |  SELECT vec_id, label, q, nrm, cl AS cluster, ccos FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cl, label NULLS LAST) AS rk
       |    FROM scored)
       |  WHERE rk = 1),
       |dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE COALESCE(CAST(list_sum(list_transform(range(len(a.q)), i -> a.q[i+1]*b.q[i+1])) AS BIGINT), 0)
       |      / sqrt(CAST(a.nrm * b.nrm AS DOUBLE)) >= 0.4)
       |SELECT a.vec_id, a.label, a.cluster, a.ccos,
       |  d.vec_id IS NULL AS keep
       |FROM asg a LEFT JOIN dropped d ON a.vec_id = d.vec_id
       |ORDER BY a.vec_id""".stripMargin

  /** Label-noise audit (the Confident-Learning / cleanlab shape): for a
    * deterministic probe sample of labeled vectors, take the exact 5
    * nearest neighbors by cosine and compare the neighborhood's majority
    * label against the vector's own label — rows with `consistent = false`
    * are the candidate annotation errors a training pipeline re-reviews
    * or down-weights before fitting a classifier on the corpus.
    *
    * Determinism: scores are the exact int64 quantized dot over the shared
    * [[quantizedBase]] divided by the exact sqrt of the int64 norm product
    * (the knn_brute_cosine contract — both engines evaluate the identical
    * IEEE expression), rank ties break on vec_id, vote ties break on
    * (count desc, label asc). NULL-label vectors are excluded on BOTH
    * sides up front (a NULL vote key would hit the engines' opposite
    * NULL-ordering in the majority window — the fuzz-gate class), as are
    * zero-norm vectors (quantizedBase contract).
    *
    * Scale shape: probe set is a fixed 1-in-20 id sample (count-bounded
    * relative to the corpus; a deployment pins an absolute probe count the
    * same way), broadcast against the corpus exactly like knn_brute — the
    * candidate stream is |probes|·|corpus| rows with a bounded top-k per
    * probe, never corpus×corpus. At 100 TB the probe audit runs over the
    * ANN path instead (ann_recall_audit measures exactly what that
    * substitution costs in recall); the brute variant IS the ground-truth
    * defining the audit. Votes/majority are probe-count-sized. */
  /** Probe-sample modulus for [[knnLabelConsistency]]: audit every
    * vec_id ≡ 0 (mod this). The default 20 is what the oracle SQL pins;
    * a deployment at larger scale RAISES it to hold the absolute probe
    * count (and with it the |probes|·|corpus| candidate stream) constant —
    * that changes which rows are audited, so it diverges from the recorded
    * oracle by design (a sampling choice, not a semantics change — the
    * ccBucket-cap contract). Session conf `graft.knn.probeMod`. */
  def knnProbeMod(s: SparkSession): Int =
    s.conf.getOption("graft.knn.probeMod").map(_.toInt).getOrElse(20)

  private def knnLabelConsistency(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lab = t(s, dir, "embeddings").filter(col("label").isNotNull)
      .select(col("vec_id"), col("label"))
    val e = quantizedBase(s, dir).join(lab, "vec_id")
    val qs = e.filter(col("vec_id") % knnProbeMod(s) === 0)
      .select(col("vec_id").as("query_id"), col("label").as("own_label"),
        col("q").as("qq"), col("nrm").as("qn"))
    val joined = e.join(broadcast(qs), col("vec_id") =!= col("query_id"))
      .withColumn("cos", dotQ(col("qq"), col("q")).cast("double") /
        sqrt((col("qn") * col("nrm")).cast("double")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    val votes = joined.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .groupBy(col("query_id"), col("own_label"), col("label").as("nlabel"))
      .agg(count(lit(1)).as("n"))
    // majority pick AND the own-label vote count as two windows over the
    // SAME query_id partitioning — one exchange, and the expensive
    // probe×corpus candidate stream is evaluated once (a groupBy+join-back
    // formulation re-derives the whole vote tower per branch: Catalyst
    // shares no common subplans across self-references)
    val wv = Window.partitionBy("query_id").orderBy(col("n").desc, col("nlabel"))
    val wq = Window.partitionBy("query_id")
    votes
      .withColumn("rk", row_number().over(wv))
      .withColumn("n_agree", coalesce(
        max(when(col("nlabel") === col("own_label"), col("n"))).over(wq),
        lit(0L)))
      .filter(col("rk") === 1)
      .select(col("query_id").as("vec_id"), col("own_label"),
        col("nlabel").as("top_label"), col("n").as("n_top"), col("n_agree"),
        (col("nlabel") === col("own_label")).as("consistent"))
      .orderBy("vec_id")
  }

  private val knnLabelConsistencySql =
    s"""WITH e AS (
       |  SELECT * FROM (
       |    SELECT vec_id, label, q,
       |      CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm
       |    FROM (SELECT vec_id, label, $qvecSql AS q FROM embeddings
       |          WHERE label IS NOT NULL))
       |  WHERE nrm > 0),
       |top5 AS (
       |  SELECT * FROM (
       |    SELECT a.vec_id AS query_id, a.label AS own_label,
       |      b.vec_id AS nid, b.label AS nlabel,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        CAST(list_sum(list_transform(range(len(a.q)), i -> a.q[i+1]*b.q[i+1])) AS DOUBLE)
       |          / sqrt(CAST(a.nrm * b.nrm AS DOUBLE)) DESC, b.vec_id) AS rk
       |    FROM e a JOIN e b ON a.vec_id % 20 = 0 AND b.vec_id <> a.vec_id)
       |  WHERE rk <= 5),
       |votes AS (
       |  SELECT query_id, own_label, nlabel, COUNT(*) AS n
       |  FROM top5 GROUP BY 1, 2, 3),
       |maj AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY n DESC, nlabel) AS rk,
       |    CAST(COALESCE(MAX(CASE WHEN nlabel = own_label THEN n END)
       |      OVER (PARTITION BY query_id), 0) AS BIGINT) AS n_agree
       |  FROM votes)
       |SELECT query_id AS vec_id, own_label, nlabel AS top_label,
       |  n AS n_top, n_agree, nlabel = own_label AS consistent
       |FROM maj WHERE rk = 1
       |ORDER BY vec_id""".stripMargin

  /** Embedding-space decontamination — the third member of the
    * decontamination family (exact n-gram `decontaminate_ngrams`, bloom
    * `decontaminate_bloom`, and this SEMANTIC tier): a paraphrased or
    * lightly-reworded benchmark item shares no 8-gram with its source,
    * but its embedding still lands next to it — this gate catches the
    * overlap class the lexical tiers structurally cannot. Bench set =
    * the five held-out vectors vec_id ∈ {0,5,10,15,20} (the `% 5 = 0`
    * increment-id rule ∩ vec_id < 25 — eval items live OUTSIDE the
    * train corpus, so those ids are excluded from the scored side);
    * every train vector reports its nearest bench item (exact int64
    * dot cosine, ties to the lower bench id) and a contaminated verdict
    * at τ = 0.4 (corpus-relative, the dedup_embedding_neardup constant).
    *
    * Scale shape: the bench side is eval-suite-sized (thousands of rows
    * at worst) — ONE broadcast against a single scan of the session-
    * cached quantizedBase, argmax as a per-vec_id window (the IVF
    * assignment plan): no shuffle touches corpus×bench, and the verdict
    * lands in the same pass. The lexical tiers pre-filter at 100 TB
    * (bloom → exact); this tier runs on the survivors or on the
    * embedding ingest path beside `ivfAssignStream`. */
  private def decontaminateSemantic(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = quantizedBase(s, dir)
    val isBench = col("vec_id") % 5 === 0 && col("vec_id") < 25
    val bench = e.filter(isBench)
      .select(col("vec_id").as("bench_id"), col("q").as("bq"),
        col("nrm").as("bn"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("bench_id"))
    e.filter(!isBench).crossJoin(broadcast(bench))
      .withColumn("cos", dotQ(col("q"), col("bq")).cast("double") /
        sqrt((col("nrm") * col("bn")).cast("double")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("vec_id"), col("bench_id"), col("cos"),
        (col("cos") >= 0.4).as("contaminated"))
      .orderBy("vec_id")
  }

  private val decontaminateSemanticSql =
    s"""WITH e AS (
       |  SELECT * FROM (
       |    SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm
       |    FROM (SELECT vec_id, $qvecSql AS q FROM embeddings))
       |  WHERE nrm > 0),
       |bench AS (
       |  SELECT vec_id AS bench_id, q AS bq, nrm AS bn FROM e
       |  WHERE vec_id % 5 = 0 AND vec_id < 25),
       |scored AS (
       |  SELECT t.vec_id, b.bench_id,
       |    COALESCE(CAST(list_sum(list_transform(range(len(t.q)),
       |      i -> t.q[i+1]*b.bq[i+1])) AS BIGINT), 0)
       |      / sqrt(CAST(t.nrm * b.bn AS DOUBLE)) AS cos
       |  FROM (SELECT * FROM e WHERE NOT (vec_id % 5 = 0 AND vec_id < 25)) t
       |  CROSS JOIN bench b)
       |SELECT vec_id, bench_id, cos, cos >= 0.4 AS contaminated FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos DESC, bench_id) AS rk
       |  FROM scored)
       |WHERE rk = 1 ORDER BY vec_id""".stripMargin

  /** Multi-probe LSH audit (Lv et al., public VLDB 2007): instead of
    * widening recall by adding hash tables (more memory), probe the
    * buckets whose band signature differs from yours by ONE bit — the
    * classic memory/recall trade, here measured as a decision artifact:
    * per probe distance (0 = plain exact-bucket LSH, 1 = pairs ONLY
    * reachable via a 1-bit flip), the candidate-pair count and how many
    * verify at the τ = 0.4 near-dup threshold. A deployment reads the
    * probe-1 row as "recall bought" (extra τ-pairs) vs "cost paid"
    * (extra candidates) and decides whether multiprobe replaces a third
    * band.
    *
    * Scale shape: probing is an explode of the persisted bands relation
    * ×(bandBits+1) — the SAME bucket-keyed equi-join as the plain
    * candidate path, just with more probe rows on one side; flips are
    * symmetric (hamming(a,b)=1 ⟺ a XOR bit = b), so probing one join
    * side finds every pair. Verification is candidate-pair-sized. The
    * per-bucket cap story carries over unchanged (a production run
    * filters the probed side by the same okBuckets relation). Exact
    * int64 signatures and cosines throughout. */
  /** A-side probe sampling for [[lshMultiprobeAudit]]: probe only from
    * vec_id ≡ 0 (mod this). Default 1 = every vector (what the oracle
    * pins). At web-corpus scale the probe join carries (bandBits+1)× the
    * plain candidate mass — measured OOM at the 100× clustered ScaleGen
    * corpus with the full probe side — and the audit's RATIOS (extra τ
    * pairs per extra candidate) are what the decision needs, so a
    * deployment raises the modulus to audit a sample (the knnProbeMod
    * contract: a sampling choice that diverges from the recorded oracle
    * by design). Session conf `graft.lsh.probeMod`. */
  def lshProbeMod(s: SparkSession): Int =
    s.conf.getOption("graft.lsh.probeMod").map(_.toInt).getOrElse(1)

  private def lshMultiprobeAudit(s: SparkSession, dir: String): DataFrame = {
    val bands = lshBands(s, dir)
    val bandBits = lshBitsFor(s, dir) / 2
    val probeSrc = bands.filter(col("vec_id") % lshProbeMod(s) === 0)
    val exact = probeSrc.select(col("vec_id"), col("band"),
      col("sig").as("psig"), lit(-1).as("k"))
    val flipped = probeSrc.select(col("vec_id"), col("band"), col("sig"),
        explode(array((0 until bandBits).map(lit(_)): _*)).as("k"))
      .select(col("vec_id"), col("band"),
        expr("sig ^ shiftleft(CAST(1 AS BIGINT), k)").as("psig"), col("k"))
    // probe-TARGET buckets over the cap are dropped (and drop-logged) the
    // way the plain candidate path drops its oversized buckets: a probe
    // into a degenerate bucket would pay |bucket| rows per probe row.
    // Sized to never bind at verify scale, so the oracle is unchanged.
    val sizes = bands.groupBy(col("band"), col("sig")).agg(count(lit(1)).as("bk"))
    val ok = withDropMetric(s, sizes, "graft_drop_lsh_probe_bucket",
        sum(when(col("bk") > maxLshBucket(s), 1L).otherwise(0L)))
      .filter(col("bk") <= maxLshBucket(s))
      .select(col("band"), col("sig"))
    val targets = bands.join(ok, Seq("band", "sig"), "left_semi")
    val cand = exact.unionByName(flipped).as("p")
      .join(targets.as("b"),
        col("p.band") === col("b.band") && col("p.psig") === col("b.sig") &&
          col("p.vec_id") < col("b.vec_id"))
      .groupBy(col("p.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .agg(min(when(col("p.k") === -1, 0).otherwise(1)).as("probe_dist"))
    val e = quantizedBase(s, dir)
    cand
      .join(e.select(col("vec_id").as("a_id"), col("q").as("qa"),
        col("nrm").as("na")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("q").as("qb"),
        col("nrm").as("nb")), "b_id")
      .withColumn("cos", dotQ(col("qa"), col("qb")).cast("double") /
        sqrt((col("na") * col("nb")).cast("double")))
      .groupBy(col("probe_dist"))
      .agg(count(lit(1)).as("n_candidate_pairs"),
        sum(when(col("cos") >= 0.4, 1L).otherwise(0L)).as("n_tau_pairs"))
      .orderBy("probe_dist")
  }

  private val lshMultiprobeAuditSql =
    s"""WITH $lshBandsCtes,
       |probes AS (
       |  SELECT vec_id, band, sig AS psig, -1 AS k FROM bands
       |  UNION ALL
       |  SELECT vec_id, band, xor(sig, CAST(1 AS BIGINT) << k) AS psig, CAST(k AS INT) AS k
       |  FROM bands, UNNEST(range(${lshBits / 2})) t(k)),
       |cand AS (
       |  SELECT p.vec_id AS a_id, b.vec_id AS b_id,
       |    MIN(CASE WHEN p.k = -1 THEN 0 ELSE 1 END) AS probe_dist
       |  FROM probes p JOIN bands b
       |    ON p.band = b.band AND p.psig = b.sig AND p.vec_id < b.vec_id
       |  GROUP BY 1, 2),
       |ver AS (
       |  SELECT c.probe_dist,
       |    CASE WHEN COALESCE(CAST(list_sum(list_transform(range(len(a.q)),
       |        i -> a.q[i+1]*b2.q[i+1])) AS BIGINT), 0)
       |        / sqrt(CAST(a.nrm * b2.nrm AS DOUBLE)) >= 0.4
       |      THEN 1 ELSE 0 END AS is_tau
       |  FROM cand c JOIN e a ON a.vec_id = c.a_id
       |  JOIN e b2 ON b2.vec_id = c.b_id)
       |SELECT probe_dist, COUNT(*) AS n_candidate_pairs,
       |  CAST(SUM(is_tau) AS BIGINT) AS n_tau_pairs
       |FROM ver GROUP BY 1 ORDER BY probe_dist""".stripMargin

  /** The brute-force ground-truth top-5 (query_id, neighbor_id) set shared
    * by every serve-path recall audit in this file. */
  private def bruteTruth5(s: SparkSession, dir: String): DataFrame =
    knnBruteCosine(s, dir).filter(col("rk") <= 5)
      .select(col("query_id"), col("neighbor_id"))

  private val bruteTruth5Sql =
    s"SELECT query_id, neighbor_id FROM ($knnBruteCosineSql) WHERE rk <= 5"

  /** Recall audit for SYMMETRIC int8 scalar quantization (SQ8) — the
    * cheapest embedding compression a serving index applies before PQ:
    * one global scale gmax = max |component| over the corpus, every
    * component mapped to ⌊x·127/gmax⌋ ∈ [−127, 127]. Dot products on the
    * int8 grid stay EXACT int64 sums, so the audit is engine-deterministic
    * end to end: the only doubles are the one correctly-rounded division
    * inside the quantizer (exact-int numerator/denominator → IEEE-identical
    * in both engines) and the final cosine.
    *
    * Measures top-5 recall of the SQ8 ranking against the full milli-grid
    * ground truth ([[bruteTruth5]]) per query — the float-vs-int8 quality
    * check an embedding-serving deployment runs before switching storage to
    * 1 byte/dim (16× smaller than float16 PQ input, 4× smaller than the
    * milli grid).
    *
    * Scale shape: gmax is one scalar aggregate broadcast back (the scalar-
    * subquery pattern); quantization is a narrow projection; ranking is the
    * brute broadcast-join family. At 100 TB the same audit runs on a SAMPLE
    * of queries — cost is queries × corpus, independent of this plan. */
  private def sq8RecallAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = quantizedBase(s, dir)
    val g = e.agg(max(array_max(transform(col("q"), x => abs(x)))).as("gmax"))
    val e8 = e.crossJoin(broadcast(g))
      .select(col("vec_id"),
        transform(col("q"), x => floor(x * 127 / col("gmax")).cast("long")).as("q8"))
      .withColumn("n8", dotQ(col("q8"), col("q8")))
      .filter(col("n8") > 0)
    val queries = e8.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_qid"), col("q8").as("qq"), col("n8").as("qn"))
    val ranked = e8.join(broadcast(queries), col("vec_id") =!= col("q_qid"))
      .withColumn("cos8", dotQ(col("qq"), col("q8")).cast("double") /
        sqrt((col("qn") * col("n8")).cast("double")))
      .withColumn("rk", row_number().over(Window.partitionBy(col("q_qid"))
        .orderBy(col("cos8").desc, col("vec_id"))))
      .filter(col("rk") <= 5)
      .select(col("q_qid"), col("vec_id").as("s_nid"))
    bruteTruth5(s, dir)
      .join(ranked, col("query_id") === col("q_qid") &&
        col("neighbor_id") === col("s_nid"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("s_nid")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        (col("n_hits") * 200).as("recall_milli"))
      .orderBy("query_id")
  }

  private val sq8RecallAuditSql =
    s"""WITH e AS (
       |  SELECT * FROM (
       |    SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm
       |    FROM (SELECT vec_id, $qvecSql AS q FROM embeddings))
       |  WHERE nrm > 0),
       |g AS (SELECT MAX(list_max(list_transform(q, x -> abs(x)))) AS gmax FROM e),
       |e8 AS (
       |  SELECT * FROM (
       |    SELECT vec_id, q8,
       |      CAST(list_sum(list_transform(q8, x -> x*x)) AS BIGINT) AS n8
       |    FROM (
       |      SELECT vec_id,
       |        list_transform(q, x -> CAST(floor(CAST(x*127 AS DOUBLE)/gmax) AS BIGINT)) AS q8
       |      FROM e CROSS JOIN g))
       |  WHERE n8 > 0),
       |ranked AS (
       |  SELECT q_qid, s_nid FROM (
       |    SELECT a.vec_id AS q_qid, b.vec_id AS s_nid,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        CAST(CAST(list_sum(list_transform(range(len(a.q8)), i -> a.q8[i+1]*b.q8[i+1])) AS BIGINT) AS DOUBLE)
       |          / sqrt(CAST(a.n8*b.n8 AS DOUBLE)) DESC, b.vec_id) AS rk
       |    FROM e8 a JOIN e8 b ON a.vec_id < 5 AND b.vec_id <> a.vec_id)
       |  WHERE rk <= 5)
       |SELECT t.query_id,
       |  CAST(COUNT(r.s_nid) AS BIGINT) AS n_hits,
       |  CAST(COUNT(r.s_nid) * 200 AS BIGINT) AS recall_milli
       |FROM ($bruteTruth5Sql) t LEFT JOIN ranked r
       |  ON r.q_qid = t.query_id AND r.s_nid = t.neighbor_id
       |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin

  /** Matryoshka (MRL-style) dimension-truncation recall audit: rank by
    * cosine over only the FIRST L components (L ∈ {16, 32, 64} of the
    * 64-dim corpus) and measure top-5 recall against the full-dim ground
    * truth — the curve a retrieval deployment reads before serving
    * truncated embeddings at L·4 bytes/vector. L = 64 is the structural
    * sanity row (recall ≡ 1000: identical ranking by construction).
    *
    * All-integer slices of the shared milli-quantized base; per-level
    * ranking is the brute broadcast-join family, so audit cost is
    * levels × queries × corpus with no shuffle beyond the final tiny
    * per-level aggregate. Zero-norm SLICES (a vector whose first L
    * components are all zero) are filtered like the base's zero-norm rule —
    * cosine is undefined there, on both sides of the oracle. */
  private def matryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = quantizedBase(s, dir)
    val sliced = Seq(16, 32, 64).map { l =>
      e.select(lit(l).as("level"), col("vec_id"), slice(col("q"), 1, l).as("qs"))
    }.reduce(_ unionAll _)
      .withColumn("ns", dotQ(col("qs"), col("qs")))
      .filter(col("ns") > 0)
    val queries = sliced.filter(col("vec_id") < 5)
      .select(col("level").as("q_level"), col("vec_id").as("q_qid"),
        col("qs").as("qq"), col("ns").as("qn"))
    val ranked = sliced.join(broadcast(queries),
        col("level") === col("q_level") && col("vec_id") =!= col("q_qid"))
      .withColumn("cosl", dotQ(col("qq"), col("qs")).cast("double") /
        sqrt((col("qn") * col("ns")).cast("double")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("level"), col("q_qid"))
          .orderBy(col("cosl").desc, col("vec_id"))))
      .filter(col("rk") <= 5)
      .select(col("level").as("r_level"), col("q_qid"), col("vec_id").as("s_nid"))
    import s.implicits._
    val levels = Seq(16, 32, 64).toDF("level")
    // drive from levels × truth so a level with zero hits still emits its
    // row (recall 0), and n_truth normalizes short truth lists exactly
    bruteTruth5(s, dir).crossJoin(broadcast(levels))
      .join(ranked, col("level") === col("r_level") &&
        col("query_id") === col("q_qid") &&
        col("neighbor_id") === col("s_nid"), "left")
      .groupBy(col("level"))
      .agg(count(lit(1)).as("n_truth"), count(col("s_nid")).as("n_hits"))
      .select(col("level"), col("n_truth"), col("n_hits"),
        expr("(n_hits * 1000) div n_truth").as("recall_milli"))
      .orderBy("level")
  }

  private val matryoshkaRecallSql = {
    val slices = Seq(16, 32, 64).map(l =>
      s"SELECT $l AS level, vec_id, q[1:$l] AS qs FROM e").mkString("\n  UNION ALL ")
    s"""WITH e AS (
       |  SELECT * FROM (
       |    SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm
       |    FROM (SELECT vec_id, $qvecSql AS q FROM embeddings))
       |  WHERE nrm > 0),
       |sliced AS (
       |  SELECT * FROM (
       |    SELECT level, vec_id, qs,
       |      CAST(list_sum(list_transform(qs, x -> x*x)) AS BIGINT) AS ns
       |    FROM ($slices))
       |  WHERE ns > 0),
       |ranked AS (
       |  SELECT level AS r_level, q_qid, s_nid FROM (
       |    SELECT a.level, a.vec_id AS q_qid, b.vec_id AS s_nid,
       |      row_number() OVER (PARTITION BY a.level, a.vec_id ORDER BY
       |        CAST(CAST(list_sum(list_transform(range(len(a.qs)), i -> a.qs[i+1]*b.qs[i+1])) AS BIGINT) AS DOUBLE)
       |          / sqrt(CAST(a.ns*b.ns AS DOUBLE)) DESC, b.vec_id) AS rk
       |    FROM sliced a JOIN sliced b
       |      ON a.level = b.level AND a.vec_id < 5 AND b.vec_id <> a.vec_id)
       |  WHERE rk <= 5),
       |levels AS (SELECT UNNEST([16, 32, 64]) AS level)
       |SELECT l.level,
       |  CAST(COUNT(*) AS BIGINT) AS n_truth,
       |  CAST(COUNT(r.s_nid) AS BIGINT) AS n_hits,
       |  (COUNT(r.s_nid) * 1000) // COUNT(*) AS recall_milli
       |FROM ($bruteTruth5Sql) t CROSS JOIN levels l
       |LEFT JOIN ranked r
       |  ON r.r_level = l.level AND r.q_qid = t.query_id AND r.s_nid = t.neighbor_id
       |GROUP BY l.level ORDER BY l.level""".stripMargin
  }

  /** Reciprocal-rank fusion (RRF, k = 60) of the two retrieval modalities
    * the engine serves — the BM25 lexical ranking over `documents`
    * ([[TextOps.bm25Ranked]]) and the embedding-cosine ranking over
    * `embeddings` ([[knnBruteCosine]]), joined on the shared id space —
    * the standard hybrid-search merge (Cormack et al.: score =
    * Σ_lists 1/(k + rank)), in exact integer micro: 1000000 div (60+rk).
    *
    * Queries are ids 0..2 (present in both modalities' query sets); each
    * list contributes its top 10. A candidate found by only one modality
    * scores that one contribution — the full-outer shape, with absent ranks
    * surfaced as rk 0 (not NULL: nullable-int columns round-trip as float64
    * in the driver compare).
    *
    * Scale shape: fusion itself touches only queries × k rows — the
    * component rankings dominate and both already have bounded-candidate
    * scale paths (inverted postings for BM25, IVF/LSH for vectors). */
  private def rrfHybridTopk(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val txt = TextOps.bm25Ranked(s, dir)
      .filter(col("query_id") < 3 && col("rk") <= 10)
      .select(col("query_id").as("t_qid"), col("doc_id").as("t_cid"),
        col("rk").as("rk_text"))
    val vec = knnBruteCosine(s, dir)
      .filter(col("query_id") < 3 && col("rk") <= 10)
      .select(col("query_id").as("v_qid"), col("neighbor_id").as("v_cid"),
        col("rk").as("rk_vec"))
    val fused = txt.join(vec,
        col("t_qid") === col("v_qid") && col("t_cid") === col("v_cid"),
        "full_outer")
      .select(
        coalesce(col("t_qid"), col("v_qid")).as("query_id"),
        coalesce(col("t_cid"), col("v_cid")).as("cand_id"),
        coalesce(col("rk_text"), lit(0)).as("rk_text"),
        coalesce(col("rk_vec"), lit(0)).as("rk_vec"))
      .withColumn("rrf_micro",
        expr("""CASE WHEN rk_text > 0 THEN 1000000 div (60 + rk_text) ELSE 0 END
              + CASE WHEN rk_vec > 0 THEN 1000000 div (60 + rk_vec) ELSE 0 END"""))
    fused.withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("rrf_micro").desc, col("cand_id"))))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("cand_id"), col("rk_text"),
        col("rk_vec"), col("rrf_micro"))
      .orderBy("query_id", "rk")
  }

  private val rrfHybridTopkSql =
    s"""WITH ${TextOps.bm25RankedCtes},
       |txt AS (
       |  SELECT query_id AS t_qid, doc_id AS t_cid, rk AS rk_text
       |  FROM bm25ranked WHERE query_id < 3 AND rk <= 10),
       |vec AS (
       |  SELECT query_id AS v_qid, neighbor_id AS v_cid, rk AS rk_vec
       |  FROM ($knnBruteCosineSql) WHERE query_id < 3 AND rk <= 10),
       |fused AS (
       |  SELECT COALESCE(t_qid, v_qid) AS query_id,
       |    COALESCE(t_cid, v_cid) AS cand_id,
       |    CAST(COALESCE(rk_text, 0) AS INT) AS rk_text,
       |    CAST(COALESCE(rk_vec, 0) AS INT) AS rk_vec,
    -- CAST: DuckDB int literals are INT32 and // preserves width; Spark div is BIGINT
       |    CAST(CASE WHEN COALESCE(rk_text, 0) > 0 THEN 1000000 // (60 + rk_text) ELSE 0 END
       |     + CASE WHEN COALESCE(rk_vec, 0) > 0 THEN 1000000 // (60 + rk_vec) ELSE 0 END
       |      AS BIGINT) AS rrf_micro
       |  FROM txt FULL OUTER JOIN vec ON t_qid = v_qid AND t_cid = v_cid)
       |SELECT query_id, rk, cand_id, rk_text, rk_vec, rrf_micro FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf_micro DESC, cand_id) AS INT) AS rk FROM fused)
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** Per-dimension moment profile + anisotropy ratio of the embedding
    * corpus — the geometry diagnostic behind every cosine-based stage: a
    * few dominant dimensions (high max/min variance ratio) mean cosine is
    * effectively measured in a low-rank subspace — LSH hyperplanes waste
    * bits, PQ subspaces carry unequal loads, and Matryoshka truncation
    * quality depends on WHERE the variance sits. Per dim: count, floored
    * mean and variance of the milli-quantized components (exact integer
    * sums; the only doubles are the identical division sequence in both
    * engines), plus the corpus-wide anisotropy ratio max_var·1000 div
    * min_var (NULL when some dimension is constant — no ratio exists).
    *
    * Scale shape: one posexplode over the session-cached base into a
    * dim-keyed (≤ 64 groups) map-side-combined aggregate; the window runs
    * over 64 rows. Corpus contributes one narrow pass, nothing else. */
  private def embeddingAnisotropy(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = quantizedBase(s, dir)
      .select(posexplode(col("q")).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("v")).as("s"),
        sum(col("v") * col("v")).as("sq"))
    val meanD = col("s").cast("double") / col("n_vecs")
    val m = per
      .withColumn("mean_q", floor(meanD).cast("long"))
      .withColumn("var_q",
        floor(col("sq").cast("double") / col("n_vecs") - meanD * meanD)
          .cast("long"))
    val w = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    m.withColumn("max_var", max(col("var_q")).over(w))
      .withColumn("min_var", min(col("var_q")).over(w))
      .select(col("dim"), col("n_vecs"), col("mean_q"), col("var_q"),
        when(col("min_var") > 0,
          expr("(max_var * 1000) div min_var")).as("anisotropy_milli"))
      .orderBy("dim")
  }

  private val embeddingAnisotropySql =
    s"""WITH e AS (
       |  SELECT * FROM (
       |    SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm
       |    FROM (SELECT vec_id, $qvecSql AS q FROM embeddings))
       |  WHERE nrm > 0),
       |d AS (SELECT CAST(t.i AS INT) AS dim, q[t.i+1] AS v
       |      FROM e, UNNEST(range(len(q))) t(i)),
       |per AS (
       |  SELECT dim, COUNT(*) AS n_vecs,
       |    CAST(SUM(v) AS BIGINT) AS s, CAST(SUM(v*v) AS BIGINT) AS sq
       |  FROM d GROUP BY 1),
       |m AS (
       |  SELECT dim, n_vecs,
       |    CAST(floor(CAST(s AS DOUBLE)/n_vecs) AS BIGINT) AS mean_q,
       |    CAST(floor(CAST(sq AS DOUBLE)/n_vecs
       |      - (CAST(s AS DOUBLE)/n_vecs)*(CAST(s AS DOUBLE)/n_vecs)) AS BIGINT) AS var_q
       |  FROM per)
       |SELECT dim, n_vecs, mean_q, var_q,
       |  CASE WHEN MIN(var_q) OVER () > 0
       |    THEN (MAX(var_q) OVER () * 1000) // (MIN(var_q) OVER ()) END AS anisotropy_milli
       |FROM m ORDER BY dim""".stripMargin

  /** One audited POWER-ITERATION step toward the corpus's dominant
    * principal direction — the PCA companion of [[kmeansStep]] (audited
    * Lloyd step) and the follow-up [[embeddingAnisotropy]] motivates: when
    * the variance ratio says the corpus is anisotropic, THIS is the
    * direction carrying it. v₁ ∝ Σᵢ (xᵢ·v₀)·xᵢ from the PINNED start
    * v₀ = e₀ (uncentered second moment — the dominant direction of XᵀX):
    *
    *  - weights w = q·e₀ = q[0] and the per-dim accumulations s_d = Σ w·q_d
    *    are EXACT int64 (milli grid ⇒ products ≤ 2.5e7 per term);
    *  - normalization shifts s_d ≫ 15 bits first (documented fixed shift:
    *    keeps Σ m² inside int64 past a 10⁶-vector corpus) and divides by
    *    ⌊√Σ m²⌋ — the Σ m² is an INTEGER window sum (order-independent),
    *    and the one sqrt is a single correctly-rounded IEEE op;
    *  - a degenerate start (every vector orthogonal to e₀ ⇒ s ≡ 0) yields
    *    NULL components rather than a 0/0, on both engines.
    *
    * Output per dim: the exact accumulation s_d and the unit-direction
    * component v1_milli. Scale shape: ONE corpus pass (narrow projection +
    * posexplode → ≤ 64-group map-side agg), then arithmetic + a 64-row
    * window. Each further iteration is the same single pass re-weighted by
    * the previous direction — the matrix-free power method. */
  private def pcaPowerStep(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = quantizedBase(s, dir)
    val per = e.select(element_at(col("q"), 1).as("w"), col("q"))
      .select(col("w"), posexplode(col("q")).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(sum(col("w") * col("v")).as("s"))
      .withColumn("m", expr("s div 32768"))
    val win = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    per.withColumn("norm2", sum(col("m") * col("m")).over(win))
      .select(col("dim"), col("s"),
        when(col("norm2") > 0,
          expr("(m * 1000) div cast(floor(sqrt(cast(norm2 as double))) as bigint)"))
          .as("v1_milli"))
      .orderBy("dim")
  }

  private val pcaPowerStepSql =
    s"""WITH e AS (
       |  SELECT * FROM (
       |    SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm
       |    FROM (SELECT vec_id, $qvecSql AS q FROM embeddings))
       |  WHERE nrm > 0),
       |d AS (SELECT CAST(t.i AS INT) AS dim, q[1] * q[t.i+1] AS wv
       |      FROM e, UNNEST(range(len(q))) t(i)),
       |per AS (
       |  SELECT dim, CAST(SUM(wv) AS BIGINT) AS s FROM d GROUP BY 1),
       |m AS (SELECT dim, s, s // 32768 AS m FROM per),
       |n2 AS (SELECT dim, s, m,
       |         CAST(SUM(m*m) OVER () AS BIGINT) AS norm2 FROM m)
       |SELECT dim, s,
       |  CASE WHEN norm2 > 0
       |    THEN (m * 1000) // CAST(floor(sqrt(CAST(norm2 AS DOUBLE))) AS BIGINT)
       |  END AS v1_milli
       |FROM n2 ORDER BY dim""".stripMargin

  /** Graph-based ANN serve audit — the fourth serve paradigm next to the
    * IVF, LSH and PQ families (HNSW/NSW's core mechanic, measured): build
    * a bounded-degree proximity graph from the LSH candidate pairs (the
    * session-cached relation `ann_lsh_cosine` already verifies — top-4
    * out-edges per node by pair cosine, so build cost adds ONE window over
    * the candidate-sized relation, never an all-pairs kNN), then GREEDY
    * BEAM-1 SEARCH: each query starts at the lowest graph node and takes
    * up to 3 strict-improvement hops to its best current neighbor. The
    * audit row compares where the walk lands against the brute-force true
    * NN — found_exact, final vs true cosine, hops actually taken — i.e.
    * the measured recall/hop trade of a graph serve on THIS corpus, the
    * decision input next to ann_recall_audit (IVF) and lsh_recall_audit.
    *
    * Determinism: hop candidates rank (cos DESC, nbr ASC); moves require
    * STRICT improvement (ties stay put); the entry rule (lowest node ≠
    * query) and the unrolled 3-hop loop are identical formulas in both
    * engines — the hop blocks of the oracle are GENERATED from the same
    * loop as the Spark fold. A real HNSW adds layered entries and a beam
    * > 1; this is the single-layer, beam-1 core with the iteration bound
    * made explicit so the oracle can replay it exactly.
    *
    * Scale shape: graph build = one window over the banded candidate
    * relation (bucket-capped, cached); each hop touches |queries|·degree
    * rows; truth is the query-count-bounded brute relation shared with
    * knn_brute_cosine. Nothing corpus-quadratic anywhere. */

  private def annGraphGreedyAudit(s: SparkSession, dir: String): DataFrame = {
    // "stay" is modeled as a SELF-LOOP candidate rather than a second
    // reference to the walk state: each hop then reads h exactly ONCE, so
    // the unrolled plan is linear (the first formulation referenced h
    // twice per hop — 2^hops copies of the walk subtree, measured 8.8 s
    // of pure stage overhead on 5 rows). Ranking (ncos DESC, self-first,
    // nbr ASC) is exactly "move only on strict improvement": a neighbor
    // tying the current cosine ranks below the self candidate. The walk
    // itself is the shared [[greedyWalk]].
    val (e, g2, h0) = graphServeParts(s, dir)
    greedyWalk(e, g2, h0).join(bruteTruth(s, dir), "query_id")
      .select(col("query_id"), col("entry_id"), col("cur").as("final_id"),
        col("ccos").as("final_cos"), col("true_nn_id"), col("true_cos"),
        (col("cur") === col("true_nn_id")).as("found_exact"), col("moves"))
      .orderBy("query_id")
  }

  /** Upper-layer membership coin: ~1/[[layerMod]] of nodes promote to
    * layer 1 (HNSW's geometric level assignment at one level, md5 so
    * both engines draw the identical layer). */
  private val layerMod = 4L

  /** Layered (hierarchical) graph serve audit — the HNSW shape (Malkov &
    * Yashunin 2016) the flat audits explicitly defer: a sparse UPPER
    * layer (each node promoted with probability 1/[[layerMod]] by an md5
    * coin — the paper's geometric level assignment truncated to two
    * levels) is walked first from its own lowest-node entry, and the
    * landing node becomes the LOWER layer's entry — the long-range
    * routing that makes a graph serve's entry cost logarithmic instead
    * of one fixed global entry crossing the whole space. Both layers
    * replay the IDENTICAL strict-improvement greedy rule ([[greedyWalk]],
    * the single shared copy) — and since round 16 both layers ride the
    * BUILT structure ([[hnswGraph]]/[[hnswLayerOne]]: insert-ordered
    * candidate pools pruned by the Malkov–Yashunin heuristic, audited by
    * `ann_graph_insert_audit`), so the serve audit now exercises the
    * construction it would serve in deployment, not a static top-degree
    * stand-in. The flat baseline walks the SAME built layer-0 graph from
    * the fixed global entry, so the comparison isolates the ENTRY
    * strategy.
    *
    * Emits per query: the layer-1 entry and landing, the final layer-0
    * landing vs brute truth, per-layer move counts, the flat (single-
    * layer) walk's final cosine for the SAME query, and two columns the
    * audit exists for: `descent_ok` (layer-0 walk never degrades the
    * layer-1 landing cosine — the strict-improvement law, pinned) and
    * `layered_ge_flat` (DATA: does hierarchical entry beat the fixed
    * global entry on this corpus — HNSW's Figure-3 claim as a
    * measurement).
    *
    * Scale shape: the layer graphs are |V|·degree / |promoted|·degree
    * rows off the session-cached build relations (no second candidate
    * pass); each hop on each layer touches |queries|·degree rows. */
  /** 1/[[layerMod]] md5-coin layer promotion — ONE copy shared by the
    * layered audit's layer-1 membership rule and the built layer-1
    * graph's endpoint restriction. */
  private def promotedCol(c: Column): Column =
    conv(substring(md5(concat(lit("lvl:"), c.cast("string"))), 1, 6),
      16, 10).cast("long") % layerMod === 0

  /** Candidate-pool width per insert (the efConstruction knob). */
  val insertEfC = 8

  /** 48-bit md5 insert clock: the build's "time" a vector arrives. A
    * hash IS the insert order (compared directly, ties by vec_id), so no
    * global row_number sort — the one operation that would serialize a
    * 100 TB build onto a single task. */
  private def insHash(c: Column): Column =
    conv(substring(md5(concat(lit("ins:"), c.cast("string"))), 1, 12),
      16, 10).cast("long")

  /** Per-insert candidate pool: each node's top-[[insertEfC]] scored
    * candidates among vectors inserted BEFORE it (insert-clock strictly
    * earlier; hash ties broken by id) — the incremental-construction
    * restriction that distinguishes a BUILD from the static top-degree
    * graph. Candidates come from the capped LSH pair relation — the
    * batched-insert convention of distributed HNSW builds, standing in
    * for a beam search over the partial graph (what is audited is the
    * insert-order restriction, the pruning heuristic, and the degree
    * accounting; the candidate GENERATOR is the same bucketed relation
    * every other ANN audit rides, never all-pairs). */
  private def hnswCand(s: SparkSession, dir: String): DataFrame =
    Util.cachedRelation(s, dir, "hnswCand",
      s"${lshBitsFor(s, dir)}_${maxLshBucket(s)}") {
      import org.apache.spark.sql.expressions.Window
      graphScoredEdges(s, dir)
        .withColumn("hn", insHash(col("node")))
        .withColumn("hb", insHash(col("nbr")))
        .filter(col("hb") < col("hn") ||
          (col("hb") === col("hn") && col("nbr") < col("node")))
        .withColumn("cr", row_number().over(
          Window.partitionBy("node").orderBy(col("cos").desc, col("nbr")))
          .cast("long"))
        .filter(col("cr") <= insertEfC)
        .select(col("node"), col("nbr"), col("cos"), col("cr"))
    }

  /** Candidate-candidate cosines per node over ANY ranked candidate
    * pool (node, nbr, cos, cr): (node, ci, cj, ciq, cij) for every
    * ranked pair cj < ci — the distances the pruning heuristic
    * consults. ≤ C(C−1)/2 rows per node, linear in |V|. ONE copy for
    * the insert build and the delete repair. */
  private def candPairsOf(e: DataFrame, cand: DataFrame): DataFrame =
    cand.select(col("node"), col("cr").as("ci"), col("nbr").as("ni"),
        col("cos").as("ciq"))
      .join(cand.select(col("node"), col("cr").as("cj"),
        col("nbr").as("nj")), "node")
      .filter(col("cj") < col("ci"))
      .join(e.select(col("vec_id").as("ni"), col("q").as("qi"),
        col("nrm").as("nrmi")), "ni")
      .join(e.select(col("vec_id").as("nj"), col("q").as("qj"),
        col("nrm").as("nrmj")), "nj")
      .withColumn("cij", dotQ(col("qi"), col("qj")).cast("double") /
        sqrt((col("nrmi") * col("nrmj")).cast("double")))
      .select(col("node"), col("ci"), col("cj"), col("ciq"), col("cij"))

  private def hnswCandPairs(s: SparkSession, dir: String): DataFrame =
    Util.cachedRelation(s, dir, "hnswPairs",
      s"${lshBitsFor(s, dir)}_${maxLshBucket(s)}") {
      candPairsOf(quantizedBase(s, dir), hnswCand(s, dir))
    }

  /** Malkov–Yashunin Alg. 4 as ONE `aggregate` higher-order function
    * over any ranked candidate pool + its pair cosines: walk candidates
    * in rank order, KEEP c iff no already-KEPT s has cos(c,s) ≥
    * cos(c, anchor). Shared verbatim by the insert build ([[hnswKept]])
    * and the delete repair ([[annGraphDeleteAudit]]) — "the SAME
    * diversity prune" is one function, not a convention. */
  private def diversityPrune(cand: DataFrame, pairs: DataFrame)
      : DataFrame = {
    val pj = pairs
      .groupBy(col("node"), col("ci"))
      .agg(array_sort(collect_list(struct(col("cj"), col("cij"))))
        .as("ps"))
      .select(col("node"), col("ci").as("cr"),
        expr("transform(ps, p -> p.cij)").as("cijs"))
    val keptCrs = cand.join(pj, Seq("node", "cr"), "left")
      .select(col("node"), struct(col("cr"), col("cos"),
        coalesce(col("cijs"), expr("CAST(array() AS array<double>)"))
          .as("cijs")).as("c"))
      .groupBy("node").agg(array_sort(collect_list(col("c"))).as("cs"))
      .select(col("node"), expr(
        """aggregate(cs, CAST(array() AS array<bigint>),
          |  (acc, c) -> CASE WHEN exists(acc,
          |      s -> element_at(c.cijs, CAST(s AS int)) >= c.cos)
          |    THEN acc ELSE concat(acc, array(c.cr)) END)"""
          .stripMargin).as("kept_crs"))
    cand.join(keptCrs.select(col("node"),
        explode(col("kept_crs")).as("cr")), Seq("node", "cr"))
      .select(col("node"), col("nbr"), col("cos"), col("cr"))
  }

  /** The HNSW neighbor-selection heuristic (Malkov–Yashunin Alg. 4) over
    * each node's candidate pool: walk candidates in rank order, KEEP c
    * iff c is closer to the inserted point than to every already-KEPT
    * neighbor (cos form: no kept s has cos(c,s) ≥ cos(c,q)) — the
    * diversity prune that gives HNSW graphs their long-range edges.
    *
    * Spark shape: per node, collect the ≤ [[insertEfC]] candidates (with
    * each one's cij row packed as an array indexed by the earlier rank)
    * and run the greedy scan as ONE `aggregate` higher-order function —
    * no per-rank driver round, no recursive plan growth; the whole build
    * is a bounded-fan aggregate over |V| groups. The DuckDB oracle
    * computes the SAME kept set by the independent formulation (rank-
    * unrolled NOT-EXISTS CTE chain), so cross-engine agreement checks
    * the heuristic's semantics, not a shared implementation. */
  private def hnswKept(s: SparkSession, dir: String): DataFrame =
    Util.cachedRelation(s, dir, "hnswKept",
      s"${lshBitsFor(s, dir)}_${maxLshBucket(s)}") {
      diversityPrune(hnswCand(s, dir), hnswCandPairs(s, dir))
    }

  /** Built-graph symmetric edges: kept out-edges plus their reverses
    * (HNSW's bidirectional link step; the degree re-cap happens in the
    * consumer's [[topDegreeGraph]] pass, the paper's shrink-if-full). */
  private def hnswSymEdges(s: SparkSession, dir: String): DataFrame = {
    val k = hnswKept(s, dir)
    k.select(col("node"), col("nbr"), col("cos")).unionByName(
      k.select(col("nbr").as("node"), col("node").as("nbr"), col("cos")))
  }

  /** Checkpointed built serve graphs, keyed like [[lshState]].
    * The build's logical lineage (LSH pairs → insert-ordered candidate
    * pools → heuristic prune → symmetrize → degree cap) is DEEP, and a
    * greedy walk references its graph at EVERY hop plus both entry-rule
    * branches — planning each hop against the full build tree is the
    * dominant cost (measured: the layered audit spent ~4 minutes in
    * Catalyst on a 500-vector corpus with every build relation already
    * cache-resident). The built graph itself is tiny — |V|·(degree+1)
    * rows — so the ccEdges pattern applies: ONE eager localCheckpoint
    * per session cuts the lineage to a LogicalRDD and every hop plans
    * against that flat relation. [[Util.cached]] builds each graph once
    * however many callers race for it. */
  private def hnswCkpt(s: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame =
    Util.cached(s, dir, name, s"${lshBitsFor(s, dir)}_${maxLshBucket(s)}")(
      build.localCheckpoint())

  /** THE checkpointed symmetric built adjacency, stored DISTINCT with an
    * edge multiplicity column: [[hnswSymEdges]] duplicates a row when
    * both directions of a link were kept (a→b and b→a each contribute
    * (a,b) after symmetrization, bit-identical cos — the dot/norm
    * arithmetic is commutative), so `(node, nbr, cos, mult ∈ {1,2})` is
    * a lossless encoding of the multiset. One checkpoint now feeds BOTH
    * consumer shapes: the serve graphs re-expand by `mult` (preserving
    * topDegreeGraph's exact rank arithmetic — a doubled edge occupies
    * two rank slots, as it always did) and the delete audit reads the
    * distinct rows directly (its former `hnswDelAdj` checkpoint was
    * this same relation, materialized a second time from the kept-edge
    * relation whenever the serve wave had already built its graphs). */
  private def hnswSymAdj(s: SparkSession, dir: String): DataFrame =
    hnswCkpt(s, dir, "hnswSymAdj")(
      hnswSymEdges(s, dir).groupBy(col("node"), col("nbr"), col("cos"))
        .agg(count(lit(1)).as("mult")))

  /** The exact [[hnswSymEdges]] multiset, re-expanded from the
    * checkpointed distinct+mult adjacency. */
  private def hnswSymExpanded(s: SparkSession, dir: String): DataFrame =
    hnswSymAdj(s, dir)
      .select(col("node"), col("nbr"), col("cos"),
        explode(sequence(lit(1L), col("mult"))).as("_m"))
      .drop("_m")

  /** Layer-0 serve graph over the BUILT structure (degree-capped +
    * self-loops by the shared [[topDegreeGraph]] rule). */
  private def hnswGraph(s: SparkSession, dir: String): DataFrame =
    hnswCkpt(s, dir, "hnswGraph")(topDegreeGraph(hnswSymExpanded(s, dir)))

  /** Layer-1 serve graph: built edges restricted to promoted endpoints. */
  private def hnswLayerOne(s: SparkSession, dir: String): DataFrame =
    hnswCkpt(s, dir, "hnswLayerOne")(
      topDegreeGraph(hnswSymExpanded(s, dir)
        .filter(promotedCol(col("node")) && promotedCol(col("nbr")))))

  private def annGraphLayeredAudit(s: SparkSession, dir: String)
      : DataFrame = {
    val e = quantizedBase(s, dir)
    val gb = hnswGraph(s, dir)
    val g1 = hnswLayerOne(s, dir)
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("nrm").as("qn"))
    val w1 = greedyWalk(e, g1, entryState(e, g1, qs))
    val h0l0 = w1.select(col("query_id"), col("qq"), col("qn"),
      col("cur").as("entry_id"), col("cur"), col("ccos"),
      lit(0L).as("moves"))
    val w0 = greedyWalk(e, gb, h0l0)
    val flat = greedyWalk(e, gb, entryState(e, gb, qs))
      .select(col("query_id"), col("ccos").as("flat_cos"))
    w1.select(col("query_id"), col("entry_id").as("l1_entry_id"),
        col("cur").as("l1_final_id"), col("ccos").as("l1_cos"),
        col("moves").as("moves_l1"))
      .join(w0.select(col("query_id"), col("cur").as("final_id"),
        col("ccos").as("final_cos"), col("moves").as("moves_l0")),
        "query_id")
      .join(flat, "query_id")
      .join(bruteTruth(s, dir), "query_id")
      .select(col("query_id"), col("l1_entry_id"), col("l1_final_id"),
        col("moves_l1"), col("final_id"), col("final_cos"),
        col("moves_l0"), col("true_nn_id"), col("true_cos"),
        (col("final_id") === col("true_nn_id")).as("found_exact"),
        col("flat_cos"),
        (col("final_cos") >= col("l1_cos")).as("descent_ok"),
        (col("final_cos") >= col("flat_cos")).as("layered_ge_flat"))
      .orderBy("query_id")
  }

  private val annGraphGreedyAuditSql = {
    // hop blocks generated from the same 1..graphHops loop as the Spark
    // fold — the engines cannot drift structurally; like the Spark side,
    // "stay" is the self-loop candidate so each hop reads h once; the
    // build/truth CTEs are the shared graphServeCtes
    val hops = (1 to graphHops).map { k =>
      s"""c$k AS (
         |  SELECT h.query_id, h.qq, h.qn, h.entry_id, h.cur AS cur0,
         |    h.moves, c.nbr,
         |    ${graphCosSql("h.qq", "h.qn", "e.q", "e.nrm")} AS ncos
         |  FROM h${k - 1} h JOIN g2 c ON c.node = h.cur
         |  JOIN e ON e.vec_id = c.nbr
         |  WHERE c.nbr <> h.query_id),
         |h$k AS (
         |  SELECT query_id, qq, qn, entry_id, nbr AS cur, ncos AS ccos,
         |    moves + CASE WHEN nbr <> cur0 THEN 1 ELSE 0 END AS moves
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |          ORDER BY ncos DESC, (nbr = cur0) DESC, nbr) AS rk
         |        FROM c$k) WHERE rk = 1)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $lshBandsCtes,
       |$graphServeCtes,
       |$hops
       |SELECT h.query_id, h.entry_id, h.cur AS final_id, h.ccos AS final_cos,
       |  nn.true_nn_id, nn.true_cos,
       |  h.cur = nn.true_nn_id AS found_exact, CAST(h.moves AS BIGINT) AS moves
       |FROM h$graphHops h JOIN nn USING (query_id) ORDER BY query_id"""
      .stripMargin
  }

  /** One layer's [[graphHops]] hop blocks for the layered oracle — the
    * greedy audit's hop template, parameterized by graph and state
    * prefix (generated from the same loop as [[greedyWalk]]'s fold). */
  private def layerHopsSql(graph: String, inState: String, pfx: String)
      : String =
    (1 to graphHops).map { k =>
      val prev = if (k == 1) inState else s"$pfx${k - 1}"
      s"""${pfx}c$k AS (
         |  SELECT h.query_id, h.qq, h.qn, h.entry_id, h.cur AS cur0,
         |    h.moves, c.nbr,
         |    ${graphCosSql("h.qq", "h.qn", "e.q", "e.nrm")} AS ncos
         |  FROM $prev h JOIN $graph c ON c.node = h.cur
         |  JOIN e ON e.vec_id = c.nbr
         |  WHERE c.nbr <> h.query_id),
         |$pfx$k AS (
         |  SELECT query_id, qq, qn, entry_id, nbr AS cur, ncos AS ccos,
         |    moves + CASE WHEN nbr <> cur0 THEN 1 ELSE 0 END AS moves
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |          ORDER BY ncos DESC, (nbr = cur0) DESC, nbr) AS rk
         |        FROM ${pfx}c$k) WHERE rk = 1)"""
        .stripMargin
    }.mkString(",\n")

  /** The HNSW build as a WITH-chain — ONE copy shared by the insert
    * audit's oracle and the layered serve's oracle (the lshBandsCtes
    * discipline). The kept set is computed by the INDEPENDENT
    * formulation (rank-unrolled NOT-EXISTS chain) of the same greedy
    * heuristic the Spark side runs as an `aggregate` HOF, so agreement
    * checks semantics, not shared code. Depends on `e` and `ed` from
    * [[graphServeCtes]]. */
  private val hnswBuildCtes = {
    def coin(x: String) =
      s"CAST('0x' || substr(md5('lvl:' || CAST($x AS VARCHAR)), 1, 6) " +
        s"AS BIGINT) % $layerMod = 0"
    val kaSteps = (2 to insertEfC).map { r =>
      s"""ka$r AS MATERIALIZED (
         |  SELECT * FROM ka${r - 1}
         |  UNION ALL
         |  SELECT c.node, c.nbr, c.cos, c.cr FROM hcand c
         |  WHERE c.cr = $r AND NOT EXISTS (
         |    SELECT 1 FROM hpair p JOIN ka${r - 1} k
         |      ON k.node = p.node AND k.cr = p.cj
         |    WHERE p.node = c.node AND p.ci = $r AND p.cij >= p.ciq))"""
        .stripMargin
    }.mkString(",\n")
    s"""ih AS (
       |  SELECT vec_id,
       |    CAST('0x' || substr(md5('ins:' || CAST(vec_id AS VARCHAR)), 1, 12)
       |      AS BIGINT) AS h
       |  FROM e),
       |dire AS (
       |  SELECT ed.node, ed.nbr, ed.cos
       |  FROM ed JOIN ih a ON a.vec_id = ed.node
       |    JOIN ih b ON b.vec_id = ed.nbr
       |  WHERE b.h < a.h OR (b.h = a.h AND ed.nbr < ed.node)),
       |hcand AS MATERIALIZED (
       |  SELECT node, nbr, cos, cr FROM (
       |    SELECT node, nbr, cos,
       |      CAST(row_number() OVER (PARTITION BY node
       |        ORDER BY cos DESC, nbr) AS BIGINT) AS cr
       |    FROM dire)
       |  WHERE cr <= $insertEfC),
       |hpair AS MATERIALIZED (
       |  SELECT i.node, i.cr AS ci, j.cr AS cj, i.cos AS ciq,
       |    ${graphCosSql("ei.q", "ei.nrm", "ej.q", "ej.nrm")} AS cij
       |  FROM hcand i JOIN hcand j ON j.node = i.node AND j.cr < i.cr
       |  JOIN e ei ON ei.vec_id = i.nbr
       |  JOIN e ej ON ej.vec_id = j.nbr),
       |ka1 AS (SELECT node, nbr, cos, cr FROM hcand WHERE cr = 1),
       |$kaSteps,
       |bsym AS MATERIALIZED (
       |  SELECT node, nbr, cos FROM ka$insertEfC
       |  UNION ALL SELECT nbr, node, cos FROM ka$insertEfC),
       |gba AS (
       |  SELECT node, nbr FROM (
       |    SELECT node, nbr, row_number() OVER (PARTITION BY node
       |      ORDER BY cos DESC, nbr) AS rk FROM bsym)
       |  WHERE rk <= $graphDegree),
       |gb AS (SELECT node, nbr FROM gba
       |       UNION ALL SELECT DISTINCT node, node FROM gba),
       |l1be AS (SELECT node, nbr, cos FROM bsym
       |         WHERE ${coin("node")} AND ${coin("nbr")}),
       |g1ba AS (
       |  SELECT node, nbr FROM (
       |    SELECT node, nbr, row_number() OVER (PARTITION BY node
       |      ORDER BY cos DESC, nbr) AS rk FROM l1be)
       |  WHERE rk <= $graphDegree),
       |g1b AS (SELECT node, nbr FROM g1ba
       |        UNION ALL SELECT DISTINCT node, node FROM g1ba)""".stripMargin
  }

  private val annGraphLayeredAuditSql = {
    s"""WITH $lshBandsCtes,
       |$graphServeCtes,
       |$hnswBuildCtes,
       |low1b AS (SELECT MIN(node) AS n1, MAX(node) AS n2 FROM (
       |            SELECT DISTINCT node FROM g1b ORDER BY node LIMIT 2)),
       |i0 AS (
       |  SELECT q.query_id, q.qq, q.qn,
       |    e.vec_id AS entry_id, e.vec_id AS cur,
       |    ${graphCosSql("q.qq", "q.qn", "e.q", "e.nrm")} AS ccos,
       |    CAST(0 AS BIGINT) AS moves
       |  FROM qs q CROSS JOIN low1b l
       |  JOIN e ON e.vec_id =
       |    CASE WHEN q.query_id = l.n1 THEN l.n2 ELSE l.n1 END),
       |${layerHopsSql("g1b", "i0", "a")},
       |j0 AS (
       |  SELECT query_id, qq, qn, cur AS entry_id, cur, ccos,
       |    CAST(0 AS BIGINT) AS moves
       |  FROM a$graphHops),
       |${layerHopsSql("gb", "j0", "b")},
       |low0b AS (SELECT MIN(node) AS n1, MAX(node) AS n2 FROM (
       |            SELECT DISTINCT node FROM gb ORDER BY node LIMIT 2)),
       |f0 AS (
       |  SELECT q.query_id, q.qq, q.qn,
       |    e.vec_id AS entry_id, e.vec_id AS cur,
       |    ${graphCosSql("q.qq", "q.qn", "e.q", "e.nrm")} AS ccos,
       |    CAST(0 AS BIGINT) AS moves
       |  FROM qs q CROSS JOIN low0b l
       |  JOIN e ON e.vec_id =
       |    CASE WHEN q.query_id = l.n1 THEN l.n2 ELSE l.n1 END),
       |${layerHopsSql("gb", "f0", "f")}
       |SELECT a.query_id, a.entry_id AS l1_entry_id, a.cur AS l1_final_id,
       |  CAST(a.moves AS BIGINT) AS moves_l1,
       |  b.cur AS final_id, b.ccos AS final_cos,
       |  CAST(b.moves AS BIGINT) AS moves_l0,
       |  nn.true_nn_id, nn.true_cos,
       |  b.cur = nn.true_nn_id AS found_exact,
       |  f.ccos AS flat_cos,
       |  b.ccos >= a.ccos AS descent_ok,
       |  b.ccos >= f.ccos AS layered_ge_flat
       |FROM a$graphHops a JOIN b$graphHops b USING (query_id)
       |JOIN f$graphHops f USING (query_id)
       |JOIN nn USING (query_id)
       |ORDER BY a.query_id""".stripMargin
  }

  /** HNSW construction audit — the BUILD half the serve audits defer
    * (Malkov–Yashunin 2016 §4: insert each vector against the structure
    * built so far, select its neighbors by the diversity heuristic):
    * vectors arrive in md5 insert-clock order ([[insHash]]); each
    * insert's candidate pool is its top-[[insertEfC]] scored candidates
    * among EARLIER-inserted vectors ([[hnswCand]]); the kept out-edges
    * are the greedy heuristic's selection ([[hnswKept]] — keep c iff no
    * already-kept s has cos(c,s) ≥ cos(c,q)). Emits per insert-clock
    * DECILE (so the output stays 10 rows at any corpus size): insert
    * count, candidate/degree mass and milli averages, the prune rate,
    * and the heuristic's measured effect — `kept_div_milli` vs
    * `top_div_milli`, the mean pairwise candidate cosine of the KEPT set
    * against the same-size purely-greedy (top-cos) set, with `div_le`
    * the per-decile claim that pruning selects a more DIVERSE
    * neighborhood (lower mutual cosine), HNSW's reason to exist, as
    * data. `deg_ok` pins the accounting laws (degree ≤ pool ≤ C; a node
    * with candidates keeps at least rank 1).
    *
    * Pairwise cosines enter the averages as floor(cos·1000)+1000 —
    * exact IEEE doubles floored to integers BEFORE summing, so the
    * cross-engine aggregate is order-independent and all divisions see
    * non-negative operands (the div/floor trap).
    *
    * Early deciles have sparse pools (nothing inserted before them) and
    * later deciles saturate at C — the curve a real incremental build
    * shows. The serve-side consumer of this structure is
    * `ann_graph_layered_audit`, whose layer graphs ride
    * [[hnswGraph]]/[[hnswLayerOne]].
    *
    * Scale shape: everything is keyed per node with bounded fan
    * (≤ C candidates, ≤ C(C−1)/2 pairs per node) off the capped LSH
    * pair relation — linear in |V|, never all-pairs; the decile report
    * is a 10-group aggregate. */
  private def annGraphInsertAudit(s: SparkSession, dir: String): DataFrame = {
    val e = quantizedBase(s, dir)
    val cand = hnswCand(s, dir)
    val kept = hnswKept(s, dir)
    val pairs = hnswCandPairs(s, dir)
    val nodes = e.select(col("vec_id").as("node"))
      .withColumn("h", insHash(col("node")))
      .withColumn("decile", expr(s"(h * 10) div ${1L << 48}"))
      .select("node", "decile")
    val nc = cand.groupBy("node").agg(count(lit(1)).as("n_cand"))
    val nk = kept.groupBy("node").agg(count(lit(1)).as("deg"))
    val pn = nodes.join(nc, Seq("node"), "left").join(nk, Seq("node"), "left")
      .select(col("node"), col("decile"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("deg"), lit(0L)).as("deg"))
    val base = pn.groupBy("decile").agg(
      count(lit(1)).as("n_inserts"),
      sum("n_cand").as("n_cand"),
      sum("deg").as("n_kept"),
      max("deg").as("max_deg"),
      sum(when(col("n_cand") > 0 && col("deg") === 0L, 1L).otherwise(0L))
        .as("n_degzero"))
    val keptKeys = kept.select(col("node"), col("cr"))
    val kp = pairs
      .join(keptKeys.select(col("node"), col("cr").as("ci")), Seq("node", "ci"))
      .join(keptKeys.select(col("node"), col("cr").as("cj")), Seq("node", "cj"))
      .select(col("node"), (floor(col("cij") * 1000) + 1000).as("cm"))
    val tp = pairs.join(nk, "node")
      .filter(col("ci") <= col("deg") && col("cj") <= col("deg"))
      .select(col("node"), (floor(col("cij") * 1000) + 1000).as("cm"))
    def divAgg(df: DataFrame, pfx: String) = df
      .join(nodes, "node").groupBy("decile")
      .agg(sum("cm").as(s"${pfx}_sum"), count(lit(1)).as(s"${pfx}_n"))
    base
      .join(divAgg(kp, "kept"), Seq("decile"), "left")
      .join(divAgg(tp, "top"), Seq("decile"), "left")
      .select(col("decile"), col("n_inserts"), col("n_cand"), col("n_kept"),
        expr("(1000 * n_cand) div n_inserts").as("avg_cand_milli"),
        expr("(1000 * n_kept) div n_inserts").as("avg_deg_milli"),
        when(col("n_cand") > 0L,
          expr("(1000 * (n_cand - n_kept)) div n_cand")).otherwise(lit(0L))
          .as("prune_milli"),
        when(col("kept_n") > 0L, expr("(kept_sum div kept_n) - 1000L"))
          .as("kept_div_milli"),
        when(col("top_n") > 0L, expr("(top_sum div top_n) - 1000L"))
          .as("top_div_milli"),
        coalesce(
          when(col("kept_n") > 0L && col("top_n") > 0L,
            expr("(kept_sum div kept_n) <= (top_sum div top_n)")),
          lit(true)).as("div_le"),
        (col("max_deg") <= insertEfC && col("n_kept") <= col("n_cand") &&
          col("n_degzero") === 0L).as("deg_ok"))
      .orderBy("decile")
  }

  /** Built-vs-static serve A/B — the switch decision the build audit
    * leads to: for each serve query, the SAME strict-improvement greedy
    * walk ([[greedyWalk]], one shared copy) run on (a) the BUILT
    * HNSW-pruned graph ([[hnswGraph]]) and (b) the static top-degree
    * graph every pre-round-16 serve audit used, both from their own
    * lowest-node entry, against brute truth. Emits both landings,
    * cosines, move counts, exact-hit flags, the milli cosine delta and
    * `built_ge_static` — whether insert-ordered construction + the
    * diversity prune serves at least as well as the static stand-in on
    * this corpus, as DATA (the honest form: on tiny graphs either can
    * win a given query; the measurement is the point). No new build
    * work: both graphs and the truth relation are session-cached by
    * their existing owners.
    *
    * The two arms run as ONE armed [[greedyWalk]] (the round-16
    * verdict's shared-walk rewrite): the built and static edge
    * relations union under an `arm` tag, the walk keys on
    * (query_id, arm), and a |queries|-row conditional-max pivot
    * recovers the A/B columns — per hop ONE graph join + ONE rank
    * window instead of two unrolled chains, with per-arm results
    * unchanged by construction (the window partitions by arm).
    *
    * Scale shape: one |arms|·|queries|·degree-per-hop walk + one
    * query-count-bounded join — audit cost tracks queries × degree,
    * never corpus size. */
  private def annGraphBuildVsStatic(s: SparkSession, dir: String)
      : DataFrame = {
    val (e, g2, h0) = graphServeParts(s, dir)
    val gb = hnswGraph(s, dir)
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("nrm").as("qn"))
    val gU = g2.select(col("node"), col("nbr"), lit("s").as("arm"))
      .unionByName(gb.select(col("node"), col("nbr"), lit("b").as("arm")))
    val h0U = h0.withColumn("arm", lit("s"))
      .unionByName(entryState(e, gb, qs).withColumn("arm", lit("b")))
    val w = greedyWalk(e, gU, h0U, armed = true)
    // pivot per arm on ONE struct, not per-column maxes: the walk yields
    // exactly one row per (query_id, arm) today (topDegreeGraph appends
    // self-loops so no arm dies), but a per-column max would silently mix
    // fields from DIFFERENT rows if greedyWalk were ever re-armed with a
    // graph lacking that guarantee — the struct max keeps each arm's
    // (cur, ccos, moves) from a single row by construction
    def armRow(a: String) = max(when(col("arm") === a,
      struct(col("cur"), col("ccos"), col("moves"))))
    w.groupBy("query_id").agg(
        armRow("b").as("rb"), armRow("s").as("rs"))
      .select(col("query_id"),
        col("rb.cur").as("built_id"), col("rb.ccos").as("built_cos"),
        col("rb.moves").as("built_moves"),
        col("rs.cur").as("static_id"), col("rs.ccos").as("static_cos"),
        col("rs.moves").as("static_moves"))
      .join(bruteTruth(s, dir), "query_id")
      .select(col("query_id"), col("built_id"), col("built_cos"),
        col("built_moves"), col("static_id"), col("static_cos"),
        col("static_moves"), col("true_nn_id"), col("true_cos"),
        (col("built_id") === col("true_nn_id")).as("built_exact"),
        (col("static_id") === col("true_nn_id")).as("static_exact"),
        floor((col("built_cos") - col("static_cos")) * 1000).cast("long")
          .as("delta_milli"),
        (col("built_cos") >= col("static_cos")).as("built_ge_static"))
      .orderBy("query_id")
  }

  private val annGraphBuildVsStaticSql =
    s"""WITH $lshBandsCtes,
       |$graphServeCtes,
       |$hnswBuildCtes,
       |${layerHopsSql("g2", "h0", "s")},
       |low0b AS (SELECT MIN(node) AS n1, MAX(node) AS n2 FROM (
       |            SELECT DISTINCT node FROM gb ORDER BY node LIMIT 2)),
       |f0 AS (
       |  SELECT q.query_id, q.qq, q.qn,
       |    e.vec_id AS entry_id, e.vec_id AS cur,
       |    ${graphCosSql("q.qq", "q.qn", "e.q", "e.nrm")} AS ccos,
       |    CAST(0 AS BIGINT) AS moves
       |  FROM qs q CROSS JOIN low0b l
       |  JOIN e ON e.vec_id =
       |    CASE WHEN q.query_id = l.n1 THEN l.n2 ELSE l.n1 END),
       |${layerHopsSql("gb", "f0", "b")}
       |SELECT b.query_id, b.cur AS built_id, b.ccos AS built_cos,
       |  CAST(b.moves AS BIGINT) AS built_moves,
       |  s.cur AS static_id, s.ccos AS static_cos,
       |  CAST(s.moves AS BIGINT) AS static_moves,
       |  nn.true_nn_id, nn.true_cos,
       |  b.cur = nn.true_nn_id AS built_exact,
       |  s.cur = nn.true_nn_id AS static_exact,
       |  CAST(FLOOR((b.ccos - s.ccos) * 1000) AS BIGINT) AS delta_milli,
       |  b.ccos >= s.ccos AS built_ge_static
       |FROM b$graphHops b JOIN s$graphHops s USING (query_id)
       |JOIN nn USING (query_id)
       |ORDER BY b.query_id""".stripMargin

  /** HNSW delete/repair audit — the build story's missing half: real
    * pipelines DELETE (takedowns, dedup-driven removals), and HNSW's
    * repair rule reconnects each deleted node's neighbors among
    * themselves through the SAME diversity prune the insert used
    * (Malkov–Yashunin 2016 §4; [[diversityPrune]] is literally the one
    * shared function). The deleted set is the md5 insert clock's LAST
    * decile ([[insHash]] decile 9 — the newest inserts, a deterministic
    * 10% sample); the intact graph is the build's kept-edge adjacency
    * (symmetric kept edges, duplicate-free). For each surviving node u
    * adjacent to a deleted v, the repair candidate pool is u's
    * surviving neighbors ∪ the surviving neighbors of every deleted v
    * adjacent to u (v's adjacency donated to its orphans), scored
    * fresh, capped at [[insertEfC]] by (cos DESC, id) — the insert pool
    * rule — then pruned by the shared heuristic. The oracle recomputes
    * the repair's kept set by the independent rank-unrolled NOT-EXISTS
    * chain (the insert audit's discipline), so cross-engine agreement
    * checks the repair SEMANTICS, not shared code.
    *
    * Emits one row per SURVIVOR decile (0–8 — bounded output at any
    * corpus size): survivor/affected counts, lost-edge mass, repair
    * candidate/kept mass with the prune rate, mean degree of affected
    * nodes before/after repair (milli), `conn_milli` — the share of
    * affected nodes that reconnect (the connectivity delta) — and the
    * mean neighbor cosine of intact vs repaired neighborhoods (milli;
    * floor(cos·1000)+1000 per edge BEFORE summing, the insert audit's
    * order-independent integer convention — the recall-side delta).
    * `law_ok` pins the accounting: kept ≤ candidates, and every
    * affected node WITH candidates reconnects (rank 1 is always kept).
    *
    * Scale shape: everything is keyed per node with bounded fan — the
    * donated pools are ≤ degree² per deleted node off the kept-edge
    * relation, candidates cap at C, pairs at C(C−1)/2 — linear in |V|,
    * never all-pairs; the decile report is a ≤9-group aggregate. The
    * repair relations are session-cached under the `hnsw` prefix, so
    * the serve-family release boundary reclaims them. */
  /** The delete/repair relations shared by [[annGraphDeleteAudit]] and
    * [[annGraphMaintainAudit]] — ONE copy of the deletion rule (insert-
    * clock decile 9), the orphan discovery, and the Alg.-4 repair over
    * donated candidate pools. `rcand`/`rkept` are session-cached under
    * the `hnsw` prefix, so whichever audit runs first builds them and
    * the other reads the cache. */
  private final case class RepairParts(adj: DataFrame, nodes: DataFrame,
      dels: DataFrame, surv: DataFrame, lost: DataFrame, aff: DataFrame,
      rcand: DataFrame, rkept: DataFrame)
  private def hnswRepairParts(s: SparkSession, dir: String): RepairParts = {
    import org.apache.spark.sql.expressions.Window
    val e = quantizedBase(s, dir)
    val lshKey = s"${lshBitsFor(s, dir)}_${maxLshBucket(s)}"
    // checkpointed, not cached: every repair relation references the
    // adjacency several times, and each pre-materialization reference
    // embeds the FULL build lineage (LSH chain -> pools -> prune HOF) —
    // the exact plan blowup [[hnswCkpt]] exists for (the layered-audit
    // finding). Since round 18 the distinct adjacency IS the shared
    // [[hnswSymAdj]] checkpoint (mult projected away): when the serve
    // wave already built its graphs these audits pay ZERO adjacency
    // materialization, and a delete-only session builds the one
    // checkpoint the serve wave would reuse.
    val adj = hnswSymAdj(s, dir).select("node", "nbr", "cos")
    val nodes = e.select(col("vec_id").as("node"))
      .withColumn("h", insHash(col("node")))
      .withColumn("decile", expr(s"(h * 10) div ${1L << 48}"))
      .select("node", "decile")
    val dels = nodes.filter(col("decile") === 9).select("node")
    val surv = nodes.filter(col("decile") < 9)
    val lost = adj
      .join(surv.select(col("node")), "node")
      .join(dels.select(col("node").as("nbr")), "nbr")
      .select(col("node"), col("nbr"))
    val aff = lost.select("node").distinct()
    val oldc = adj.join(aff, "node")
      .join(surv.select(col("node").as("nbr")), "nbr")
      .select("node", "nbr")
    val newc = lost
      .select(col("node"), col("nbr").as("v"))
      .join(adj.select(col("node").as("v"), col("nbr").as("w")), "v")
      .filter(col("w") =!= col("node"))
      .join(surv.select(col("node").as("w")), "w")
      .select(col("node"), col("w").as("nbr"))
    val rcand = Util.cachedRelation(s, dir, "hnswDelCand", lshKey) {
      oldc.unionByName(newc).distinct()
        .join(e.select(col("vec_id").as("node"), col("q").as("uq"),
          col("nrm").as("un")), "node")
        .join(e.select(col("vec_id").as("nbr"), col("q").as("wq"),
          col("nrm").as("wn")), "nbr")
        .withColumn("cos", dotQ(col("uq"), col("wq")).cast("double") /
          sqrt((col("un") * col("wn")).cast("double")))
        .withColumn("cr", row_number().over(
          Window.partitionBy("node").orderBy(col("cos").desc, col("nbr")))
          .cast("long"))
        .filter(col("cr") <= insertEfC)
        .select(col("node"), col("nbr"), col("cos"), col("cr"))
    }
    val rkept = Util.cachedRelation(s, dir, "hnswDelKept", lshKey) {
      diversityPrune(rcand, candPairsOf(e, rcand))
    }
    RepairParts(adj, nodes, dels, surv, lost, aff, rcand, rkept)
  }

  private def annGraphDeleteAudit(s: SparkSession, dir: String)
      : DataFrame = {
    val p = hnswRepairParts(s, dir)
    val (adj, nodes, surv, lost, aff, rcand, rkept) =
      (p.adj, p.nodes, p.surv, p.lost, p.aff, p.rcand, p.rkept)
    def cm(c: Column) = (floor(c * 1000) + 1000).cast("long")
    val perNode = aff
      .join(rcand.groupBy("node").agg(count(lit(1)).as("n_cand")),
        Seq("node"), "left")
      .join(rkept.groupBy("node").agg(count(lit(1)).as("n_kept")),
        Seq("node"), "left")
      .select(col("node"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
    val affD = perNode.join(nodes, "node").groupBy("decile").agg(
      count(lit(1)).as("n_affected"),
      sum("n_cand").as("cand_n"),
      sum("n_kept").as("kept_n"),
      sum(when(col("n_kept") > 0L, 1L).otherwise(0L)).as("n_reconn"),
      sum(when(col("n_cand") > 0L, 1L).otherwise(0L)).as("n_with_cand"))
    val lostD = lost.join(nodes, "node").groupBy("decile")
      .agg(count(lit(1)).as("lost_edges"))
    val beforeD = adj.join(aff, "node").join(nodes, "node")
      .select(col("decile"), cm(col("cos")).as("cmv"))
      .groupBy("decile")
      .agg(count(lit(1)).as("before_edges"), sum("cmv").as("before_cm"))
    val afterD = rkept.join(nodes, "node")
      .select(col("decile"), cm(col("cos")).as("cmv"))
      .groupBy("decile").agg(sum("cmv").as("kept_cm"))
    surv.groupBy("decile").agg(count(lit(1)).as("n_nodes"))
      .join(affD, Seq("decile"), "left")
      .join(lostD, Seq("decile"), "left")
      .join(beforeD, Seq("decile"), "left")
      .join(afterD, Seq("decile"), "left")
      .select(col("decile"), col("n_nodes"),
        coalesce(col("n_affected"), lit(0L)).as("n_affected"),
        coalesce(col("lost_edges"), lit(0L)).as("lost_edges"),
        coalesce(col("cand_n"), lit(0L)).as("cand_n"),
        coalesce(col("kept_n"), lit(0L)).as("kept_n"),
        coalesce(col("n_reconn"), lit(0L)).as("n_reconn"),
        coalesce(col("n_with_cand"), lit(0L)).as("n_with_cand"),
        coalesce(col("before_edges"), lit(0L)).as("before_edges"),
        col("before_cm"), col("kept_cm"))
      .select(col("decile"), col("n_nodes"), col("n_affected"),
        col("lost_edges"), col("cand_n"), col("kept_n"),
        when(col("cand_n") > 0L,
          expr("(1000 * (cand_n - kept_n)) div cand_n")).otherwise(0L)
          .as("prune_milli"),
        when(col("n_affected") > 0L,
          expr("(1000 * before_edges) div n_affected")).otherwise(0L)
          .as("deg_before_milli"),
        when(col("n_affected") > 0L,
          expr("(1000 * kept_n) div n_affected")).otherwise(0L)
          .as("deg_after_milli"),
        when(col("n_affected") > 0L,
          expr("(1000 * n_reconn) div n_affected")).otherwise(0L)
          .as("conn_milli"),
        when(col("before_edges") > 0L,
          expr("(before_cm div before_edges) - 1000L"))
          .as("cos_intact_milli"),
        when(col("kept_n") > 0L,
          expr("(kept_cm div kept_n) - 1000L")).as("cos_repair_milli"),
        (col("kept_n") <= col("cand_n") &&
          col("n_reconn") === col("n_with_cand")).as("law_ok"))
      .orderBy("decile")
  }

  /** The deletion + Alg.-4 repair as a WITH-chain — ONE copy shared by
    * the delete audit's oracle and the maintenance audit's oracle (the
    * [[hnswBuildCtes]] discipline). Depends on `e`/`ih`/`bsym` from the
    * build CTEs; yields `survn`/`deln`/`aff`/`lost`/`kadj` and the
    * repaired kept set `rkept` via the independent rank-unrolled
    * NOT-EXISTS chain. */
  private val hnswRepairCtes = {
    val rkaSteps = (2 to insertEfC).map { r =>
      s"""rka$r AS MATERIALIZED (
         |  SELECT * FROM rka${r - 1}
         |  UNION ALL
         |  SELECT c.node, c.nbr, c.cos, c.cr FROM rcand c
         |  WHERE c.cr = $r AND NOT EXISTS (
         |    SELECT 1 FROM rpair p JOIN rka${r - 1} k
         |      ON k.node = p.node AND k.cr = p.cj
         |    WHERE p.node = c.node AND p.ci = $r AND p.cij >= p.ciq))"""
        .stripMargin
    }.mkString(",\n")
    s"""nodesdel AS (
       |  SELECT e.vec_id AS node, (ih.h * 10) // ${1L << 48} AS decile
       |  FROM e JOIN ih ON ih.vec_id = e.vec_id),
       |kadj AS MATERIALIZED (SELECT DISTINCT node, nbr, cos FROM bsym),
       |survn AS (SELECT node, decile FROM nodesdel WHERE decile < 9),
       |deln AS (SELECT node FROM nodesdel WHERE decile = 9),
       |lost AS (
       |  SELECT a.node, a.nbr FROM kadj a
       |  JOIN survn s ON s.node = a.node
       |  JOIN deln d ON d.node = a.nbr),
       |aff AS (SELECT DISTINCT node FROM lost),
       |oldc AS (
       |  SELECT a.node, a.nbr FROM kadj a
       |  JOIN aff USING (node)
       |  JOIN survn w ON w.node = a.nbr),
       |newc AS (
       |  SELECT l.node, b.nbr FROM lost l
       |  JOIN kadj b ON b.node = l.nbr
       |  JOIN survn w ON w.node = b.nbr
       |  WHERE b.nbr <> l.node),
       |mc AS (SELECT DISTINCT node, nbr FROM
       |  (SELECT * FROM oldc UNION ALL SELECT * FROM newc)),
       |rc0 AS (
       |  SELECT m.node, m.nbr,
       |    ${graphCosSql("eu.q", "eu.nrm", "ew.q", "ew.nrm")} AS cos
       |  FROM mc m JOIN e eu ON eu.vec_id = m.node
       |  JOIN e ew ON ew.vec_id = m.nbr),
       |rcand AS MATERIALIZED (
       |  SELECT * FROM (
       |    SELECT node, nbr, cos,
       |      CAST(row_number() OVER (PARTITION BY node
       |        ORDER BY cos DESC, nbr) AS BIGINT) AS cr
       |    FROM rc0)
       |  WHERE cr <= $insertEfC),
       |rpair AS MATERIALIZED (
       |  SELECT i.node, i.cr AS ci, j.cr AS cj, i.cos AS ciq,
       |    ${graphCosSql("ei.q", "ei.nrm", "ej.q", "ej.nrm")} AS cij
       |  FROM rcand i JOIN rcand j ON j.node = i.node AND j.cr < i.cr
       |  JOIN e ei ON ei.vec_id = i.nbr
       |  JOIN e ej ON ej.vec_id = j.nbr),
       |rka1 AS (SELECT node, nbr, cos, cr FROM rcand WHERE cr = 1),
       |$rkaSteps,
       |rkept AS (SELECT * FROM rka$insertEfC)""".stripMargin
  }

  private val annGraphDeleteAuditSql = {
    s"""WITH $lshBandsCtes,
       |$graphServeCtes,
       |$hnswBuildCtes,
       |$hnswRepairCtes,
       |pnd AS (
       |  SELECT a.node,
       |    COALESCE(c.n_cand, 0) AS n_cand,
       |    COALESCE(k.n_kept, 0) AS n_kept
       |  FROM aff a
       |  LEFT JOIN (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_cand
       |             FROM rcand GROUP BY 1) c USING (node)
       |  LEFT JOIN (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_kept
       |             FROM rkept GROUP BY 1) k USING (node)),
       |affd AS (
       |  SELECT n.decile, CAST(COUNT(*) AS BIGINT) AS n_affected,
       |    CAST(SUM(n_cand) AS BIGINT) AS cand_n,
       |    CAST(SUM(n_kept) AS BIGINT) AS kept_n,
       |    CAST(SUM(CASE WHEN n_kept > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_reconn,
       |    CAST(SUM(CASE WHEN n_cand > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_with_cand
       |  FROM pnd JOIN survn n USING (node) GROUP BY 1),
       |lostd AS (
       |  SELECT n.decile, CAST(COUNT(*) AS BIGINT) AS lost_edges
       |  FROM lost JOIN survn n USING (node) GROUP BY 1),
       |befd AS (
       |  SELECT n.decile, CAST(COUNT(*) AS BIGINT) AS before_edges,
       |    CAST(SUM(CAST(FLOOR(a.cos * 1000) + 1000 AS BIGINT)) AS BIGINT)
       |      AS before_cm
       |  FROM kadj a JOIN aff USING (node) JOIN survn n USING (node)
       |  GROUP BY 1),
       |aftd AS (
       |  SELECT n.decile,
       |    CAST(SUM(CAST(FLOOR(k.cos * 1000) + 1000 AS BIGINT)) AS BIGINT)
       |      AS kept_cm
       |  FROM rkept k JOIN survn n USING (node) GROUP BY 1),
       |based AS (
       |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_nodes
       |  FROM survn GROUP BY 1)
       |SELECT b.decile, b.n_nodes,
       |  COALESCE(a.n_affected, 0) AS n_affected,
       |  COALESCE(l.lost_edges, 0) AS lost_edges,
       |  COALESCE(a.cand_n, 0) AS cand_n,
       |  COALESCE(a.kept_n, 0) AS kept_n,
       |  CASE WHEN COALESCE(a.cand_n, 0) > 0
       |    THEN (1000 * (a.cand_n - a.kept_n)) // a.cand_n
       |    ELSE CAST(0 AS BIGINT) END AS prune_milli,
       |  CASE WHEN COALESCE(a.n_affected, 0) > 0
       |    THEN (1000 * f.before_edges) // a.n_affected
       |    ELSE CAST(0 AS BIGINT) END AS deg_before_milli,
       |  CASE WHEN COALESCE(a.n_affected, 0) > 0
       |    THEN (1000 * a.kept_n) // a.n_affected
       |    ELSE CAST(0 AS BIGINT) END AS deg_after_milli,
       |  CASE WHEN COALESCE(a.n_affected, 0) > 0
       |    THEN (1000 * a.n_reconn) // a.n_affected
       |    ELSE CAST(0 AS BIGINT) END AS conn_milli,
       |  CASE WHEN f.before_edges > 0
       |    THEN (f.before_cm // f.before_edges) - 1000 END AS cos_intact_milli,
       |  CASE WHEN COALESCE(a.kept_n, 0) > 0
       |    THEN (t.kept_cm // a.kept_n) - 1000 END AS cos_repair_milli,
       |  COALESCE(a.kept_n, 0) <= COALESCE(a.cand_n, 0)
       |    AND COALESCE(a.n_reconn, 0) = COALESCE(a.n_with_cand, 0) AS law_ok
       |FROM based b
       |LEFT JOIN affd a USING (decile)
       |LEFT JOIN lostd l USING (decile)
       |LEFT JOIN befd f USING (decile)
       |LEFT JOIN aftd t USING (decile)
       |ORDER BY b.decile""".stripMargin
  }

  /** Index-maintenance serve A/B — the cycle a real deployment runs:
    * DELETE the insert-clock's last decile, REPAIR the survivors'
    * neighborhoods (the delete audit's Alg.-4 pass, literally shared:
    * [[hnswRepairParts]]), RE-INSERT the deleted nodes through the same
    * [[diversityPrune]], then serve the same query set on the intact
    * vs maintained graphs with ONE armed [[greedyWalk]] (the
    * build-vs-static pattern, third arm shape).
    *
    * The re-insert candidate pool is the node's pre-delete partners
    * among survivors (its tombstoned links — what a deployment logs at
    * delete time), ranked by stored cos and capped at [[insertEfC]],
    * then pruned by the shared heuristic; kept edges are added
    * bidirectionally and the maintained layer-0 graph is
    * [[topDegreeGraph]] over unaffected survivor neighborhoods ∪
    * repaired neighborhoods ∪ re-insert edges. Emits one row per serve
    * query: intact/maintained landings, cosines, move counts vs brute
    * truth, the milli delta, and the maintenance accounting (deleted /
    * re-inserted counts; `law_ok` pins kept ⊆ candidates per node and
    * every deleted node WITH candidates re-entering — rank 1 is always
    * kept). The oracle replays delete + repair + re-insert + both
    * walks independently (rank-unrolled NOT-EXISTS chains, unrolled
    * hops), so agreement certifies the maintenance semantics.
    *
    * Scale shape: rides the checkpointed [[hnswSymAdj]] adjacency and
    * the session-cached repair relations — re-insert pools are
    * degree-bounded per deleted node, maintained-graph ranking is the
    * same per-node window as every serve build, and the walk cost is
    * queries × degree × hops; nothing touches corpus-scale relations
    * beyond the one adjacency scan. An EMPTY delete decile (possible
    * on tiny corpora — the degenerate fuzz seed) degrades to
    * maintained ≡ intact with n_deleted = 0 and law_ok true. */
  private def annGraphMaintainAudit(s: SparkSession, dir: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = quantizedBase(s, dir)
    val lshKey = s"${lshBitsFor(s, dir)}_${maxLshBucket(s)}"
    val p = hnswRepairParts(s, dir)
    // maintained layer-0 edge multiset: unaffected survivors keep their
    // neighborhoods verbatim; affected survivors get their repaired
    // (pruned) neighborhoods; deleted nodes re-enter via their kept
    // re-insert edges, bidirectionally (the paper's link step — the
    // degree re-cap happens in topDegreeGraph, shrink-if-full)
    val unaff = p.adj
      .join(p.surv.select("node"), "node")
      .join(p.surv.select(col("node").as("nbr")), "nbr")
      .join(p.aff, Seq("node"), "left_anti")
      .select("node", "nbr", "cos")
    val icand = Util.cachedRelation(s, dir, "hnswMaintCand", lshKey) {
      p.adj
        .join(p.dels.select("node"), "node")
        .join(p.surv.select(col("node").as("nbr")), "nbr")
        .withColumn("cr", row_number().over(
          Window.partitionBy("node").orderBy(col("cos").desc, col("nbr")))
          .cast("long"))
        .filter(col("cr") <= insertEfC)
        .select(col("node"), col("nbr"), col("cos"), col("cr"))
    }
    val ikept = Util.cachedRelation(s, dir, "hnswMaintKept", lshKey) {
      diversityPrune(icand, candPairsOf(e, icand))
    }
    val medges = unaff
      .unionByName(p.rkept.select("node", "nbr", "cos"))
      .unionByName(ikept.select("node", "nbr", "cos"))
      .unionByName(ikept.select(col("nbr").as("node"),
        col("node").as("nbr"), col("cos")))
    val gm = hnswCkpt(s, dir, "hnswMaintGraph")(topDegreeGraph(medges))
    val gb = hnswGraph(s, dir)
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("nrm").as("qn"))
    val gU = gb.select(col("node"), col("nbr"), lit("i").as("arm"))
      .unionByName(gm.select(col("node"), col("nbr"), lit("m").as("arm")))
    val h0U = entryState(e, gb, qs).withColumn("arm", lit("i"))
      .unionByName(entryState(e, gm, qs).withColumn("arm", lit("m")))
    val w = greedyWalk(e, gU, h0U, armed = true)
    def armRow(a: String) = max(when(col("arm") === a,
      struct(col("cur"), col("ccos"), col("moves"))))
    val law = p.dels.select(col("node"))
      .join(icand.groupBy("node").agg(count(lit(1)).as("nc")),
        Seq("node"), "left")
      .join(ikept.groupBy("node").agg(count(lit(1)).as("nk")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("nc"), lit(0L)).as("nc"),
        coalesce(col("nk"), lit(0L)).as("nk"))
      .agg(count(lit(1)).as("n_deleted"),
        coalesce(sum(when(col("nk") > 0L, 1L).otherwise(0L)), lit(0L))
          .as("n_reinserted"),
        coalesce(sum(when(col("nk") > col("nc"), 1L).otherwise(0L)),
          lit(0L)).as("bad_kept"),
        coalesce(sum(when(col("nc") > 0L && col("nk") === 0L, 1L)
          .otherwise(0L)), lit(0L)).as("bad_reconn"))
    w.groupBy("query_id").agg(armRow("i").as("ri"), armRow("m").as("rm"))
      .select(col("query_id"),
        col("ri.cur").as("intact_id"), col("ri.ccos").as("intact_cos"),
        col("ri.moves").as("intact_moves"),
        col("rm.cur").as("maint_id"), col("rm.ccos").as("maint_cos"),
        col("rm.moves").as("maint_moves"))
      .join(bruteTruth(s, dir), "query_id")
      .crossJoin(broadcast(law))
      .select(col("query_id"),
        col("intact_id"), col("intact_cos"), col("intact_moves"),
        col("maint_id"), col("maint_cos"), col("maint_moves"),
        col("true_nn_id"), col("true_cos"),
        (col("intact_id") === col("true_nn_id")).as("intact_exact"),
        (col("maint_id") === col("true_nn_id")).as("maint_exact"),
        floor((col("maint_cos") - col("intact_cos")) * 1000).cast("long")
          .as("delta_milli"),
        (col("maint_cos") >= col("intact_cos")).as("maint_ge_intact"),
        col("n_deleted"), col("n_reinserted"),
        (col("bad_kept") === 0L && col("bad_reconn") === 0L).as("law_ok"))
      .orderBy("query_id")
  }

  /** Incremental INSERT gate at the vector tier — the batch twin of the
    * streaming [[graft.streaming.StreamingPipeline]] `annInsertStream`
    * gate and the third member of the increment family
    * (`dedup_incremental` / `semdedup_increment` split convention:
    * arrivals = vec_id % 10 = 0, established corpus = the rest): for
    * each arriving vector, emit the edges its HNSW insert would commit
    * against the corpus. Candidates are LSH band-bucket collisions
    * (corpus-side buckets capped at [[maxLshBucket]]; SINGLETON corpus
    * buckets stay — a lone corpus vector is a valid candidate for an
    * arrival, unlike the pair relation where k > 1 is definitional),
    * ranked (cos DESC, id ASC) and capped at [[insertEfC]] — the
    * insert pool rule — then pruned by the LITERAL shared
    * [[diversityPrune]] (one copy of Alg. 4 across insert build,
    * delete repair, maintenance re-insert and this gate). One row per
    * KEPT edge, ≤ efC × |arrivals| — bounded output, and per-arrival
    * cost is bucket-bounded: nothing touches corpus-scale relations
    * beyond the session-cached band/base reads. The oracle replays
    * banding, bucket-cap, rank and the prune independently
    * (rank-unrolled NOT-EXISTS chain). */
  private def annInsertGate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = quantizedBase(s, dir)
    val bands = lshBands(s, dir)
    val cb = bands.filter(col("vec_id") % 10 =!= 0)
    val ab = bands.filter(col("vec_id") % 10 === 0)
    val ok = cb.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("k"))
      .filter(col("k") <= maxLshBucket(s))
      .select(col("band"), col("sig"))
    val pool = ab.join(ok, Seq("band", "sig"), "left_semi").as("x")
      .join(cb.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig"))
      .select(col("x.vec_id").as("node"), col("y.vec_id").as("nbr"))
      .distinct()
    val cand = Util.cachedRelation(s, dir, "insGateCand",
      s"${lshBitsFor(s, dir)}_${maxLshBucket(s)}") {
      pool
        .join(e.select(col("vec_id").as("node"), col("q").as("uq"),
          col("nrm").as("un")), "node")
        .join(e.select(col("vec_id").as("nbr"), col("q").as("wq"),
          col("nrm").as("wn")), "nbr")
        .withColumn("cos", dotQ(col("uq"), col("wq")).cast("double") /
          sqrt((col("un") * col("wn")).cast("double")))
        .withColumn("cr", row_number().over(
          Window.partitionBy("node").orderBy(col("cos").desc, col("nbr")))
          .cast("long"))
        .filter(col("cr") <= insertEfC)
        .select(col("node"), col("nbr"), col("cos"), col("cr"))
    }
    diversityPrune(cand, candPairsOf(e, cand))
      .select(col("node").as("vec_id"), col("nbr"), col("cos"), col("cr"))
      .orderBy("vec_id", "cr")
  }

  private val annInsertGateSql = {
    val gikaSteps = (2 to insertEfC).map { r =>
      s"""gika$r AS MATERIALIZED (
         |  SELECT * FROM gika${r - 1}
         |  UNION ALL
         |  SELECT c.node, c.nbr, c.cos, c.cr FROM gicand c
         |  WHERE c.cr = $r AND NOT EXISTS (
         |    SELECT 1 FROM gipair p JOIN gika${r - 1} k
         |      ON k.node = p.node AND k.cr = p.cj
         |    WHERE p.node = c.node AND p.ci = $r AND p.cij >= p.ciq))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $lshBandsCtes,
       |cbands AS (SELECT * FROM bands WHERE vec_id % 10 <> 0),
       |abands AS (SELECT * FROM bands WHERE vec_id % 10 = 0),
       |giok AS (SELECT band, sig FROM cbands GROUP BY band, sig
       |         HAVING COUNT(*) <= $maxLshBucketDefault),
       |gipool AS (
       |  SELECT DISTINCT a.vec_id AS node, c.vec_id AS nbr
       |  FROM abands a JOIN giok USING (band, sig)
       |  JOIN cbands c USING (band, sig)),
       |gic0 AS (
       |  SELECT g.node, g.nbr,
       |    ${graphCosSql("ea.q", "ea.nrm", "ec.q", "ec.nrm")} AS cos
       |  FROM gipool g JOIN e ea ON ea.vec_id = g.node
       |  JOIN e ec ON ec.vec_id = g.nbr),
       |gicand AS MATERIALIZED (
       |  SELECT * FROM (
       |    SELECT node, nbr, cos,
       |      CAST(row_number() OVER (PARTITION BY node
       |        ORDER BY cos DESC, nbr) AS BIGINT) AS cr
       |    FROM gic0)
       |  WHERE cr <= $insertEfC),
       |gipair AS MATERIALIZED (
       |  SELECT i.node, i.cr AS ci, j.cr AS cj, i.cos AS ciq,
       |    ${graphCosSql("ei.q", "ei.nrm", "ej.q", "ej.nrm")} AS cij
       |  FROM gicand i JOIN gicand j ON j.node = i.node AND j.cr < i.cr
       |  JOIN e ei ON ei.vec_id = i.nbr
       |  JOIN e ej ON ej.vec_id = j.nbr),
       |gika1 AS (SELECT node, nbr, cos, cr FROM gicand WHERE cr = 1),
       |$gikaSteps
       |SELECT node AS vec_id, nbr, cos, cr FROM gika$insertEfC
       |ORDER BY vec_id, cr""".stripMargin
  }

  private val annGraphMaintainAuditSql = {
    val ikaSteps = (2 to insertEfC).map { r =>
      s"""ika$r AS MATERIALIZED (
         |  SELECT * FROM ika${r - 1}
         |  UNION ALL
         |  SELECT c.node, c.nbr, c.cos, c.cr FROM icand c
         |  WHERE c.cr = $r AND NOT EXISTS (
         |    SELECT 1 FROM ipair p JOIN ika${r - 1} k
         |      ON k.node = p.node AND k.cr = p.cj
         |    WHERE p.node = c.node AND p.ci = $r AND p.cij >= p.ciq))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $lshBandsCtes,
       |$graphServeCtes,
       |$hnswBuildCtes,
       |$hnswRepairCtes,
       |unaffe AS (
       |  SELECT a.node, a.nbr, a.cos FROM kadj a
       |  JOIN survn s ON s.node = a.node
       |  JOIN survn w ON w.node = a.nbr
       |  WHERE NOT EXISTS (SELECT 1 FROM aff f WHERE f.node = a.node)),
       |icand AS MATERIALIZED (
       |  SELECT * FROM (
       |    SELECT a.node, a.nbr, a.cos,
       |      CAST(row_number() OVER (PARTITION BY a.node
       |        ORDER BY a.cos DESC, a.nbr) AS BIGINT) AS cr
       |    FROM kadj a
       |    JOIN deln d ON d.node = a.node
       |    JOIN survn w ON w.node = a.nbr)
       |  WHERE cr <= $insertEfC),
       |ipair AS MATERIALIZED (
       |  SELECT i.node, i.cr AS ci, j.cr AS cj, i.cos AS ciq,
       |    ${graphCosSql("ei.q", "ei.nrm", "ej.q", "ej.nrm")} AS cij
       |  FROM icand i JOIN icand j ON j.node = i.node AND j.cr < i.cr
       |  JOIN e ei ON ei.vec_id = i.nbr
       |  JOIN e ej ON ej.vec_id = j.nbr),
       |ika1 AS (SELECT node, nbr, cos, cr FROM icand WHERE cr = 1),
       |$ikaSteps,
       |ikept AS (SELECT * FROM ika$insertEfC),
       |medges AS (
       |  SELECT node, nbr, cos FROM unaffe
       |  UNION ALL SELECT node, nbr, cos FROM rkept
       |  UNION ALL SELECT node, nbr, cos FROM ikept
       |  UNION ALL SELECT nbr, node, cos FROM ikept),
       |gma AS (
       |  SELECT node, nbr FROM (
       |    SELECT node, nbr, row_number() OVER (PARTITION BY node
       |      ORDER BY cos DESC, nbr) AS rk FROM medges)
       |  WHERE rk <= $graphDegree),
       |gm AS (SELECT node, nbr FROM gma
       |       UNION ALL SELECT DISTINCT node, node FROM gma),
       |low0b AS (SELECT MIN(node) AS n1, MAX(node) AS n2 FROM (
       |            SELECT DISTINCT node FROM gb ORDER BY node LIMIT 2)),
       |f0 AS (
       |  SELECT q.query_id, q.qq, q.qn,
       |    e.vec_id AS entry_id, e.vec_id AS cur,
       |    ${graphCosSql("q.qq", "q.qn", "e.q", "e.nrm")} AS ccos,
       |    CAST(0 AS BIGINT) AS moves
       |  FROM qs q CROSS JOIN low0b l
       |  JOIN e ON e.vec_id =
       |    CASE WHEN q.query_id = l.n1 THEN l.n2 ELSE l.n1 END),
       |${layerHopsSql("gb", "f0", "b")},
       |low0m AS (SELECT MIN(node) AS n1, MAX(node) AS n2 FROM (
       |            SELECT DISTINCT node FROM gm ORDER BY node LIMIT 2)),
       |m0 AS (
       |  SELECT q.query_id, q.qq, q.qn,
       |    e.vec_id AS entry_id, e.vec_id AS cur,
       |    ${graphCosSql("q.qq", "q.qn", "e.q", "e.nrm")} AS ccos,
       |    CAST(0 AS BIGINT) AS moves
       |  FROM qs q CROSS JOIN low0m l
       |  JOIN e ON e.vec_id =
       |    CASE WHEN q.query_id = l.n1 THEN l.n2 ELSE l.n1 END),
       |${layerHopsSql("gm", "m0", "m")},
       |ilaw AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_deleted,
       |    CAST(COALESCE(SUM(CASE WHEN nk > 0 THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS n_reinserted,
       |    CAST(COALESCE(SUM(CASE WHEN nk > nc THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS bad_kept,
       |    CAST(COALESCE(SUM(CASE WHEN nc > 0 AND nk = 0 THEN 1 ELSE 0 END),
       |      0) AS BIGINT) AS bad_reconn
       |  FROM (
       |    SELECT d.node, COALESCE(c.nc, 0) AS nc, COALESCE(k.nk, 0) AS nk
       |    FROM deln d
       |    LEFT JOIN (SELECT node, CAST(COUNT(*) AS BIGINT) AS nc
       |               FROM icand GROUP BY 1) c USING (node)
       |    LEFT JOIN (SELECT node, CAST(COUNT(*) AS BIGINT) AS nk
       |               FROM ikept GROUP BY 1) k USING (node)))
       |SELECT i.query_id,
       |  i.cur AS intact_id, i.ccos AS intact_cos,
       |  CAST(i.moves AS BIGINT) AS intact_moves,
       |  m.cur AS maint_id, m.ccos AS maint_cos,
       |  CAST(m.moves AS BIGINT) AS maint_moves,
       |  nn.true_nn_id, nn.true_cos,
       |  i.cur = nn.true_nn_id AS intact_exact,
       |  m.cur = nn.true_nn_id AS maint_exact,
       |  CAST(FLOOR((m.ccos - i.ccos) * 1000) AS BIGINT) AS delta_milli,
       |  m.ccos >= i.ccos AS maint_ge_intact,
       |  w.n_deleted, w.n_reinserted,
       |  w.bad_kept = 0 AND w.bad_reconn = 0 AS law_ok
       |FROM b$graphHops i JOIN m$graphHops m USING (query_id)
       |JOIN nn USING (query_id)
       |CROSS JOIN ilaw w
       |ORDER BY i.query_id""".stripMargin
  }

  private val annGraphInsertAuditSql =
    s"""WITH $lshBandsCtes,
       |$graphServeCtes,
       |$hnswBuildCtes,
       |nodesd AS (
       |  SELECT e.vec_id AS node, (ih.h * 10) // ${1L << 48} AS decile
       |  FROM e JOIN ih ON ih.vec_id = e.vec_id),
       |ncq AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_cand
       |        FROM hcand GROUP BY 1),
       |nkq AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
       |        FROM ka$insertEfC GROUP BY 1),
       |pn AS (
       |  SELECT n.node, n.decile, COALESCE(ncq.n_cand, 0) AS n_cand,
       |    COALESCE(nkq.deg, 0) AS deg
       |  FROM nodesd n LEFT JOIN ncq USING (node) LEFT JOIN nkq USING (node)),
       |basea AS (
       |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_inserts,
       |    CAST(SUM(n_cand) AS BIGINT) AS n_cand,
       |    CAST(SUM(deg) AS BIGINT) AS n_kept,
       |    CAST(MAX(deg) AS BIGINT) AS max_deg,
       |    CAST(SUM(CASE WHEN n_cand > 0 AND deg = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_degzero
       |  FROM pn GROUP BY 1),
       |kpq AS (
       |  SELECT p.node, CAST(FLOOR(p.cij * 1000) + 1000 AS BIGINT) AS cm
       |  FROM hpair p
       |  JOIN ka$insertEfC ki ON ki.node = p.node AND ki.cr = p.ci
       |  JOIN ka$insertEfC kj ON kj.node = p.node AND kj.cr = p.cj),
       |tpq AS (
       |  SELECT p.node, CAST(FLOOR(p.cij * 1000) + 1000 AS BIGINT) AS cm
       |  FROM hpair p JOIN nkq ON nkq.node = p.node
       |  WHERE p.ci <= nkq.deg AND p.cj <= nkq.deg),
       |kdq AS (SELECT n.decile, CAST(SUM(k.cm) AS BIGINT) AS kept_sum,
       |          CAST(COUNT(*) AS BIGINT) AS kept_n
       |        FROM kpq k JOIN nodesd n USING (node) GROUP BY 1),
       |tdq AS (SELECT n.decile, CAST(SUM(t.cm) AS BIGINT) AS top_sum,
       |          CAST(COUNT(*) AS BIGINT) AS top_n
       |        FROM tpq t JOIN nodesd n USING (node) GROUP BY 1)
       |SELECT b.decile, b.n_inserts, b.n_cand, b.n_kept,
       |  (1000 * b.n_cand) // b.n_inserts AS avg_cand_milli,
       |  (1000 * b.n_kept) // b.n_inserts AS avg_deg_milli,
       |  CASE WHEN b.n_cand > 0 THEN (1000 * (b.n_cand - b.n_kept)) // b.n_cand
       |    ELSE CAST(0 AS BIGINT) END AS prune_milli,
       |  CASE WHEN kdq.kept_n > 0 THEN (kdq.kept_sum // kdq.kept_n) - 1000
       |    END AS kept_div_milli,
       |  CASE WHEN tdq.top_n > 0 THEN (tdq.top_sum // tdq.top_n) - 1000
       |    END AS top_div_milli,
       |  COALESCE(CASE WHEN kdq.kept_n > 0 AND tdq.top_n > 0 THEN
       |    (kdq.kept_sum // kdq.kept_n) <= (tdq.top_sum // tdq.top_n) END,
       |    TRUE) AS div_le,
       |  b.max_deg <= $insertEfC AND b.n_kept <= b.n_cand
       |    AND b.n_degzero = 0 AS deg_ok
       |FROM basea b LEFT JOIN kdq USING (decile) LEFT JOIN tdq USING (decile)
       |ORDER BY b.decile""".stripMargin

  // ------------------------------------------------ k-means|| init

  /** k-means|| oversampling rounds. */
  val kppRounds = 3
  /** Oversampling factor ℓ: each round samples each point with
    * probability min(1, ℓ·d²/φ) — in expectation ℓ new centers per
    * round, the paper's knob. */
  val kppEll = 4L

  /** Scalable k-means++ initialization audit (k-means||, Bahmani et al.
    * 2012) — the missing half of the clustering tier: `kmeans_step` /
    * `kmeans_train_rounds` audit Lloyd iterations FROM a seed set; this
    * audits how a deployment gets the seed set without k sequential
    * corpus passes (classic k-means++ is inherently serial — one center
    * per pass). Each round computes every vector's squared distance d²
    * to the current center set, the potential φ = Σ d², and admits each
    * vector independently with probability min(1, ℓ·d²/φ); ~ℓ centers
    * join per round, so k seeds cost O(log-ish) rounds of ONE broadcast
    * join + aggregate each.
    *
    * Determinism contract: exact int64 d² on the quantized base
    * (nrm − 2·dot + cn), md5 round-seeded coins, and the sampling
    * predicate as one integer cross-division
    * (u32 < (ℓ·d²·2³²) div φ — caps at probability 1 automatically when
    * the quotient exceeds 2³²; ℓ·d²·2³² ≤ 4·dim·(2·10³)²·2³² < 2⁶³ at
    * the quantization width). An already-chosen center has d² = 0 and
    * can never re-sample. The defining law — adding centers never
    * increases any point's min-d², so φ is monotone NON-increasing — is
    * deterministic (not in-expectation) and pinned per row as `phi_ok`.
    *
    * Emits one row per round boundary: centers held, φ against them,
    * vectors sampled (NULL on the final boundary — nothing samples
    * after the last round). Empty/degenerate corpora keep all rows
    * (aggregates of an empty base yield NULL φ, 0 centers); φ = 0
    * (all-identical corpus) disables sampling via the div guard.
    *
    * Scale shape: the center set stays ≤ 1 + rounds·O(ℓ) — always
    * broadcast; each round is one broadcast-join min-distance aggregate
    * over the session-cached base (map-side combine, the kmeans_step
    * shuffle) plus two scalar aggregates. Rounds are FIXED and small, so
    * the unpersisted lineage re-derives earlier rounds' tiny aggregates
    * (bounded by rounds², trivial); a deployment looping to larger k
    * checkpoints the center relation per round. */
  /** ONE copy of the k-means|| oversampling chain — the per-round
    * boundary-row frames (the audit's output) and the FINAL center set
    * (the seed `kmeans_seeded_convergence` feeds to Lloyd). Shared so the
    * audit and the seeded trainer read the identical chain (and the
    * identical session-cached center relations). */
  private def kppChain(s: SparkSession, dir: String)
      : (Seq[DataFrame], DataFrame) = {
    val e = quantizedBase(s, dir)
    def u32(seed: String) =
      conv(substring(md5(concat(lit(seed), col("vec_id").cast("string"))),
        1, 8), 16, 10).cast("long")
    val c0 = e.withColumn("u", u32("kpp0:"))
      .orderBy(col("u"), col("vec_id")).limit(1)
      .select(col("vec_id").as("cent_id"), col("q").as("cq"),
        col("nrm").as("cn"))
    var cents = c0
    val rows = scala.collection.mutable.Buffer.empty[DataFrame]
    for (r <- 0 to kppRounds) {
      // cached per round: dmin feeds φ, the sampling filter, the sampled
      // count and (via cents) the next round — four consumers, one pass
      val dmin = Util.cachedRelation(s, dir, s"kppDmin$r", "")(
        e.crossJoin(broadcast(cents))
          .withColumn("dd",
            col("nrm") - lit(2L) * dotQ(col("q"), col("cq")) + col("cn"))
          .groupBy(col("vec_id")).agg(min(col("dd")).as("d2")))
      val phi = dmin.agg(sum(col("d2")).as("phi"))
      val nc = cents.agg(count(lit(1)).as("n_centers"))
      if (r < kppRounds) {
        val sampled = dmin.crossJoin(broadcast(phi))
          .filter(col("phi") > 0 &&
            u32(s"kpp${r + 1}:") <
              expr(s"($kppEll * d2 * 4294967296L) div phi"))
          .select(col("vec_id"))
        rows += nc.crossJoin(phi)
          .crossJoin(broadcast(sampled.agg(count(lit(1)).as("n_sampled"))))
          .select(lit(r.toLong).as("r"), col("n_centers"), col("phi"),
            col("n_sampled"))
        // session-cache each (tiny) center generation: without it,
        // cents_r's lineage embeds dmin_{r-1} ⋈ phi_{r-1} which itself
        // re-derives dmin_{r-1} — a 2^r recompute chain over the base
        // (measured 38.6 s at the 10× corpus; caching collapses it to
        // one distance pass per round)
        cents = Util.cachedRelation(s, dir, s"kppCents${r + 1}", "")(
          cents.unionAll(
            e.join(sampled, "vec_id").select(col("vec_id").as("cent_id"),
              col("q").as("cq"), col("nrm").as("cn"))))
      } else {
        rows += nc.crossJoin(phi)
          .select(lit(r.toLong).as("r"), col("n_centers"), col("phi"),
            lit(null).cast("long").as("n_sampled"))
      }
    }
    (rows.toSeq, cents)
  }

  private def kmeansppInitAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (rows, _) = kppChain(s, dir)
    rows.reduce(_.unionAll(_))
      // vacuously true on the first boundary (no predecessor) — a
      // nullable BOOLEAN degrades to NaN in pandas-dtype replays
      .withColumn("phi_ok", coalesce(
        col("phi") <= lag(col("phi"), 1).over(Window.orderBy(col("r"))),
        lit(true)))
      .orderBy("r")
  }

  /** The k-means|| WITH-body (e, cents0 … cents[[kppRounds]] and the
    * per-round d/phi/nc/s relations) — ONE copy shared by the audit and
    * the seeded-convergence oracle (the ivfSqlCtes discipline). */
  private val kppSqlCtes = {
    def dotSql(a: String, b: String) =
      s"CAST(list_sum(list_transform(range(len($a)), i -> $a[i+1]*$b[i+1])) AS BIGINT)"
    def u32(seed: String) =
      s"CAST('0x' || substr(md5('$seed' || CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT)"
    def round(r: Int): String = {
      val sample = if (r < kppRounds)
        s""",s${r + 1} AS (
           |  SELECT d.vec_id FROM d$r d CROSS JOIN phi$r
           |  WHERE phi > 0 AND ${u32(s"kpp${r + 1}:")} <
           |    ($kppEll * d2 * 4294967296) // phi),
           |cents${r + 1} AS (
           |  SELECT * FROM cents$r
           |  UNION ALL
           |  SELECT e.vec_id AS cent_id, e.q AS cq, e.nrm AS cn
           |  FROM e JOIN s${r + 1} USING (vec_id))""".stripMargin
      else ""
      s"""d$r AS (
         |  SELECT e.vec_id,
         |    CAST(MIN(e.nrm - 2 * ${dotSql("e.q", "c.cq")} + c.cn)
         |      AS BIGINT) AS d2
         |  FROM e CROSS JOIN cents$r c GROUP BY 1),
         |phi$r AS (SELECT CAST(SUM(d2) AS BIGINT) AS phi FROM d$r),
         |nc$r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_centers FROM cents$r)
         |$sample""".stripMargin
    }
    s"""e AS (
       |  SELECT * FROM (
       |    SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm
       |    FROM (SELECT vec_id, $qvecSql AS q FROM embeddings))
       |  WHERE nrm > 0),
       |cents0 AS (
       |  SELECT vec_id AS cent_id, q AS cq, nrm AS cn FROM (
       |    SELECT *, row_number() OVER (ORDER BY ${u32("kpp0:")}, vec_id)
       |      AS rn
       |    FROM e)
       |  WHERE rn = 1),
       |${(0 to kppRounds).map(round).mkString(",\n")}""".stripMargin
  }

  private val kmeansppInitAuditSql = {
    val rowSelects = (0 to kppRounds).map { r =>
      val ns = if (r < kppRounds)
        s"(SELECT CAST(COUNT(*) AS BIGINT) FROM s${r + 1})"
      else "CAST(NULL AS BIGINT)"
      s"SELECT CAST($r AS BIGINT) AS r, n_centers, phi, $ns AS n_sampled " +
        s"FROM nc$r CROSS JOIN phi$r"
    }.mkString("\n  UNION ALL ")
    s"""WITH $kppSqlCtes,
       |rows_ AS (
       |  $rowSelects)
       |SELECT r, n_centers, phi, n_sampled,
       |  COALESCE(phi <= lag(phi) OVER (ORDER BY r), TRUE) AS phi_ok
       |FROM rows_ ORDER BY r""".stripMargin
  }

  /** k-means|| seeds → Lloyd, measured against the ad-hoc seed — the
    * experiment Bahmani et al. 2012 run in their Table 1, closing the
    * clustering tier end-to-end: `kmeanspp_init_audit` certifies HOW the
    * seed set is built, `kmeans_train_rounds` certifies the Lloyd loop
    * from the build-rule's ad-hoc seed; this runs the SAME
    * [[kmeansTrainRoundsK]]-round Lloyd loop from BOTH seeds and emits
    * the per-round inertia side by side. The seeded arm starts from
    * [[kppChain]]'s final center set (the identical session-cached
    * relations the audit built); the ad-hoc arm IS `kmeans_train_rounds`'
    * cached row set, so running all three queries pays each loop once.
    *
    * `ratio_milli` (seeded/ad-hoc inertia) and `seeded_wins` are DATA,
    * not pinned laws: the oversampled seed set holds ~1 + rounds·ℓ
    * centers vs the ad-hoc 8, so lower seeded inertia is the expected
    * outcome Bahmani measure, not a theorem (the spec pins it on a
    * fixture where it is provable). `active_*` keeps the center-count
    * asymmetry honest in the same row.
    *
    * Scale shape: two instances of the trainer's per-round plan (one
    * broadcast assignment argmax + one dim-bounded centroid update over
    * the session-cached base); the comparison itself is a zip of two
    * ≤ K-row metric sets. */
  private def kmeansSeededConvergence(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    val seedCents = kppChain(s, dir)._2
    // ONE fused Lloyd loop serves both arms (and populates
    // kmeans_train_rounds' cache entry for free)
    val armRows = lloydRows(s, dir, Seq(
      "kpp" -> (() => seedCents),
      "adhoc" -> (() => adhocSeed(s, dir))))
    val seeded = armRows("kpp")
    val adhoc = armRows("adhoc")
    val sk = seedCents.count()
    val ak = quantizedBase(s, dir)
      .filter(col("vec_id") < 10 && col("vec_id") % 5 =!= 0).count()
    seeded.zip(adhoc).map { case ((r, si, sa, _), (_, ai, aa, _)) =>
      (r, sk, si, sa, ak, ai, aa,
        if (ai > 0) Some(1000L * si / ai) else None, si <= ai)
    }.toDF("round", "seeded_k", "inertia_seeded", "active_seeded",
      "adhoc_k", "inertia_adhoc", "active_adhoc", "ratio_milli",
      "seeded_wins")
      .orderBy("round")
  }

  /** One Lloyd WITH-chain from a seed CTE (initial assignment + K−1
    * update/assign rounds), CTE names prefixed per arm — the
    * kmeans_train_rounds oracle math, parameterized so the two arms of
    * the seeded-convergence oracle are one copy. Assignments are
    * MATERIALIZED: each feeds its metric row and the next round. */
  private def lloydSqlChain(seedCte: String, pfx: String): String = {
    def assignSql(centsCte: String, out: String) =
      s"""$out AS MATERIALIZED (
         |  SELECT vec_id, cent_id, q, nrm, cn, dot FROM (
         |    SELECT e.vec_id, c.cent_id, e.q, e.nrm, c.cn,
         |      CAST(list_sum(list_transform(range(len(e.q)), i -> e.q[i+1]*c.cq[i+1])) AS BIGINT) AS dot,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        CAST(CAST(list_sum(list_transform(range(len(e.q)), i -> e.q[i+1]*c.cq[i+1])) AS BIGINT) AS DOUBLE)
         |          / sqrt(CAST(e.nrm*c.cn AS DOUBLE)) DESC, c.cent_id) AS arn
         |    FROM e CROSS JOIN $centsCte c)
         |  WHERE arn = 1)""".stripMargin
    val a0 = assignSql(seedCte, s"${pfx}a0")
    val rounds = (1 to kmeansTrainRoundsK - 1).map { r =>
      val prevA = s"${pfx}a${r - 1}"
      val prevC = if (r == 1) seedCte else s"${pfx}c${r - 1}"
      s"""${pfx}s$r AS (SELECT cent_id, COUNT(*) AS n_members FROM $prevA GROUP BY 1),
         |${pfx}nd$r AS (
         |  SELECT cent_id, d, CAST(floor(1.0 * sx / n_members) AS BIGINT) AS ndv
         |  FROM (SELECT cent_id, i AS d, CAST(SUM(q[i+1]) AS BIGINT) AS sx
         |        FROM $prevA, UNNEST(range(len(q))) t(i) GROUP BY 1, 2)
         |  JOIN ${pfx}s$r USING (cent_id)),
         |${pfx}c$r AS (
         |  SELECT c.cent_id, COALESCE(n.nq, c.cq) AS cq,
         |    COALESCE(n.nn, c.cn) AS cn
         |  FROM $prevC c LEFT JOIN (
         |    SELECT cent_id, nq,
         |      CAST(list_sum(list_transform(nq, x -> x*x)) AS BIGINT) AS nn
         |    FROM (SELECT cent_id, list(ndv ORDER BY d) AS nq
         |          FROM ${pfx}nd$r GROUP BY 1)) n USING (cent_id)),
         |${assignSql(s"${pfx}c$r", s"${pfx}a$r")}""".stripMargin
    }
    (a0 +: rounds).mkString(",\n")
  }

  /** Per-round (round, inertia, n_active) metric arms over one Lloyd
    * chain's assignments. */
  private def lloydSqlMetrics(pfx: String, iCol: String, aCol: String)
      : String =
    (1 to kmeansTrainRoundsK).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
         |  (SELECT CAST(COALESCE(SUM(nrm - 2*dot + cn), 0) AS BIGINT)
         |     FROM ${pfx}a${r - 1}) AS $iCol,
         |  (SELECT CAST(COUNT(DISTINCT cent_id) AS BIGINT)
         |     FROM ${pfx}a${r - 1}) AS $aCol""".stripMargin
    }.mkString("\nUNION ALL\n")

  private val kmeansSeededConvergenceSql =
    s"""WITH $kppSqlCtes,
       |aseed AS (
       |  SELECT vec_id AS cent_id, q AS cq, nrm AS cn FROM e
       |  WHERE vec_id < 10 AND vec_id % 5 <> 0),
       |${lloydSqlChain(s"cents$kppRounds", "sd")},
       |${lloydSqlChain("aseed", "ah")},
       |sk AS (SELECT CAST(COUNT(*) AS BIGINT) AS seeded_k
       |       FROM cents$kppRounds),
       |ak AS (SELECT CAST(COUNT(*) AS BIGINT) AS adhoc_k FROM aseed),
       |smet AS (
       |  ${lloydSqlMetrics("sd", "inertia_seeded", "active_seeded")}),
       |amet AS (
       |  ${lloydSqlMetrics("ah", "inertia_adhoc", "active_adhoc")})
       |SELECT round, seeded_k, inertia_seeded, active_seeded,
       |  adhoc_k, inertia_adhoc, active_adhoc,
       |  CASE WHEN inertia_adhoc > 0 THEN
       |    (1000 * inertia_seeded) // inertia_adhoc END AS ratio_milli,
       |  inertia_seeded <= inertia_adhoc AS seeded_wins
       |FROM smet JOIN amet USING (round) CROSS JOIN sk CROSS JOIN ak
       |ORDER BY round""".stripMargin

  val all: Seq[Q] = Seq(
    Q("kmeanspp_init_audit", kmeansppInitAudit,
      Some(kmeansppInitAuditSql)),
    Q("kmeans_seeded_convergence", kmeansSeededConvergence,
      Some(kmeansSeededConvergenceSql)),
    Q("ann_graph_greedy_audit", annGraphGreedyAudit,
      Some(annGraphGreedyAuditSql)),
    Q("ann_graph_build_vs_static", annGraphBuildVsStatic,
      Some(annGraphBuildVsStaticSql)),
    Q("ann_insert_gate", annInsertGate, Some(annInsertGateSql)),
    Q("ann_graph_maintain_audit", annGraphMaintainAudit,
      Some(annGraphMaintainAuditSql)),
    Q("ann_graph_delete_audit", annGraphDeleteAudit,
      Some(annGraphDeleteAuditSql)),
    Q("ann_graph_insert_audit", annGraphInsertAudit,
      Some(annGraphInsertAuditSql)),
    Q("ann_graph_layered_audit", annGraphLayeredAudit,
      Some(annGraphLayeredAuditSql)),
    Q("ann_graph_beam_sweep", annGraphBeamSweep, Some(annGraphBeamSweepSql)),
    Q("pca_power_step", pcaPowerStep, Some(pcaPowerStepSql)),
    Q("embedding_anisotropy", embeddingAnisotropy,
      Some(embeddingAnisotropySql)),
    Q("sq8_recall_audit", sq8RecallAudit, Some(sq8RecallAuditSql)),
    Q("matryoshka_recall", matryoshkaRecall, Some(matryoshkaRecallSql)),
    Q("rrf_hybrid_topk", rrfHybridTopk, Some(rrfHybridTopkSql)),
    Q("lsh_multiprobe_audit", lshMultiprobeAudit, Some(lshMultiprobeAuditSql)),
    Q("decontaminate_semantic", decontaminateSemantic,
      Some(decontaminateSemanticSql)),
    Q("label_centroids", labelCentroids, Some(labelCentroidsSql)),
    Q("knn_label_consistency", knnLabelConsistency, Some(knnLabelConsistencySql)),
    Q("semantic_dedup", semanticDedup, Some(semanticDedupSql)),
    Q("ann_recall_audit", annRecallAudit, Some(annRecallAuditSql)),
    Q("retrieval_quality_audit", retrievalQualityAudit,
      Some(retrievalQualityAuditSql)),
    Q("knn_brute_cosine", knnBruteCosine, Some(knnBruteCosineSql)),
    Q("knn_topk_agg", knnTopkAgg, Some(knnBruteCosineSql
      .replace("ORDER BY query_id, rk",
        "ORDER BY query_id, rk -- same oracle as knn_brute_cosine: TopKByScore Aggregator plan must agree"))),
    Q("ann_lsh_cosine", annLshCosine, Some(annLshCosineSql)),
    Q("dedup_embedding_neardup", dedupEmbeddingNeardup, Some(dedupEmbeddingNeardupSql)),
    Q("ann_ivf_cosine", annIvfCosine, Some(annIvfCosineSql)),
    Q("ivf_list_drift", ivfListDrift, Some(ivfListDriftSql)),
    Q("kmeans_step", kmeansStep, Some(kmeansStepSql)),
    Q("kmeans_train_rounds", kmeansTrainRounds, Some(kmeansTrainRoundsSql)),
    Q("ivf_probe_sweep", ivfProbeSweep, Some(ivfProbeSweepSql)),
    Q("embedding_stats", embeddingStats, Some(embeddingStatsSql)))
}
