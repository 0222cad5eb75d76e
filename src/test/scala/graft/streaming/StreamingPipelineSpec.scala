package graft.streaming

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import graft.SparkSpec
import graft.etl.Schemas

class StreamingPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val k1 = "1" * 44
  private val k2 = "2" * 44

  /** One staging-shaped CSV row (41 canonical columns). */
  private def stagingCsvRow(id: String, key: String, ocr: String, valor: String): String =
    Schemas.colunasDestino.map {
      case "id" => id
      case "chave_nfe" => key
      case "data_ultima_ocr" => ocr
      case "valor_nfe" => valor
      case "data_insercao" => "01/01/2025 00:00:00"
      case _ => ""
    }.mkString(";")

  test("pedidosStream: file queue → typed dedup merge, checkpoint is the ledger") {
    val root = tempDir("stream")
    val landing = Files.createDirectories(root.resolve("landing"))
    val dw = root.resolve("dw").toString
    val ckpt = root.resolve("ckpt").toString
    val header = Schemas.colunasDestino.mkString(";")

    Files.write(landing.resolve("f1.csv"),
      (header + "\n" +
        stagingCsvRow("1", k1, "01/01/2025 10:00:00", "10,50") + "\n" +
        stagingCsvRow("2", k1, "02/01/2025 10:00:00", "") + "\n" +
        stagingCsvRow("3", k2, "01/01/2025 09:00:00", "7,25") + "\n").getBytes)

    val q1 = StreamingPipeline.pedidosStream(spark, landing.toString, dw, ckpt)
    q1.awaitTermination()
    val dw1 = spark.read.schema(Schemas.fatSchema).parquet(dw)
      .orderBy("chave_nfe").collect()
    assert(dw1.length == 2)
    assert(dw1(0).getAs[String]("id") == "2") // newest event per key wins

    // second file arrives; restart from the same checkpoint → only the new
    // file is processed (the streaming ledger), and the merge coalesces
    Files.write(landing.resolve("f2.csv"),
      (header + "\n" +
        stagingCsvRow("9", k1, "01/01/2024 00:00:00", "99,99") + "\n").getBytes)
    val q2 = StreamingPipeline.pedidosStream(spark, landing.toString, dw, ckpt)
    q2.awaitTermination()
    val dw2 = spark.read.schema(Schemas.fatSchema).parquet(dw)
      .orderBy("chave_nfe").collect()
    assert(dw2.length == 2)
    val r = dw2(0)
    assert(r.getAs[Timestamp]("data_ultima_ocr") == ts("2025-01-02 10:00:00")) // old event kept
    assert(r.getAs[java.math.BigDecimal]("valor_nfe")
      .compareTo(new java.math.BigDecimal("99.99")) == 0) // coalesce filled
  }

  test("windowedCounts: watermarked sliding windows over a bounded stream") {
    val root = tempDir("winstream")
    val src = root.resolve("events")
    Seq(
      (1L, ts("2024-01-01 00:01:00"), 10L, "click", 1.0),
      (2L, ts("2024-01-01 00:04:00"), 10L, "click", 2.0),
      (3L, ts("2024-01-01 00:11:00"), 11L, "view", 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(src.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .parquet(src.toString)
    // Append would emit only watermark-closed windows, and a single
    // AvailableNow micro-batch never advances the watermark — use Complete
    // to observe all windows of the bounded replay.
    val out = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.windowedCounts(stream), "win_counts",
      org.apache.spark.sql.streaming.OutputMode.Complete)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // event at 00:01 lands in sliding windows [23:55,00:05) and [00:00,00:10)
    val clicks = rows.filter(_.getAs[String]("event_type") == "click")
    assert(clicks.map(_.getAs[Long]("n")).sum == 4) // 2 events × 2 windows each
    assert(clicks.exists(r => r.getAs[Long]("n") == 2)) // both in [00:00,00:10)
  }

  test("decontaminateStream: stream-static verdicts, stateless append mode") {
    val root = tempDir("decontstream")
    val src = root.resolve("docs")
    Seq(
      (1L, "alpha beta gamma delta"),        // shares "alpha beta gamma"
      (2L, "totally unrelated words here"),  // clean
      (3L, "xy"))                            // < 3 words → 0 grams, clean
      .toDF("doc_id", "text")
      .write.parquet(src.toString)
    val benchGrams = Seq("alpha beta gamma", "never seen").toDF("g")
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .parquet(src.toString)
    val out = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.decontaminateStream(stream, benchGrams), "decont_out")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_contaminated"),
          r.getAs[Boolean]("is_contaminated"))).toMap
    assert(out(1L) == (2L, 1L, true))
    assert(out(2L) == (2L, 0L, false))
    assert(out(3L) == (0L, 0L, false))
  }

  test("bloomGateStream: one-sided verdicts — zero bloom hits is provably clean") {
    val root = tempDir("bloomgate")
    val src = root.resolve("docs")
    val sf = "/root/testdata/sf0.001"
    // stream the real train split; static side = the real bench grams
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.filter("doc_id % 97 <> 0").select("doc_id", "text")
      .write.parquet(src.toString)
    import org.apache.spark.sql.functions._
    val benchGrams = docs.filter("doc_id % 97 = 0")
      .select(split(col("text"), " ").as("w"))
      .select(explode(array_distinct(
        graft.queries.CorpusOps.wordGrams(col("w"), 3))).as("g"))
      .distinct()
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .parquet(src.toString)
    val gate = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.bloomGateStream(stream, benchGrams), "bloom_gate")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_bloom_hits"),
          r.getAs[Boolean]("is_provably_clean")))).toMap
    // batch exact twin on the same corpus
    val exact = graft.SparkEntry.queries("decontaminate_ngrams")(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_contaminated")))).toMap
    assert(gate.keySet == exact.keySet && gate.nonEmpty)
    exact.foreach { case (id, (nGrams, nCont)) =>
      val (gGrams, gHits, clean) = gate(id)
      assert(gGrams == nGrams, s"doc $id gram count")
      // upper bound: the bitmap admits every true hit (no false negatives)
      assert(gHits >= nCont, s"doc $id: bloom hits $gHits < exact $nCont")
      // one-sided exactness: provably-clean implies exactly clean
      assert(!clean || nCont == 0L, s"doc $id: flagged clean but contaminated")
      assert(clean == (gHits == 0L))
    }
    // the gate must actually gate: contaminated docs are all bloom-positive,
    // and the false-positive surplus is bounded from the BITMAP PARAMETERS,
    // not from this generation's data shape: per-gram FPR ≈ (k·n/m)^k, each
    // clean doc queues iff ANY of its grams false-positives, so expected FP
    // docs ≤ (total train gram probes)·p. 100× that expectation plus a
    // +3 floor makes the bound generation-proof (a regenerated corpus only
    // moves n and the probe count, which the bound tracks) while still
    // catching a broken gate, which queues O(corpus) docs.
    val contaminated = exact.count(_._2._2 >= 1)
    val queued = gate.count(_._2._2 >= 1)
    val nBench = benchGrams.count().toDouble
    val m = (1L << graft.queries.CorpusOps.bloomLog2Bits(spark)).toDouble
    val perGramFpr = math.pow(4.0 * nBench / m, 4.0) // k = 4 hash probes
    val totalProbes = exact.values.map(_._1).sum.toDouble
    val fpBudget = 3L + math.ceil(100.0 * totalProbes * perGramFpr).toLong
    assert(contaminated >= 1)
    assert(queued >= contaminated && queued <= contaminated + fpBudget,
      s"verify queue $queued vs contaminated $contaminated (fp budget $fpBudget)")
  }

  test("ivfAssignStream: one-hot arrivals assign exactly; per-list counts match ivf_list_drift") {
    import org.apache.spark.sql.functions.col
    // planted: quantizer dims from the one-hot corpus, arrivals match lists
    val root = tempDir("ivfstream")
    val src = root.resolve("vecs") // the parquet write creates it
    def oneHot(d: Int): Array[Float] =
      Array.tabulate(8)(i => if (i == d) 1.0f else 0.0f)
    val corpus = Seq(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 6L -> 4, 7L -> 5,
      8L -> 6, 9L -> 7).map { case (id, d) => (id, oneHot(d), 0) }
      .toDF("vec_id", "embedding", "label")
    val quantizer = graft.queries.SimilarityOps.ivfQuantizerRow(corpus)
    Seq((100L, oneHot(0), 0), (101L, oneHot(1), 0),
        (102L, Array.fill(8)(0.0f), 0)) // zero-norm: must drop
      .toDF("vec_id", "embedding", "label")
      .write.parquet(src.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .parquet(src.toString)
    val out = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.ivfAssignStream(stream, quantizer), "ivf_assign")
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("cent_id"), r.getAs[Double]("ccos")))).toMap
    assert(out.keySet == Set(100L, 101L))
    assert(out(100L) == ((1L, 1.0)))
    assert(out(101L) == ((2L, 1.0)))

    // real data: streaming per-list counts == batch drift's n_base + n_inc
    val sf = "/root/testdata/sf0.001"
    val src2 = Files.createDirectories(root.resolve("real"))
    Files.copy(java.nio.file.Paths.get(s"$sf/embeddings.parquet"),
      src2.resolve("embeddings.parquet"))
    val corpusReal = spark.read.parquet(src2.toString)
    val stream2 = spark.readStream
      .schema(corpusReal.schema).parquet(src2.toString)
    val streamed = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.ivfAssignStream(stream2,
        graft.queries.SimilarityOps.ivfQuantizerRow(corpusReal)), "ivf_assign_real")
      .groupBy("cent_id").count().collect()
      .map(r => r.getAs[Long]("cent_id") -> r.getAs[Long]("count")).toMap
    val batch = graft.SparkEntry.queries("ivf_list_drift")(spark, sf).collect()
      .map(r => r.getAs[Long]("cent_id") ->
        (r.getAs[Long]("n_base") + r.getAs[Long]("n_inc")))
      .filter(_._2 > 0).toMap
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed.values.sum > 0)
  }

  test("nbScoreStream: exact batch parity; unseen words take the Laplace default") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val root = tempDir("nbstream")
    val src = Files.createDirectories(root.resolve("docs"))
    Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      src.resolve("documents.parquet"))
    val corpus = spark.read.parquet(src.toString)
    val weights = graft.queries.TextOps.nbWeightsRow(corpus)
    val stream = spark.readStream
      .schema(corpus.schema).parquet(src.toString)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[String]("lang")) ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("sum_llr_milli"),
          r.getAs[Long]("avg_llr_milli"), r.getAs[Boolean]("pred_target")))
    val streamed = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.nbScoreStream(stream, weights), "nb_score")
      .collect().map(key).toMap
    val batch = graft.SparkEntry.queries("nb_quality_score")(spark, sf)
      .collect().map(key).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)

    // an arrival made ENTIRELY of unseen words scores n·w0: the batch
    // scorer would give a zero-count word exactly the Laplace default
    val src2 = root.resolve("novel")
    Seq((9001L, "zzz yyy xxx", "en", "s0", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(src2.toString)
    val stream2 = spark.readStream
      .schema(corpus.schema).parquet(src2.toString)
    val novel = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.nbScoreStream(stream2, weights), "nb_score_novel")
      .collect()
    assert(novel.length == 1)
    val w0 = weights.collect().head.getAs[Long]("w0")
    assert(novel.head.getAs[Long]("sum_llr_milli") == 3 * w0)
    assert(novel.head.getAs[Long]("avg_llr_milli") == w0)
  }

  test("knScoreStream: exact batch parity with kn_bigram_ppl") {
    val sf = "/root/testdata/sf0.001"
    val root = tempDir("knstream")
    val src = Files.createDirectories(root.resolve("docs"))
    Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      src.resolve("documents.parquet"))
    val corpus = spark.read.parquet(src.toString)
    val model = graft.queries.LmOps.knModelRow(corpus)
    val stream = spark.readStream
      .schema(corpus.schema).parquet(src.toString)
    def key(r: org.apache.spark.sql.Row) =
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("n_oov_bigrams"),
          r.getAs[Long]("kn_bits_milli")))
    val streamed = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.knScoreStream(stream, model), "kn_score")
      .collect().map(key).toMap
    val batch = graft.SparkEntry.queries("kn_bigram_ppl")(spark, sf)
      .collect().map(key).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)

    // an arrival of entirely novel words exercises the OOV floor: every
    // bigram scores p = 1 micro -> 19000 milli-bits, all counted OOV
    val src2 = root.resolve("novel")
    Seq((9001L, "zzz yyy xxx", "en", "s0", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(src2.toString)
    val stream2 = spark.readStream
      .schema(corpus.schema).parquet(src2.toString)
    val novel = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.knScoreStream(stream2, model), "kn_score_novel")
      .collect().map(key).toMap
    assert(novel == Map(9001L -> ((2L, 2L, 19000L))))
  }

  test("temperatureSampleStream: aggregated parity with temperature_sample_audit") {
    val sf = "/root/testdata/sf0.001"
    val root = tempDir("tsampstream")
    val src = Files.createDirectories(root.resolve("docs"))
    Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      src.resolve("documents.parquet"))
    val corpus = spark.read.parquet(src.toString)
    val weights = graft.queries.CorpusOps.tempWeightsRow(corpus)
    val stream = spark.readStream
      .schema(corpus.schema).parquet(src.toString)
    val streamed = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.temperatureSampleStream(stream, weights),
      "temp_sample").collect()
    assert(streamed.nonEmpty)
    // fold the per-arrival verdicts to the batch audit's source grain
    val agg = streamed.groupBy(_.getAs[String]("source")).map {
      case (s, rows) =>
        val b = rows.head.getAs[Long]("boost_milli")
        assert(rows.forall(_.getAs[Long]("boost_milli") == b))
        val out = rows.map(_.getAs[Long]("copies")).sum
        (s, rows.size.toLong, b, out, out - (b / 1000L) * rows.size,
          1000L * out / rows.size)
    }.toSet
    val batch = graft.SparkEntry
      .queries("temperature_sample_audit")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(agg == batch)

    // a source the weights were never trained on emits once (boost 1000)
    val src2 = root.resolve("novel")
    Seq((9001L, "zz qq", "en", "never_seen", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(src2.toString)
    val stream2 = spark.readStream
      .schema(corpus.schema).parquet(src2.toString)
    val novel = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.temperatureSampleStream(stream2, weights),
      "temp_sample_novel").collect()
    assert(novel.length == 1)
    assert(novel.head.getAs[Long]("boost_milli") == 1000L)
    assert(novel.head.getAs[Long]("copies") == 1L)
  }

  test("dsirScoreStream: exact batch parity with dsir_hashed_ngram_weights") {
    val sf = "/root/testdata/sf0.001"
    val root = tempDir("dsirstream")
    val src = Files.createDirectories(root.resolve("docs"))
    Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      src.resolve("documents.parquet"))
    val corpus = spark.read.parquet(src.toString)
    val model = graft.queries.CurationOps.dsirModelRow(corpus)
    val stream = spark.readStream
      .schema(corpus.schema).parquet(src.toString)
    def key(r: org.apache.spark.sql.Row) =
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("weight_milli"),
          r.getAs[Boolean]("keep")))
    val streamed = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.dsirScoreStream(stream, model), "dsir_score")
      .collect().map(key).toMap
    val batch = graft.SparkEntry.queries("dsir_hashed_ngram_weights")(spark, sf)
      .collect().map(key).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)

    // unseen-bucket fallback: a TINY training corpus leaves most of the
    // 256 buckets unoccupied; an arrival hashing into them scores w0
    val tinySrc = root.resolve("tiny")
    Seq((1L, "aa bb cc", "en", "s", 0L), (2L, "aa bb", "xx", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(tinySrc.toString)
    val tinyModel = graft.queries.CurationOps
      .dsirModelRow(spark.read.parquet(tinySrc.toString))
    val mr = tinyModel.collect().head
    val wm = mr.getAs[scala.collection.Map[Long, Long]]("wm")
    val w0 = mr.getAs[Long]("w0")
    val src2 = root.resolve("novel")
    Seq((9001L, "zz qq rr", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(src2.toString)
    val stream2 = spark.readStream
      .schema(corpus.schema).parquet(src2.toString)
    val novel = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.dsirScoreStream(stream2, tinyModel),
      "dsir_score_novel").collect()
    def h32(x: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8),
      16)
    val buckets = Seq("zz qq", "qq rr")
      .map(g => h32(g) % graft.queries.CurationOps.dsirBuckets)
    assert(buckets.exists(b => !wm.contains(b)), "fixture hit no unseen bucket")
    assert(novel.length == 1)
    assert(novel.head.getAs[Long]("weight_milli") ==
      buckets.map(b => wm.getOrElse(b, w0)).sum)

    // zero-bigram degradation (ADVICE r12): a training corpus where every
    // doc has < 2 words yields an EMPTY feature relation; the model must
    // degrade to the neutral log-ratio (w0 = 0, empty map) so the gate
    // emits weight 0 / keep false — never NULL verdicts
    val emptySrc = root.resolve("nobigrams")
    Seq((1L, "solo", "en", "s", 0L), (2L, null.asInstanceOf[String], "xx", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(emptySrc.toString)
    val degModel = graft.queries.CurationOps
      .dsirModelRow(spark.read.parquet(emptySrc.toString))
    val dm = degModel.collect().head
    assert(dm.getAs[Long]("w0") == 0L)
    assert(dm.getAs[scala.collection.Map[Long, Long]]("wm").isEmpty)
    val stream3 = spark.readStream
      .schema(corpus.schema).parquet(src2.toString)
    val degraded = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.dsirScoreStream(stream3, degModel),
      "dsir_score_degraded").collect()
    assert(degraded.length == 1)
    assert(degraded.head.getAs[Long]("weight_milli") == 0L)
    assert(!degraded.head.getAs[Boolean]("keep"))
  }

  test("cmsCellStream: running counters ≡ batch cells, additive across batches") {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, max}
    val sf = "/root/testdata/sf0.001"
    val root = tempDir("cmsstream")
    val src = Files.createDirectories(root.resolve("docs"))
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
    // two files → two micro-batches under maxFilesPerTrigger(1): the
    // additivity claim (state after the full feed == batch sketch of the
    // full corpus) is only a claim if state actually crosses a batch
    // NULL-safe md5-coin halving (a plain doc_id parity would alias with
    // the testdata's source = id %% 20 rule and put every source entirely
    // in ONE file, so no group would ever see a second micro-batch)
    val coin = coalesce(expr(
      "conv(substring(md5(cast(doc_id as string)), 1, 6), 16, 10) % 2"),
      lit("0"))
    corpus.filter(coin === "0").coalesce(1)
      .write.parquet(root.resolve("a").toString)
    corpus.filter(coin =!= "0").coalesce(1)
      .write.parquet(root.resolve("b").toString)
    // drop file a, process, then drop file b into the SAME live query —
    // two real micro-batches, so the counters demonstrably carried state
    Files.list(root.resolve("a")).forEach(p => if (p.toString.endsWith(".parquet"))
      Files.copy(p, src.resolve("a.parquet")))
    val stream = spark.readStream.schema(corpus.schema).parquet(src.toString)
    val q = StreamingPipeline.cmsCellStream(stream).writeStream
      .format("memory").queryName("cms_cells")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .start()
    q.processAllAvailable()
    Files.list(root.resolve("b")).forEach(p => if (p.toString.endsWith(".parquet"))
      Files.copy(p, src.resolve("b.parquet")))
    q.processAllAvailable()
    q.stop()
    val updates = spark.table("cms_cells")
    val got = updates
      // counters only grow, so each cell's LATEST value is its max
      .groupBy(col("row"), col("bucket")).agg(max(col("cnt")).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    // cross-batch additivity really exercised: some cell updated twice
    assert(updates.groupBy(col("row"), col("bucket")).count()
      .filter(col("count") >= 2).count() > 0)
    val expected = graft.queries.SketchOps.cmsCellKeys(corpus)
      .groupBy(col("row"), col("bucket")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("countSketchStream: running signed counters ≡ batch cells across batches") {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, struct, max, sum}
    val sf = "/root/testdata/sf0.001"
    val root = tempDir("csstream")
    val src = Files.createDirectories(root.resolve("docs"))
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
    val coin = coalesce(expr(
      "conv(substring(md5(cast(doc_id as string)), 1, 6), 16, 10) % 2"),
      lit("0"))
    corpus.filter(coin === "0").coalesce(1)
      .write.parquet(root.resolve("a").toString)
    corpus.filter(coin =!= "0").coalesce(1)
      .write.parquet(root.resolve("b").toString)
    Files.list(root.resolve("a")).forEach(p => if (p.toString.endsWith(".parquet"))
      Files.copy(p, src.resolve("a.parquet")))
    val stream = spark.readStream.schema(corpus.schema).parquet(src.toString)
    val q = StreamingPipeline.countSketchStream(stream).writeStream
      .format("memory").queryName("cs_cells")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .start()
    q.processAllAvailable()
    Files.list(root.resolve("b")).forEach(p => if (p.toString.endsWith(".parquet"))
      Files.copy(p, src.resolve("b.parquet")))
    q.processAllAvailable()
    q.stop()
    val updates = spark.table("cs_cells")
    // a signed counter is NOT monotone — recover each cell's latest row
    // via the monotone n_upd companion, exactly as a sink consumer would
    val got = updates.groupBy(col("row"), col("bucket"))
      .agg(max(struct(col("n_upd"), col("cnt"))).as("m"))
      .select(col("row"), col("bucket"), col("m.cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    // cross-batch additivity really exercised: some cell updated twice
    assert(updates.groupBy(col("row"), col("bucket")).count()
      .filter(col("count") >= 2).count() > 0)
    val expected = graft.queries.SketchOps.csCellKeys(corpus)
      .groupBy(col("row"), col("bucket")).agg(sum(col("sgn")).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == expected)
    assert(got.nonEmpty)
    // signedness really exercised: some live counter is negative
    assert(got.values.exists(_ < 0L))
  }

  test("rankCellStream: running quantile-sketch cells ≡ batch cells across batches") {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, max}
    val sf = "/root/testdata/sf0.001"
    val root = tempDir("rankstream")
    val src = Files.createDirectories(root.resolve("docs"))
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
    val coin = coalesce(expr(
      "conv(substring(md5(cast(doc_id as string)), 1, 6), 16, 10) % 2"),
      lit("0"))
    corpus.filter(coin === "0").coalesce(1)
      .write.parquet(root.resolve("a").toString)
    corpus.filter(coin =!= "0").coalesce(1)
      .write.parquet(root.resolve("b").toString)
    Files.list(root.resolve("a")).forEach(p => if (p.toString.endsWith(".parquet"))
      Files.copy(p, src.resolve("a.parquet")))
    val stream = spark.readStream.schema(corpus.schema).parquet(src.toString)
    val q = StreamingPipeline.rankCellStream(stream).writeStream
      .format("memory").queryName("rank_cells")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .start()
    q.processAllAvailable()
    Files.list(root.resolve("b")).forEach(p => if (p.toString.endsWith(".parquet"))
      Files.copy(p, src.resolve("b.parquet")))
    q.processAllAvailable()
    q.stop()
    val updates = spark.table("rank_cells")
    val got = updates
      .groupBy(col("i")).agg(max(col("cnt")).as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // cross-batch additivity really exercised: some cell updated twice
    assert(updates.groupBy(col("i")).count()
      .filter(col("count") >= 2).count() > 0)
    val expected = graft.queries.SketchOps.rankCellKeys(corpus)
      .groupBy(col("i")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(got.nonEmpty)
    // the sketch the stream maintains is the one the batch audit reads:
    // every non-zero batch cell is present with the same packed index
    assert(expected.keys.forall(i =>
      i >= 0 && i < graft.queries.SketchOps.rankCells))
  }

  test("zipfDriftStream: final emission ≡ batch zipf_slope_audit; drift emitted across batches") {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit}
    val sf = "/root/testdata/sf0.001"
    val root = tempDir("zipfstream")
    val src = Files.createDirectories(root.resolve("docs"))
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
    val coin = coalesce(expr(
      "conv(substring(md5(cast(doc_id as string)), 1, 6), 16, 10) % 2"),
      lit("0"))
    corpus.filter(coin === "0").coalesce(1)
      .write.parquet(root.resolve("a").toString)
    corpus.filter(coin =!= "0").coalesce(1)
      .write.parquet(root.resolve("b").toString)
    Files.list(root.resolve("a")).forEach(p => if (p.toString.endsWith(".parquet"))
      Files.copy(p, src.resolve("a.parquet")))
    val stream = spark.readStream.schema(corpus.schema).parquet(src.toString)
    // capacity ≥ any plausible distinct-trigram count of sf0.001 →
    // the exact (no-eviction) regime the parity contract covers
    val q = StreamingPipeline.zipfDriftStream(stream, capacity = 1 << 20)
      .writeStream.format("memory").queryName("zipf_drift")
      .outputMode("append").start()
    q.processAllAvailable()
    Files.list(root.resolve("b")).forEach(p => if (p.toString.endsWith(".parquet"))
      Files.copy(p, src.resolve("b.parquet")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("zipf_drift").collect().sortBy(_.getLong(0))
    assert(rows.length == 2) // one emission per micro-batch
    val Array(first, last) = rows
    assert(last.getLong(2) == 0L, "eviction fired in the exact regime")
    // final emission ≡ the batch audit over the SAME full corpus,
    // bit for bit (shared integer log/OLS math, no approximation left)
    val b = graft.SparkEntry.queries("zipf_slope_audit")(spark, sf)
      .collect()(0)
    assert(last.getLong(3) == b.getLong(0))
    assert(last.getDouble(4) == b.getDouble(1))
    assert(last.getDouble(5) == b.getDouble(2))
    assert(last.getDouble(6) == b.getDouble(3))
    // drift: no previous slope on the first batch; exact delta on the
    // second (the half-corpus slope genuinely differs, so the monitor
    // demonstrably measured a change, not 0 ≡ 0)
    assert(first.isNullAt(7))
    assert(last.getDouble(7) == last.getDouble(4) - first.getDouble(4))
    assert(first.getDouble(4) != last.getDouble(4))

    // eviction regime: a tiny capacity must shed tracked grams loudly
    // while still emitting every field (the approximate-monitor path)
    val src2 = Files.createDirectories(root.resolve("docs2"))
    Files.list(root.resolve("a")).forEach(p => if (p.toString.endsWith(".parquet"))
      Files.copy(p, src2.resolve("a.parquet")))
    val stream2 = spark.readStream.schema(corpus.schema)
      .parquet(src2.toString)
    val q2 = StreamingPipeline.zipfDriftStream(stream2, capacity = 8)
      .writeStream.format("memory").queryName("zipf_drift_small")
      .outputMode("append").start()
    q2.processAllAvailable()
    q2.stop()
    val small = spark.table("zipf_drift_small").collect()
    assert(small.length == 1)
    assert(small(0).getLong(1) == 8L && small(0).getLong(2) > 0L)
    assert(small(0).getLong(3) == 8L && !small(0).isNullAt(4))
  }

  test("tvDriftStream: final emissions ≡ batch source_tv_drift; " +
    "mid-stream rows are the half-corpus's own exact TV") {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit}
    val sf = "/root/testdata/sf0.001"
    val root = tempDir("tvstream")
    val src = Files.createDirectories(root.resolve("docs"))
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
    // NULL-safe md5-coin halving (the kmv lesson: a doc_id parity split
    // aliases with source = id % 20 and starves the second batch)
    val coin = coalesce(expr(
      "conv(substring(md5(cast(doc_id as string)), 1, 6), 16, 10) % 2"),
      lit("0"))
    corpus.filter(coin === "0").coalesce(1)
      .write.parquet(root.resolve("a").toString)
    corpus.filter(coin =!= "0").coalesce(1)
      .write.parquet(root.resolve("b").toString)
    Files.list(root.resolve("a")).forEach(p => if (p.toString.endsWith(".parquet"))
      Files.copy(p, src.resolve("a.parquet")))
    val stream = spark.readStream.schema(corpus.schema).parquet(src.toString)
    val q = StreamingPipeline.tvDriftStream(stream).writeStream
      .format("memory").queryName("tv_drift").outputMode("append").start()
    q.processAllAvailable()
    Files.list(root.resolve("b")).forEach(p => if (p.toString.endsWith(".parquet"))
      Files.copy(p, src.resolve("b.parquet")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("tv_drift").collect()
    def asMap(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4), r.getString(5), r.getLong(6)))).toMap
    val batches = rows.groupBy(_.getLong(7))
    assert(batches.keySet == Set(1L, 2L)) // one emission set per batch
    // final emissions ≡ the batch query over the SAME full corpus,
    // bit for bit (shared gram rule + integer micro math)
    val expected = graft.SparkEntry.queries("source_tv_drift")(spark, sf)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4), r.getString(5), r.getLong(6)))).toMap
    assert(asMap(batches(2L)) == expected)
    assert(expected.nonEmpty)
    // the mid-stream emission is the HALF corpus's own exact TV: replay
    // the batch query on batch a's documents alone
    val half = tempDir("tvhalf")
    corpus.filter(coin === "0")
      .write.parquet(half.resolve("documents.parquet").toString)
    val halfExpected = graft.SparkEntry
      .queries("source_tv_drift")(spark, half.toString)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4), r.getString(5), r.getLong(6)))).toMap
    assert(asMap(batches(1L)) == halfExpected)
    // drift genuinely measured: at least one source's TV moved between
    // the half corpus and the full one
    assert(halfExpected.exists { case (s, h) =>
      expected.get(s).exists(_._3 != h._3) })
  }

  test("kmvSketchStream: final per-source sketch ≡ batch bottom-k recount") {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit}
    val sf = "/root/testdata/sf0.001"
    val root = tempDir("kmvstream")
    val src = Files.createDirectories(root.resolve("docs"))
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
    // NULL-safe md5-coin halving (a plain doc_id parity would alias with
    // the testdata's source = id %% 20 rule and put every source entirely
    // in ONE file, so no group would ever see a second micro-batch)
    val coin = coalesce(expr(
      "conv(substring(md5(cast(doc_id as string)), 1, 6), 16, 10) % 2"),
      lit("0"))
    corpus.filter(coin === "0").coalesce(1)
      .write.parquet(root.resolve("a").toString)
    corpus.filter(coin =!= "0").coalesce(1)
      .write.parquet(root.resolve("b").toString)
    Files.list(root.resolve("a")).forEach(p => if (p.toString.endsWith(".parquet"))
      Files.copy(p, src.resolve("a.parquet")))
    val stream = spark.readStream.schema(corpus.schema).parquet(src.toString)
    val q = StreamingPipeline.kmvSketchStream(stream).writeStream
      .format("memory").queryName("kmv_sketch").outputMode("append").start()
    q.processAllAvailable()
    Files.list(root.resolve("b")).forEach(p => if (p.toString.endsWith(".parquet"))
      Files.copy(p, src.resolve("b.parquet")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("kmv_sketch").collect()
    val got = rows.groupBy(_.getString(0)).map { case (s, rs) =>
      val last = rs.maxBy(_.getLong(4))
      s -> ((last.getLong(1),
        if (last.isNullAt(2)) None else Some(last.getLong(2)),
        last.getLong(3)))
    }
    // batch recount of the sketch-only estimator over the full corpus
    val k = graft.queries.SketchOps.kmvK
    val dom = graft.queries.SketchOps.kmvDomain
    val expected = graft.queries.SketchOps.kmvKeyed(corpus)
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1).map { case (s, rs) =>
        val bottom = rs.map(r => (r._3, r._2)).distinct.sorted.take(k)
        val n = bottom.size.toLong
        val hk = if (n >= k) Some(bottom.last._1) else None
        val est = if (n < k) n
          else hk.filter(_ > 0).map((k - 1).toLong * dom / _).getOrElse(0L)
        s -> ((n, hk, est))
      }
    assert(got == expected)
    // cross-batch growth actually happened: at least one source emitted
    // two updates (state merged across micro-batches)
    assert(rows.exists(_.getLong(4) == 2L))
  }

  test("prioritySampleStream: final per-source rows ≡ batch priority_sample_audit") {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit}
    val sf = "/root/testdata/sf0.001"
    val root = tempDir("priostream")
    val src = Files.createDirectories(root.resolve("docs"))
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
    val coin = coalesce(expr(
      "conv(substring(md5(cast(doc_id as string)), 1, 6), 16, 10) % 2"),
      lit("0"))
    corpus.filter(coin === "0").coalesce(1)
      .write.parquet(root.resolve("a").toString)
    corpus.filter(coin =!= "0").coalesce(1)
      .write.parquet(root.resolve("b").toString)
    Files.list(root.resolve("a")).forEach(p => if (p.toString.endsWith(".parquet"))
      Files.copy(p, src.resolve("a.parquet")))
    val stream = spark.readStream.schema(corpus.schema).parquet(src.toString)
    val q = StreamingPipeline.prioritySampleStream(stream).writeStream
      .format("memory").queryName("prio_sample").outputMode("append").start()
    q.processAllAvailable()
    Files.list(root.resolve("b")).forEach(p => if (p.toString.endsWith(".parquet"))
      Files.copy(p, src.resolve("b.parquet")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("prio_sample").collect()
    val got = rows.groupBy(_.getString(0)).map { case (s, rs) =>
      val last = rs.maxBy(_.getLong(7))
      s -> ((last.getLong(1), last.getLong(2), last.getLong(3),
        last.getLong(4), last.getLong(5),
        if (last.isNullAt(6)) None else Some(last.getLong(6))))
    }
    val batch = graft.SparkEntry.queries("priority_sample_audit")(spark, sf)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getLong(6))))).toMap
    assert(got == batch)
    assert(rows.exists(_.getLong(7) == 2L), "state must cross a micro-batch")
  }

  test("semanticGateStream: exact batch parity with decontaminate_semantic") {
    import org.apache.spark.sql.functions.{col, not}
    val sf = "/root/testdata/sf0.001"
    val root = tempDir("semgate")
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    // arrivals = the train side (bench items live outside the train feed)
    val src = root.resolve("arrivals")
    corpus.filter(not(col("vec_id") % 5 === 0 && col("vec_id") < 25))
      .write.parquet(src.toString)
    val stream = spark.readStream
      .schema(corpus.schema).parquet(src.toString)
    val streamed = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.semanticGateStream(stream,
        graft.queries.SimilarityOps.semanticBenchRow(corpus)), "sem_gate")
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("bench_id"), r.getAs[Double]("cos"),
          r.getAs[Boolean]("contaminated")))).toMap
    val batch = graft.SparkEntry.queries("decontaminate_semantic")(spark, sf)
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("bench_id"), r.getAs[Double]("cos"),
          r.getAs[Boolean]("contaminated")))).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("pqEncodeStream: exact batch parity with the PQ encode on real sf0.001 data") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val root = tempDir("pqstream")
    val src = Files.createDirectories(root.resolve("vecs"))
    Files.copy(java.nio.file.Paths.get(s"$sf/embeddings.parquet"),
      src.resolve("embeddings.parquet"))
    val corpus = spark.read.parquet(src.toString)
    val stream = spark.readStream
      .schema(corpus.schema).parquet(src.toString)
    val streamed = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.pqEncodeStream(stream,
        graft.queries.PqOps.pqCodebookRow(corpus)), "pq_encode_stream")
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("m")) ->
        ((r.getAs[Long]("code"), r.getAs[Long]("dist")))).toMap
    // the stream encode of the whole corpus IS the batch encoded relation:
    // same codes, same exact distances, row for row
    val batch = graft.queries.PqOps.pqEncoded(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("m")) ->
        ((r.getAs[Long]("code"), r.getAs[Long]("dist")))).toMap
    assert(streamed == batch)
    assert(streamed.size == batch.size && streamed.nonEmpty)

    // zero-norm arrivals drop; ties keep the lowest code (strict < fold)
    val src2 = Files.createDirectories(root.resolve("tie"))
    def const(c: Float): Array[Float] = Array.fill(64)(c)
    (0 until 8).map(j => (j.toLong, const((j + 1) * 0.01f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(src2.resolve("cb.parquet").toString)
    val cbCorpus = spark.read.parquet(src2.resolve("cb.parquet").toString)
    val arrivalsDir = root.resolve("arrivals") // the parquet write creates it
    Seq((100L, const(0.035f), 0),            // ties codes 2 and 3 → 2
        (101L, Array.fill(64)(0.0f), 0))     // zero-norm: must drop
      .toDF("vec_id", "embedding", "label")
      .write.parquet(arrivalsDir.toString)
    val stream2 = spark.readStream
      .schema(cbCorpus.schema).parquet(arrivalsDir.toString)
    val out2 = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.pqEncodeStream(stream2,
        graft.queries.PqOps.pqCodebookRow(cbCorpus)), "pq_encode_tie")
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("m")) ->
        ((r.getAs[Long]("code"), r.getAs[Long]("dist")))).toMap
    assert(out2.keySet == (0 until 4).map(m => (100L, m)).toSet)
    (0 until 4).foreach(m => assert(out2((100L, m)) == ((2L, 400L)), s"m=$m"))
  }

  test("annServeStream: per-query parity with ann_graph_greedy_audit's " +
    "walk (entry, landing, IEEE cosine, moves) on real sf0.001 data") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val idx = graft.queries.SimilarityOps.graphNeighborIndex(spark, sf)
    val entry = graft.queries.SimilarityOps.graphEntryRow(spark, sf)
    val src = tempDir("annserve").resolve("vecs")
    // arrivals = the whole embeddings table (every valid vector is a
    // query), plus one planted zero-norm row that must drop
    // (the parquet write below creates src itself)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dim = {
      val r = emb.filter(col("embedding").isNotNull).limit(1).collect()(0)
      r.getSeq[Float](r.fieldIndex("embedding")).length
    }
    emb.unionByName(Seq((99999L, Array.fill(dim)(0.0f), 0))
        .toDF("vec_id", "embedding", "label"))
      .write.parquet(src.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .parquet(src.toString)
    val out = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.annServeStream(stream, idx, entry), "ann_serve")
      .collect()
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("entry_id"), r.getAs[Long]("final_id"),
          r.getAs[Double]("final_cos"), r.getAs[Long]("moves")))).toMap
    assert(!out.contains(99999L), "zero-norm arrival must drop")
    assert(out.size >= 5)
    // the batch audit's five queries: the stream must land identically
    val batch = graft.SparkEntry.queries("ann_graph_greedy_audit")(spark, sf)
      .collect()
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("entry_id"), r.getAs[Long]("final_id"),
          r.getAs[Double]("final_cos"), r.getAs[Long]("moves")))).toMap
    assert(batch.nonEmpty)
    batch.foreach { case (q, exp) =>
      assert(out(q) == exp, s"stream walk drifted from batch at query $q")
    }
    // every emitted cosine is a cosine
    out.values.foreach { case (_, _, c, _) =>
      assert(c >= -1.0000001 && c <= 1.0000001)
    }
  }

  test("annInsertStream: full independent JVM replay — row-local LSH " +
    "signatures, bucket lookup, rank, Alg.-4 prune — on real sf0.001 data") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val planes = graft.queries.SimilarityOps.lshPlanesRow(spark, sf)
    val idx = graft.queries.SimilarityOps.lshBucketMembersIndex(spark, sf)
    val src = tempDir("anninsert").resolve("vecs")
    spark.read.parquet(s"$sf/embeddings.parquet").write.parquet(src.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .parquet(src.toString)
    val out = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.annInsertStream(stream, planes, idx), "ann_insert")
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr")) ->
        ((r.getAs[Double]("cos"), r.getAs[Long]("cr")))).toMap
    assert(out.nonEmpty)

    // ---- independent JVM replay, from the published definitions
    def quant(v: Seq[Float]): Array[Long] =
      v.map(x => BigDecimal(x.toDouble * 1000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray
    def dot(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length && i < b.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def sgn(bit: Int, dim: Int): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${bit}_$dim".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) < 8) 1L else -1L
    }
    val base = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .flatMap { r =>
        Option(r.getAs[Any]("embedding")).flatMap { _ =>
          val q = quant(r.getSeq[Float](r.fieldIndex("embedding")))
          val n = dot(q, q)
          if (n > 0L) Some((r.getAs[Long]("vec_id"), q, n)) else None
        }
      }.sortBy(_._1)
    val nBits = 16; val bb = nBits / 2
    def sigs(q: Array[Long]): (Long, Long) = {
      val bits = (0 until nBits).map { i =>
        val s = (q.indices).map(j => q(j) * sgn(i, j)).sum
        if (s >= 0L) 1L else 0L
      }
      ((0 until bb).map(k => bits(k) << k).sum,
        (0 until bb).map(k => bits(bb + k) << k).sum)
    }
    val bySig = base.map { case (id, q, n) => (id, sigs(q)) }.toMap
    val buckets = scala.collection.mutable.Map
      .empty[(Int, Long), List[Long]].withDefaultValue(Nil)
    base.foreach { case (id, _, _) =>
      val (s0, s1) = bySig(id)
      buckets((0, s0)) ::= id; buckets((1, s1)) ::= id
    }
    val okBuckets = buckets.filter(_._2.size <= 1024)
    val vec = base.map { case (id, q, n) => id -> ((q, n)) }.toMap
    val expected = base.flatMap { case (a, qa, na) =>
      val (s0, s1) = bySig(a)
      val cand = (okBuckets.getOrElse((0, s0), Nil) ++
        okBuckets.getOrElse((1, s1), Nil)).distinct.filter(_ != a)
      val ranked = cand.map { c =>
        val (qc, nc) = vec(c)
        (dot(qa, qc).toDouble / math.sqrt((na * nc).toDouble), c)
      }.sortBy { case (c, id) => (-c, id) }.take(8).zipWithIndex
        .map { case ((cos, id), i) => (id, cos, (i + 1).toLong) }
      val kept = ranked.foldLeft(List.empty[(Long, Double, Long)]) {
        case (acc, (id, cos, cr)) =>
          val (qc, nc) = vec(id)
          val blocked = acc.exists { case (sid, _, _) =>
            val (qs, ns) = vec(sid)
            dot(qc, qs).toDouble / math.sqrt((nc * ns).toDouble) >= cos
          }
          if (blocked) acc else acc :+ ((id, cos, cr))
      }
      kept.map { case (id, cos, cr) => (a, id) -> ((cos, cr)) }
    }.toMap
    assert(out.keySet == expected.keySet,
      s"edge sets differ: stream-only=${(out.keySet -- expected.keySet).take(5)} " +
        s"replay-only=${(expected.keySet -- out.keySet).take(5)}")
    expected.foreach { case (k, v) =>
      assert(out(k) == v, s"edge $k: stream ${out(k)} vs replay $v")
    }
    // the prune genuinely bit somewhere or the replay is vacuous
    val rankedTotal = base.map { case (a, _, _) =>
      val (s0, s1) = bySig(a)
      math.min(8, (okBuckets.getOrElse((0, s0), Nil) ++
        okBuckets.getOrElse((1, s1), Nil)).distinct.count(_ != a))
    }.sum
    assert(out.size < rankedTotal, "diversity prune never bit")
  }

  test("annInsertStream over the corpus-only index ≡ the batch " +
    "ann_insert_gate query (the stream ≡ batch ≡ DuckDB chain)") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val planes = graft.queries.SimilarityOps.lshPlanesRow(spark, sf)
    val idx = graft.queries.SimilarityOps
      .lshBucketMembersIndex(spark, sf, corpusOnly = true)
    val src = tempDir("anninsgate").resolve("vecs")
    // arrivals = the increment slice, the batch query's split
    spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") % 10 === 0)
      .write.parquet(src.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .parquet(src.toString)
    val out = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.annInsertStream(stream, planes, idx), "ann_ins_gate")
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr")) ->
        ((r.getAs[Double]("cos"), r.getAs[Long]("cr")))).toMap
    val batch = graft.SparkEntry.queries("ann_insert_gate")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr")) ->
        ((r.getAs[Double]("cos"), r.getAs[Long]("cr")))).toMap
    assert(batch.nonEmpty)
    assert(out.keySet == batch.keySet,
      s"edge sets differ: stream-only=${(out.keySet -- batch.keySet).take(5)} " +
        s"batch-only=${(batch.keySet -- out.keySet).take(5)}")
    batch.foreach { case (k, v) =>
      assert(out(k) == v, s"edge $k: stream ${out(k)} vs batch $v")
    }
  }

  test("spanCutStream: per-doc parity with dup_span_incremental's " +
    "matched-window count and min class on real sf0.001 data") {
    val sf = "/root/testdata/sf0.001"
    val all = spark.read.parquet(s"$sf/documents.parquet")
    val winIdx = StreamingPipeline.corpusWindowIndex(
      all.filter(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 0))
    val src = tempDir("spancutparity").resolve("docs")
    Files.createDirectories(src)
    // arrivals = the increment slice, as its own parquet dir
    all.filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 0)
      .write.parquet(src.toString + "/inc.parquet")
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString + "/inc.parquet").schema)
      .parquet(src.toString + "/inc.parquet")
    val cuts = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.spanCutStream(stream, winIdx), "span_cut_stream")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos"),
        r.getAs[Long]("cls")))
    val byDoc = cuts.groupBy(_._1).map { case (id, rs) =>
      id -> ((rs.length.toLong, rs.map(_._3).min))
    }
    val batch = graft.SparkEntry.queries("dup_span_incremental")(spark, sf)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_dup_windows"),
          Option(r.getAs[java.lang.Long]("min_dup_cls"))))).toMap
    assert(batch.nonEmpty)
    // every batch doc with matches is in the stream with the same count
    // and min class; clean docs emit nothing
    batch.foreach { case (id, (n, minCls)) =>
      if (n > 0) {
        val (gotN, gotMin) = byDoc(id)
        assert(gotN == n, s"doc $id window count")
        assert(minCls.contains(gotMin), s"doc $id min class")
      } else assert(!byDoc.contains(id), s"doc $id should emit nothing")
    }
    assert(byDoc.keySet == batch.filter(_._2._1 > 0).keySet)
    // the gate must have bitten or the parity is vacuous
    assert(cuts.nonEmpty)
  }

  test("lineDedupStream: exact batch parity with line_dedup on real sf0.001 data") {
    val sf = "/root/testdata/sf0.001"
    // the file stream source wants a DIRECTORY; testdata ships one file
    val src = tempDir("linededupparity").resolve("docs")
    Files.createDirectories(src)
    Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      src.resolve("documents.parquet"))
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .parquet(src.toString)
    val verdicts = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.lineDedupStream(stream), "line_dedup_stream")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
        r.getAs[String]("chunk"), r.getAs[Boolean]("kept")))
    // reassemble per doc from kept chunks, the consumer's move
    val streamKept = verdicts.filter(_._4).groupBy(_._1).map { case (id, cs) =>
      id -> ((cs.length.toLong,
        cs.sortBy(c => (c._2, c._3)).map(_._3).mkString(" ")))
    }
    val streamChunks = verdicts.groupBy(_._1).map { case (id, cs) =>
      id -> cs.length.toLong
    }
    val batch = graft.SparkEntry.queries("line_dedup")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_chunks"), r.getAs[Long]("n_kept"),
          r.getAs[String]("text_clean")))).toMap
    assert(batch.nonEmpty)
    assert(streamChunks.keySet == batch.keySet)
    batch.foreach { case (id, (nChunks, nKept, textClean)) =>
      assert(streamChunks(id) == nChunks, s"doc $id chunk count")
      val (gotKept, gotText) = streamKept.getOrElse(id, (0L, ""))
      assert(gotKept == nKept, s"doc $id kept count")
      assert(gotText == textClean, s"doc $id reassembled text")
    }
    // the dedup must have bitten somewhere or the parity test is vacuous
    assert(batch.exists { case (_, (n, k, _)) => k < n })
  }

  test("lineDedupStream: chunk state survives across micro-batches") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("linededupstream")
    val src = Files.createDirectories(root.resolve("docs"))
    val ckpt = root.resolve("ckpt").toString
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    def run(): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(src.toString).schema)
        .parquet(src.toString)
      val q = StreamingPipeline.lineDedupStream(stream).writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.synchronized { buf ++= b.collect() }; ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val w = (1 to 8).map(i => s"w$i").mkString(" ")
    val y = (1 to 8).map(i => s"y$i").mkString(" ")
    Seq((1L, w)).toDF("doc_id", "text")
      .write.mode("append").parquet(src.toString)
    run()
    // batch 2: doc 10 repeats doc 1's chunk (state must remember it) and
    // adds a fresh one
    Seq((10L, s"$w $y")).toDF("doc_id", "text")
      .write.mode("append").parquet(src.toString)
    run()
    val out = buf.synchronized(buf.toList).map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("chunk"),
        r.getAs[Boolean]("kept")))
    assert(out.contains((1L, w, true)), "first occurrence kept")
    assert(out.contains((10L, w, false)), "cross-batch repeat dropped")
    assert(out.contains((10L, y, true)), "fresh chunk kept")
    assert(out.length == 3)
  }

  test("decontaminateStream: oversized benchmark set fails the contract, not OOM") {
    val root = tempDir("decontguard")
    val src = root.resolve("docs")
    Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
      .write.parquet(src.toString)
    val benchGrams = Seq("alpha beta gamma", "beta gamma delta").toDF("g")
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .parquet(src.toString)
    // a bound below the benchmark size must fail the micro-batch with the
    // CONTRACT message (the collapse-to-one-row broadcast would otherwise
    // OOM opaquely at scale), and the message must name the knob
    spark.conf.set("graft.cap.benchGrams", "1")
    try {
      val e = intercept[Exception] {
        StreamingPipeline.runToMemory(spark,
          StreamingPipeline.decontaminateStream(stream, benchGrams), "decont_guard")
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: chain(t.getCause)
      val msgs = chain(e).map(t => Option(t.getMessage).getOrElse(""))
      assert(msgs.exists(_.contains("decontaminateStream contract")),
        s"cause chain was: ${msgs.mkString(" | ")}")
      assert(msgs.exists(_.contains("graft.cap.benchGrams")))
    } finally spark.conf.unset("graft.cap.benchGrams")
    // and under the default bound the same stream is clean
    val ok = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.decontaminateStream(stream, benchGrams), "decont_guard_ok")
    assert(ok.count() == 1)
  }

  test("classifyIncrementStream: stateless exact/near/new against static corpus indexes") {
    val root = tempDir("classtream")
    val src = root.resolve("docs")
    val corpus = Seq(
      (1L, "alpha beta gamma delta", "en", "src0", 0L),
      (2L, "completely different words here", "en", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val (exactIdx, nearIdx) = graft.queries.DedupOps.corpusDedupIndex(corpus)
    Seq(
      (10L, "alpha beta gamma delta"), // byte-identical → exact
      // same word SET as corpus doc 1 → identical full MinHash signature →
      // near (this also pins the row-local stream signature to the batch
      // aggregate's: a drift would misclassify this doc as 'new')
      (20L, "delta gamma beta alpha"),
      (30L, "zeta eta theta iota"))    // no match → new
      .toDF("doc_id", "text")
      .write.parquet(src.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .parquet(src.toString)
    val out = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.classifyIncrementStream(stream, exactIdx, nearIdx),
      "classify_out")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("status"), Option(r.getAs[java.lang.Long]("dup_of"))))).toMap
    assert(out(10L) == (("exact_dup", Some(1L))))
    assert(out(20L) == (("near_dup", Some(1L))))
    assert(out(30L) == (("new", None)))
  }

  test("dedupStream: duplicate arrivals within the watermark are dropped") {
    val root = tempDir("dedupstream")
    val src = root.resolve("events")
    Seq(
      (1L, ts("2024-01-01 00:01:00"), 10L, "click", 1.0),
      (1L, ts("2024-01-01 00:01:00"), 10L, "click", 1.0), // dup delivery
      (2L, ts("2024-01-01 00:02:00"), 10L, "view", 2.0),
      (1L, ts("2024-01-01 00:03:00"), 11L, "click", 3.0)) // same event_id, other user
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(src.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .parquet(src.toString)
    val out = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.dedupStream(stream), "dedup_out")
    assert(out.count() == 3)
    assert(out.filter("user_id = 10 AND event_id = 1").count() == 1)
  }

  test("asofEnrichStream: exact batch parity with asof_join on real sf0.001 data") {
    import org.apache.spark.sql.functions._
    val srcDir = tempDir("asofstream")
    Files.copy(java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      srcDir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val evSchema = spark.read.parquet(srcDir.toString).schema
    val raw = spark.readStream.schema(evSchema).parquet(srcDir.toString)
    val stream = evSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
    val ev = graft.queries.Util.t(spark, "/root/testdata/sf0.001", "events")
    val snapshot = StreamingPipeline.asofQuoteSnapshot(ev)
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("purchase_id"), r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("purchase_ts"),
        Option(r.getAs[java.lang.Long]("click_id")).map(Long.unbox),
        Option(r.getAs[java.sql.Timestamp]("click_ts")))).toSet
    val streamed = canon(StreamingPipeline.runToMemory(spark,
      StreamingPipeline.asofEnrichStream(stream, snapshot), "asof_stream")
      .collect())
    val batch = canon(graft.SparkEntry.queries("asof_join")(
      spark, "/root/testdata/sf0.001").collect())
    assert(streamed.nonEmpty)
    assert(streamed == batch)
    // the enrichment is stateless append: every purchase emitted exactly once
    assert(streamed.size ==
      ev.filter(col("event_type") === "purchase" &&
        col("ts").isNotNull && col("user_id").isNotNull).count())
  }

  test("asofEnrichStream planted fixture: inclusive bound, NULL on no-click, key isolation") {
    val root = tempDir("asoffix")
    val src = root.resolve("purchases")
    Seq(
      (100L, ts("2024-01-01 10:00:00"), 1L, "purchase", 1.0), // after q_mid
      (101L, ts("2024-01-01 10:05:00"), 1L, "purchase", 1.0), // equal ts: inclusive
      (102L, ts("2024-01-01 10:00:00"), 2L, "purchase", 1.0), // user 2: no clicks
      (103L, ts("2024-01-01 09:00:00"), 3L, "purchase", 1.0)) // before user 3's click
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(src.toString)
    val clicks = Seq(
      (10L, ts("2024-01-01 09:30:00"), 1L, "click", 0.0),
      (11L, ts("2024-01-01 09:55:00"), 1L, "click", 0.0),
      (12L, ts("2024-01-01 10:05:00"), 1L, "click", 0.0),
      (13L, ts("2024-01-01 12:00:00"), 3L, "click", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema).parquet(src.toString)
    val out = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.asofEnrichStream(stream,
        StreamingPipeline.asofQuoteSnapshot(clicks)), "asof_fixture")
      .collect().map(r => r.getAs[Long]("purchase_id") ->
        Option(r.getAs[java.lang.Long]("click_id")).map(Long.unbox)).toMap
    assert(out == Map(
      100L -> Some(11L), // latest ≤ 10:00
      101L -> Some(12L), // ts >= click_ts inclusive
      102L -> None,      // user 2 never clicked
      103L -> None))     // user 3's only click is later
  }

  test("stream-stream join: clicks join purchases within the event-time bound") {
    import org.apache.spark.sql.functions._
    // the file stream source needs a DIRECTORY; the testdata table is a
    // single file — stage it into one
    val srcDir = tempDir("ssjoin")
    Files.copy(java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      srcDir.resolve("events.parquet"))
    val dir = srcDir.toString
    // events.ts layout varies by testdata generation (TIMESTAMP(NANOS) vs
    // NTZ TIMESTAMP(MICROS)); batch reads go through Util.t — the stream
    // read applies the same normalization to LTZ (watermarks require it)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val evSchema = spark.read.parquet(dir).schema
    def evStream() = {
      val raw = spark.readStream.schema(evSchema).parquet(dir)
      evSchema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
      }
    }
    val clicks = evStream().filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", "1 hour")
    val purchases = evStream().filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "1 hour")
    // inner stream-stream join: equality on user + event-time range bound
    // (the watermark + bound let Spark GC both sides' state)
    val joined = purchases.join(clicks,
      expr("p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 10 MINUTES AND p_ts"))
    val out = StreamingPipeline.runToMemory(spark, joined, "ssj")
    // batch twin on the same data
    val ev = graft.queries.Util.t(spark, "/root/testdata/sf0.001", "events")
    val bc = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val bp = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val expected = bp.join(bc,
      expr("p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 10 MINUTES AND p_ts")).count()
    assert(out.count() == expected)
    assert(expected > 0)
  }

  test("stream-stream LEFT OUTER join: unmatched rows emit after the watermark expires their window") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("ssleftjoin")
    val src = Files.createDirectories(root.resolve("events"))
    val ckpt = root.resolve("ckpt").toString
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    def run(): Unit = {
      val schema = spark.read.parquet(src.toString).schema
      def ev() = spark.readStream.schema(schema).parquet(src.toString)
      val clicks = ev().filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "30 minutes")
      val purchases = ev().filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_id"))
        .withWatermark("p_ts", "30 minutes")
      val joined = purchases.join(clicks,
        expr("p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 10 MINUTES AND p_ts"),
        "left_outer")
      val q = joined.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.synchronized { buf ++= b.collect() }; ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // user 1: purchase with a click in-window (inner match, emits at once);
    // user 2: purchase with no click (outer row waits for watermark expiry)
    Seq(
      (1L, ts("2024-01-01 00:55:00"), 1L, "click", 1.0),
      (2L, ts("2024-01-01 01:00:00"), 1L, "purchase", 5.0),
      (3L, ts("2024-01-01 01:00:00"), 2L, "purchase", 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("append").parquet(src.toString)
    run()
    val afterB1 = buf.synchronized(buf.toList)
    assert(afterB1.exists(r => r.getAs[Long]("p_user") == 1L && !r.isNullAt(r.fieldIndex("c_ts"))),
      "matched pair should emit in the first batch")
    assert(!afterB1.exists(r => r.getAs[Long]("p_user") == 2L),
      "unmatched purchase must wait for watermark expiry")
    // two watermark-advancing batches. The operator watermark is the MIN
    // across both input streams, so BOTH event types must advance — a
    // click-only batch would leave the purchase-side watermark (and thus
    // state expiry) pinned at the first batch.
    Seq((4L, ts("2024-01-01 03:00:00"), 3L, "click", 1.0),
        (5L, ts("2024-01-01 03:00:00"), 3L, "purchase", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("append").parquet(src.toString)
    run()
    Seq((6L, ts("2024-01-01 04:00:00"), 3L, "click", 1.0),
        (7L, ts("2024-01-01 04:00:00"), 3L, "purchase", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("append").parquet(src.toString)
    run()
    val u2 = buf.synchronized(buf.toList).filter(_.getAs[Long]("p_user") == 2L)
    assert(u2.length == 1, s"expected exactly one null-extended row, got $u2")
    assert(u2.head.isNullAt(u2.head.fieldIndex("c_ts")))
  }

  test("sessionizeWithTimeout: idle session flushes when the watermark passes the gap") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("sesstimeout")
    val src = Files.createDirectories(root.resolve("events"))
    val ckpt = root.resolve("ckpt").toString
    val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    def run(): Unit = {
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[StreamingPipeline.Event]].schema)
        .parquet(src.toString)
        .as[StreamingPipeline.Event]
      val q = StreamingPipeline.sessionizeWithTimeout(stream).toDF()
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.synchronized { buf ++= b.collect() }; ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // batch 1: user 1 has an open 2-event session; watermark trails it
    Seq(
      StreamingPipeline.Event(1, ts("2024-01-01 00:00:00"), 1, "a", 1.0),
      StreamingPipeline.Event(2, ts("2024-01-01 00:10:00"), 1, "a", 1.0),
      StreamingPipeline.Event(3, ts("2024-01-01 00:05:00"), 2, "b", 1.0))
      .toDS().write.mode("append").parquet(src.toString)
    run()
    assert(buf.synchronized(buf.isEmpty)) // nothing closed yet
    // batch 2 advances the watermark past user 1's last+gap; batch 3 fires
    // the timeout (timeouts use the watermark as of batch START, so the
    // flush lands one batch after the advance)
    Seq(StreamingPipeline.Event(4, ts("2024-01-01 02:00:00"), 2, "b", 1.0))
      .toDS().write.mode("append").parquet(src.toString)
    run()
    Seq(StreamingPipeline.Event(5, ts("2024-01-01 03:00:00"), 2, "b", 1.0))
      .toDS().write.mode("append").parquet(src.toString)
    run()
    val u1 = buf.synchronized(buf.toList).filter(_.getAs[Long]("user_id") == 1L)
    assert(u1.length == 1, s"expected one flushed session for user 1, got $buf")
    assert(u1.head.getAs[Int]("n_events") == 2)
    assert(u1.head.getAs[Long]("end_us") - u1.head.getAs[Long]("start_us")
      == 10L * 60 * 1000000) // the 00:00–00:10 span
  }

  test("funnelStream: stage transitions across micro-batches, strictly-after rule") {
    val root = tempDir("funnelstream")
    val src = root.resolve("events")
    Files.createDirectories(src)
    // batch 1: user 1 signs up and views; user 2 views BEFORE signing up;
    // user 3 completes signup+view
    Seq(
      StreamingPipeline.Event(1, ts("2024-01-01 09:00:00"), 1, "signup", 1.0),
      StreamingPipeline.Event(2, ts("2024-01-01 10:00:00"), 1, "view", 1.0),
      StreamingPipeline.Event(3, ts("2024-01-01 08:00:00"), 2, "view", 1.0),
      StreamingPipeline.Event(4, ts("2024-01-01 09:00:00"), 2, "signup", 1.0),
      StreamingPipeline.Event(5, ts("2024-01-01 09:00:00"), 3, "signup", 1.0),
      StreamingPipeline.Event(6, ts("2024-01-01 10:00:00"), 3, "view", 1.0))
      .toDS().coalesce(1).write.parquet(src.resolve("b1").toString)
    // batch 2 (separate micro-batch): user 1 converts through purchase —
    // state must remember t2 from batch 1; user 3 purchases WITHOUT a
    // click → stays at stage 2
    Seq(
      StreamingPipeline.Event(7, ts("2024-01-01 11:00:00"), 1, "click", 1.0),
      StreamingPipeline.Event(8, ts("2024-01-01 12:00:00"), 1, "purchase", 1.0),
      StreamingPipeline.Event(9, ts("2024-01-01 11:00:00"), 3, "purchase", 1.0))
      .toDS().coalesce(1).write.parquet(src.resolve("b2").toString)
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[StreamingPipeline.Event]].schema)
      .option("maxFilesPerTrigger", 1) // force state continuity across batches
      .parquet(src.toString + "/*")
      .as[StreamingPipeline.Event]
    val out = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.funnelStream(stream).toDF(), "funnel_transitions")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("stage")))
    val stages = out.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(stages(1L) == Set(1, 2, 3, 4))
    assert(stages(2L) == Set(1))      // pre-signup view never counts
    assert(stages(3L) == Set(1, 2))   // purchase without click stays at view
  }

  test("funnelStream parity with the batch event_funnel on an identical corpus") {
    val root = tempDir("funnelparity")
    // seeded corpus, event-time-ordered arrival (the parity contract)
    val rnd = new scala.util.Random(42)
    val types = Seq("signup", "view", "click", "purchase", "error")
    val rows = (1 to 400).map { i =>
      StreamingPipeline.Event(i.toLong,
        new Timestamp(ts("2024-01-01 00:00:00").getTime + i * 60000L),
        1L + rnd.nextInt(25), types(rnd.nextInt(types.length)), 1.0)
    }
    // stream side: Event-typed parquet
    val src = root.resolve("stream")
    rows.toDS().write.parquet(src.toString)
    // batch side: the driver events layout (int64 nanosecond ts)
    rows.map(e => (e.event_id, e.ts.getTime * 1000000L, e.user_id,
      e.event_type, e.value, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(root.resolve("batch").resolve("events.parquet").toString)
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[StreamingPipeline.Event]].schema)
      .parquet(src.toString)
      .as[StreamingPipeline.Event]
    val streamed = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.funnelStream(stream).toDF(), "funnel_parity")
      .collect()
    val streamCounts = streamed.groupBy(_.getAs[Int]("stage"))
      .view.mapValues(_.map(_.getAs[Long]("user_id")).distinct.length.toLong)
      .toMap
    val batch = graft.SparkEntry.queries("event_funnel")(
      spark, root.resolve("batch").toString).collect()
      .map(r => r.getAs[String]("step") -> r.getAs[Long]("n_users")).toMap
    assert(streamCounts.getOrElse(1, 0L) == batch("1_signup"))
    assert(streamCounts.getOrElse(2, 0L) == batch("2_view"))
    assert(streamCounts.getOrElse(3, 0L) == batch("3_click"))
    assert(streamCounts.getOrElse(4, 0L) == batch("4_purchase"))
  }

  test("cohortStream parity with batch cohort_retention on an identical corpus") {
    val root = tempDir("cohortparity")
    val rnd = new scala.util.Random(7)
    // 20 users, events spread over ~6 weeks, event-time-ordered arrival
    val rows = (1 to 300).map { i =>
      StreamingPipeline.Event(i.toLong,
        new Timestamp(ts("2024-01-01 00:00:00").getTime + i * 12000000L),
        1L + rnd.nextInt(20), "view", 1.0)
    }
    val src = root.resolve("stream")
    rows.toDS().write.parquet(src.toString)
    rows.map(e => (e.event_id, e.ts.getTime * 1000000L, e.user_id,
      e.event_type, e.value, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(root.resolve("batch").resolve("events.parquet").toString)
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[StreamingPipeline.Event]].schema)
      .parquet(src.toString)
      .as[StreamingPipeline.Event]
    val streamed = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.cohortStream(stream).toDF(), "cohort_stream")
      .collect()
      .map(r => (r.getAs[Long]("cohort_us"), r.getAs[Int]("week_offset"),
        r.getAs[Long]("user_id")))
    // exactly-once per (user, offset) within the 64-week mask horizon
    assert(streamed.distinct.length == streamed.length)
    val streamCounts = streamed.groupBy(t => (t._1, t._2))
      .view.mapValues(_.map(_._3).distinct.length.toLong).toMap
    val batch = graft.SparkEntry.queries("cohort_retention")(
      spark, root.resolve("batch").toString).collect()
      .map(r => (r.getAs[Timestamp]("cohort_week").getTime * 1000,
        r.getAs[Long]("week_offset").toInt) -> r.getAs[Long]("n_users")).toMap
    assert(streamCounts == batch,
      s"stream $streamCounts\nbatch  $batch")
  }

  test("sessionize: explicit keyed state with gap rule") {
    val root = tempDir("sessstream")
    val src = root.resolve("events")
    Seq(
      StreamingPipeline.Event(1, ts("2024-01-01 00:00:00"), 1, "a", 1.0),
      StreamingPipeline.Event(2, ts("2024-01-01 00:10:00"), 1, "a", 1.0),
      StreamingPipeline.Event(3, ts("2024-01-01 01:00:00"), 1, "a", 1.0), // new session
      StreamingPipeline.Event(4, ts("2024-01-01 00:05:00"), 2, "b", 1.0))
      .toDS().write.parquet(src.toString)
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[StreamingPipeline.Event]].schema)
      .parquet(src.toString)
      .as[StreamingPipeline.Event]
    val out = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.sessionize(stream).toDF(), "sessions")
    // emitted sessions are the CLOSED ones (user 1's first session closed by
    // the 50-min gap); open sessions remain in state
    val rows = out.collect()
    assert(rows.length == 1)
    val s = rows.head
    assert(s.getAs[Long]("user_id") == 1L)
    assert(s.getAs[Int]("n_events") == 2)
  }

  test("debounceStream: previous-event gate holds across micro-batches; types are independent") {
    val root = tempDir("debstream")
    val src = root.resolve("events")
    Files.createDirectories(src)
    // batch 1: user 1 clicks at 00:00 (kept), 00:02 (suppressed — < 5 min),
    // and views at 00:03 (kept — other type is an independent key)
    Seq(
      StreamingPipeline.Event(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
      StreamingPipeline.Event(2, ts("2024-01-01 00:02:00"), 1, "click", 1.0),
      StreamingPipeline.Event(3, ts("2024-01-01 00:03:00"), 1, "view", 1.0))
      .toDS().coalesce(1).write.parquet(src.resolve("b1").toString)
    // batch 2: 00:06 click is < 5 min after the SUPPRESSED 00:02 (state
    // must remember the previous event, not the previous KEPT event);
    // 00:12 is ≥ 5 min after 00:06 → kept
    Seq(
      StreamingPipeline.Event(4, ts("2024-01-01 00:06:00"), 1, "click", 1.0),
      StreamingPipeline.Event(5, ts("2024-01-01 00:12:00"), 1, "click", 1.0))
      .toDS().coalesce(1).write.parquet(src.resolve("b2").toString)
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[StreamingPipeline.Event]].schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src.toString + "/*")
      .as[StreamingPipeline.Event]
    val kept = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.debounceStream(stream).toDF(), "debounced")
      .collect().map(_.getAs[Long]("event_id")).toSet
    assert(kept == Set(1L, 3L, 5L))
  }

  test("debounceStream parity with the batch event_debounce on an identical corpus") {
    val root = tempDir("debparity")
    val rnd = new scala.util.Random(11)
    val types = Seq("click", "view", "error")
    // bursty arrivals: inter-event gaps cluster under AND over the 5-min
    // threshold so both branches of the gate fire, event-time-ordered
    var t = ts("2024-01-01 00:00:00").getTime
    val rows = (1 to 400).map { i =>
      t += (if (rnd.nextBoolean()) rnd.nextInt(120) else 300 + rnd.nextInt(600)) * 1000L
      StreamingPipeline.Event(i.toLong, new Timestamp(t),
        1L + rnd.nextInt(8), types(rnd.nextInt(types.length)), 1.0)
    }
    val src = root.resolve("stream")
    rows.toDS().write.parquet(src.toString)
    rows.map(e => (e.event_id, e.ts.getTime * 1000000L, e.user_id,
      e.event_type, e.value, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(root.resolve("batch").resolve("events.parquet").toString)
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[StreamingPipeline.Event]].schema)
      .parquet(src.toString)
      .as[StreamingPipeline.Event]
    val streamed = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.debounceStream(stream).toDF(), "debounce_parity")
      .collect().map(_.getAs[Long]("event_id")).toSet
    val batch = graft.SparkEntry.queries("event_debounce")(
      spark, root.resolve("batch").toString).collect()
      .map(_.getAs[Long]("event_id")).toSet
    assert(streamed == batch)
  }

  test("pruneStream: verdicts equal the batch corpus_prune_verdicts table (sf0.001)") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
    val canonIdx = graft.queries.TextOps.canonIndex(corpus)
    // file streams need a DIRECTORY source; the driver corpus is one file
    val srcDir = tempDir("prunestream")
    corpus.write.mode("overwrite").parquet(srcDir.resolve("docs").toString)
    val stream = spark.readStream.schema(corpus.schema)
      .parquet(srcDir.resolve("docs").toString)
    val fields = Seq("is_canonical", "quality_ok", "repetition_ok", "keep", "reason")
    def toMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[Long]("doc_id") -> fields.map(r.getAs[Any])).toMap
    val streamed = toMap(StreamingPipeline.runToMemory(spark,
      StreamingPipeline.pruneStream(stream, canonIdx), "prune_parity").collect())
    val batch = toMap(
      graft.SparkEntry.queries("corpus_prune_verdicts")(spark, dir).collect())
    assert(streamed.keySet == batch.keySet && streamed.nonEmpty)
    batch.foreach { case (id, exp) => assert(streamed(id) == exp, s"doc $id") }
    // kept and both gate-rejection classes occur on the real corpus
    assert(batch.values.map(_.last).toSet ==
      Set("ok", "quality", "repetition"))

    // the corpus has no exact dups at this sf — plant one: a LATE arrival
    // re-sending an indexed doc's text under a new id must classify
    // exact_dup against the same static index (the live-ingest scenario)
    val keptId = batch.collectFirst { case (id, v) if v.last == "ok" => id }.get
    val keptText = corpus.filter(col("doc_id") === keptId)
      .collect().head.getAs[String]("text")
    val late = Seq((999999L, keptText)).toDF("doc_id", "text")
    late.write.mode("overwrite").parquet(srcDir.resolve("late").toString)
    val lateStream = spark.readStream.schema(late.schema)
      .parquet(srcDir.resolve("late").toString)
    val lateOut = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.pruneStream(lateStream, canonIdx), "prune_parity_late")
      .collect()
    assert(lateOut.length == 1)
    assert(lateOut.head.getAs[String]("reason") == "exact_dup")
    assert(!lateOut.head.getAs[Boolean]("keep"))
  }

  test("attributionJoinStream: stream-stream left outer, watermark expires state") {
    val root = tempDir("attrjoin")
    val src = root.resolve("events")
    Files.createDirectories(src)
    // real traffic: matched pair (u10), out-of-window purchase (u11),
    // click with no purchase (u12), purchase with no click (u13 — must
    // not appear: join is left outer FROM clicks), second matching click
    // (u10 again, same purchase lands in both click windows)
    val real = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10L, "click", 0.0),
      (2L, ts("2024-01-01 00:10:00"), 10L, "purchase", 42.0),
      (3L, ts("2024-01-01 00:00:00"), 11L, "click", 0.0),
      (4L, ts("2024-01-01 00:50:00"), 11L, "purchase", 7.0),
      (5L, ts("2024-01-01 00:05:00"), 12L, "click", 0.0),
      (6L, ts("2024-01-01 00:07:00"), 13L, "purchase", 9.0),
      (7L, ts("2024-01-01 00:08:00"), 10L, "click", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    real.coalesce(1).write.parquet(src.resolve("b1").toString)
    // sentinels in LATER files: push the watermark (max ts − 30 min late
    // tolerance) past every real click's window close, so unmatched real
    // clicks flush; the sentinel clicks stay withheld (watermark never
    // passes THEIR window) — the tail-of-stream contract. Each sentinel
    // file carries a late CLICK **and** a late PURCHASE: the join's global
    // watermark is the MIN over both input watermarks, so advancing only
    // the click side would stall it at the purchase stream's high-water
    // mark forever (observed: outer rows never emit). And two sentinel
    // batches, not one: the watermark computed from a batch's max event
    // time is only APPLIED to state eviction in the NEXT batch.
    Thread.sleep(20) // distinct mtime: file source orders batches by it
    Seq((99L, ts("2024-01-01 03:00:00"), 999L, "click", 0.0),
        // different user than the sentinel click: a same-key pair would
        // inner-match and emit immediately, polluting the withheld set
        (97L, ts("2024-01-01 03:00:00"), 888L, "purchase", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(src.resolve("b2").toString)
    Thread.sleep(20)
    Seq((98L, ts("2024-01-01 03:10:00"), 998L, "click", 0.0),
        (96L, ts("2024-01-01 03:10:00"), 887L, "purchase", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(src.resolve("b3").toString)
    val schema = spark.read.parquet(src.resolve("b1").toString).schema
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // one file per micro-batch: the
      // watermark only advances BETWEEN batches, and outer-join state only
      // expires after it advances — a single-batch replay emits no outer rows
      .parquet(src.toString + "/*")
    val out = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.attributionJoinStream(stream(), stream()),
      "attr_join").collect()

    // batch twin: SAME function on static frames (withWatermark no-ops)
    val static = spark.read.schema(schema).parquet(src.toString + "/*")
    val batch = StreamingPipeline.attributionJoinStream(static, static).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("click_id"), Option(r.getAs[Any]("purchase_id")))
    // the stream withholds exactly the clicks whose window the final
    // watermark (max ts − 30 min) never passed: here, both sentinels
    val maxTs = ts("2024-01-01 03:10:00").getTime
    val expected = batch.filter(r =>
      r.getAs[Timestamp]("click_ts").getTime + (30 + 30) * 60000L <= maxTs)
    assert(out.map(key).toSet == expected.map(key).toSet)
    assert(expected.map(key).toSet == Set(
      (1L, Some(2L)), (7L, Some(2L)), (3L, None), (5L, None)))
    // matched rows carry the purchase payload through
    val m = out.filter(_.getAs[Long]("click_id") == 1L).head
    assert(m.getAs[Double]("purchase_value") == 42.0)
    // u13's clickless purchase appears on no row
    assert(!out.exists(r => Option(r.getAs[Any]("purchase_id")).contains(6L)))
  }

  test("unigramSegmentStream: exact batch parity; OOV words segment at sentinel cost") {
    val sf = "/root/testdata/sf0.001"
    val root = tempDir("unistream")
    val src = Files.createDirectories(root.resolve("docs"))
    Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      src.resolve("documents.parquet"))
    val corpus = spark.read.parquet(src.toString)
    val vocabRow = graft.queries.UnigramOps.vocabCostRow(spark, sf)
    val stream = spark.readStream.schema(corpus.schema).parquet(src.toString)
    val streamed = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.unigramSegmentStream(stream, vocabRow), "uni_seg")
      .collect()
    // batch truth: sf0.001 has ≤ 30 distinct qualifying words, so the
    // top-30 acceptance view IS the full trained segmenter state
    val batch = graft.SparkEntry.queries("unigram_segment_words")(spark, sf)
      .collect().map(r => r.getAs[String]("word") ->
        ((r.getAs[Long]("n_pieces"), r.getAs[Long]("cost_millibits"),
          r.getAs[String]("seg")))).toMap
    assert(streamed.nonEmpty)
    streamed.foreach { r =>
      val w = r.getAs[String]("word")
      assert(batch(w) == ((r.getAs[Long]("n_pieces"),
        r.getAs[Long]("cost_millibits"), r.getAs[String]("seg"))), s"word $w")
    }
    // occurrence-grain parity: one streamed row per qualifying batch word
    val nQualifying = corpus
      .selectExpr("explode(split(text, ' ')) AS w")
      .where("w rlike '^[a-z]+$' AND length(w) BETWEEN 2 AND 64").count()
    assert(streamed.length.toLong == nQualifying)

    // OOV contract on a planted vocab: chars e/f are outside the ab/cd
    // fixture vocabulary, so "ef" still segments — as ONE sentinel piece
    // (the DP minimizes sentinel count: 1·10⁹ beats e·f at 2·10⁹) — the
    // cost ≥ 10⁹ retrain signal, not a dropped row
    val fixDir = tempDir("unifix").toString
    ((1L to 6L).map(i => (i, "ab")) ++ Seq((7L, "abab"), (8L, "cd")))
      .map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$fixDir/documents.parquet")
    val fixVocab = graft.queries.UnigramOps.vocabCostRow(spark, fixDir)
    val src2 = root.resolve("novel")
    Seq((9001L, "ef ab", "en", "s0", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(src2.toString)
    val stream2 = spark.readStream.schema(corpus.schema)
      .parquet(src2.toString)
    val novel = StreamingPipeline.runToMemory(spark,
      StreamingPipeline.unigramSegmentStream(stream2, fixVocab), "uni_seg_oov")
      .collect().map(r => r.getAs[String]("word") ->
        ((r.getAs[Long]("n_pieces"), r.getAs[Long]("cost_millibits"),
          r.getAs[String]("seg")))).toMap
    assert(novel("ef") == ((1L, 1000000000L, "ef")))
    assert(novel("ab")._3 == "ab") // in-vocab word unaffected
    assert(novel("ab")._2 < 1000000000L)
  }
}
