package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The de-skew caps are sized to never bind on the oracle corpora — this
  * spec proves the BINDING path: a degenerate bucket (every sampled doc
  * identical → one bucket per band holding the whole corpus, the web-scale
  * template-page case) exceeds maxSimhashBucket, candidate generation
  * drops it instead of exploding |bucket|² pairs, and the drop is visible
  * through the `graft_drop_*` observation. */
class CapBindingSpec extends SparkSpec {

  test("simhash bucket cap binds: oversized bucket dropped, metric fired") {
    assert(DedupOps.maxSimhashBucket(spark) == 1024)
    val dir = tempDir("capbind").toString
    import spark.implicits._
    // 1030 sampled docs (doc_id % 10 == 0) with identical text → every band
    // bucket holds 1030 > 1024 members → dropped; plus one small pair of
    // identical docs whose buckets (size 2) survive the cap. (With NO
    // surviving bucket, AQE's empty-relation propagation prunes the
    // observed subtree from the final plan and the metric never surfaces —
    // the realistic partial-drop shape is what the log contract covers.)
    val clones = (0 until 1030).map(i =>
      (i * 10L, "alpha beta gamma delta epsilon zeta", "en", "src", 0L))
    val pair = Seq(
      (20000L, "totally different words entirely here", "en", "src", 0L),
      (20010L, "totally different words entirely here", "en", "src", 0L))
    (clones ++ pair)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")

    val metrics = scala.collection.concurrent.TrieMap.empty[String, Long]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft_drop_")) metrics(name) = row.getLong(0)
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = SparkEntry.queries("simhash_neardup_pairs")(spark, dir).collect()
      // the 1030-clone bucket contributes NO pairs (529k pairs suppressed);
      // the surviving small bucket yields exactly the identical pair
      assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        Seq((20000L, 20010L)), s"got ${out.mkString(", ")}")
      assert(out.head.getLong(2) == 0L) // identical docs → hamming 0
      // listener delivery is async — poll
      val deadline = System.currentTimeMillis() + 10000
      while (!metrics.contains("graft_drop_simhash_bucket") &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      // 4 bands × 1 oversized bucket each
      assert(metrics.get("graft_drop_simhash_bucket").contains(4L),
        s"expected 4 dropped buckets, saw $metrics")
    } finally spark.listenerManager.unregister(listener)
  }

  test("cc bucket cap binds: Spark-only divergence from the oracle is detected via the drop metric") {
    // The maxCcBucket cap exists ONLY in the Spark plan — the oracle SQL has
    // no twin (deliberate: it never binds on oracle corpora). This pins the
    // cap BELOW a real cluster to prove the divergence is loud: dropped
    // buckets fire graft_drop_cc_bucket, and the capped cluster's docs fall
    // back to singleton components instead of silently wrong merges.
    val dir = tempDir("ccbind").toString
    import spark.implicits._
    // 12 sampled clones (identical text → all 4 band buckets size 12 > 8 →
    // dropped) + one identical pair whose size-2 buckets survive the cap
    val clones = (0 until 12).map(i =>
      (i * 10L, "alpha beta gamma delta epsilon zeta", "en", "src", 0L))
    val pair = Seq(
      (20000L, "totally different words entirely here", "en", "src", 0L),
      (20010L, "totally different words entirely here", "en", "src", 0L))
    (clones ++ pair)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")

    val metrics = scala.collection.concurrent.TrieMap.empty[String, Long]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft_drop_")) metrics(name) = row.getLong(0)
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    spark.conf.set("graft.cap.ccBucket", "8")
    try {
      val out = SparkEntry.queries("connected_components")(spark, dir).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      // surviving bucket → the pair merges; capped clones stay singletons
      assert(out(20000L) == (20000L, 2L))
      assert(out(20010L) == (20000L, 2L))
      clones.foreach { case (id, _, _, _, _) => assert(out(id) == (id, 1L)) }
      val deadline = System.currentTimeMillis() + 10000
      while (!metrics.contains("graft_drop_cc_bucket") &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      // 4 bands × 1 oversized clone bucket each
      assert(metrics.get("graft_drop_cc_bucket").contains(4L),
        s"expected 4 dropped buckets, saw $metrics")
    } finally {
      spark.conf.unset("graft.cap.ccBucket")
      spark.listenerManager.unregister(listener)
    }
  }

  test("basket cap binds: mega-order dropped whole, metric fired, small baskets survive") {
    val dir = tempDir("capbasket").toString
    import spark.implicits._
    // one 5-part mega-order (over the lowered cap of 3 → dropped WHOLE)
    // plus two {1, 2} baskets whose support-2 pair must survive
    val mega = (1L to 5L).map(p => (100L, p))
    val small = Seq((101L, 1L), (101L, 2L), (102L, 1L), (102L, 2L))
    (mega ++ small).toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")

    val metrics = scala.collection.concurrent.TrieMap.empty[String, Long]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft_drop_")) metrics(name) = row.getLong(0)
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    spark.conf.set("graft.cap.basket", "3")
    try {
      val out = SparkEntry.queries("part_cooccurrence")(spark, dir).collect()
      // only the surviving pair; the mega-order's 10 pairs are gone, and
      // n_orders/n_a/n_b count the CAPPED relation (2 orders, 2 each)
      assert(out.length == 1)
      val r = out.head
      assert(r.getAs[Long]("pa") == 1L && r.getAs[Long]("pb") == 2L)
      assert(r.getAs[Long]("n_co") == 2L)
      assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
      assert(r.getAs[Long]("lift_milli") == 1000L)
      val deadline = System.currentTimeMillis() + 10000
      while (!metrics.contains("graft_drop_basket") &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(metrics.get("graft_drop_basket").contains(1L),
        s"expected 1 dropped basket, saw $metrics")
    } finally {
      spark.conf.unset("graft.cap.basket")
      spark.listenerManager.unregister(listener)
    }
  }

  test("semantic cluster cap binds: oversized cluster dropped whole, small cluster keeps verdicts") {
    val dir = tempDir("capsem").toString
    import spark.implicits._
    // two well-separated clusters: label 0 holds 3 near-identical vectors
    // (pairwise cos ≈ 1 → the dedup path must fire inside it), label 1
    // holds 30 (over the lowered cap of 10 → dropped WHOLE). Axis-aligned
    // vectors make nearest-centroid assignment = own label by construction.
    val small = (1 to 3).map(i =>
      (i.toLong, Array(1f, 0.01f * i) ++ Array.fill(6)(0f), 0))
    val big = (10 to 39).map(i =>
      (i.toLong, Array(0.01f * i, 1f) ++ Array.fill(6)(0f), 1))
    (small ++ big).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")

    val metrics = scala.collection.concurrent.TrieMap.empty[String, Long]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft_drop_")) metrics(name) = row.getLong(0)
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    spark.conf.set("graft.cap.semCluster", "10")
    try {
      val out = SparkEntry.queries("semantic_dedup")(spark, dir).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cluster"),
          r.getAs[Boolean]("keep")))
      // only the small cluster survives; within it the keep-lowest-id rule
      // applies (all three are mutual near-dups at τ=0.4)
      assert(out.toSeq == Seq((1L, 0, true), (2L, 0, false), (3L, 0, false)),
        s"got ${out.mkString(", ")}")
      val deadline = System.currentTimeMillis() + 10000
      while (!metrics.contains("graft_drop_semantic_cluster") &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      // the metric counts DOCS in dropped clusters, not clusters
      assert(metrics.get("graft_drop_semantic_cluster").contains(30L),
        s"expected 30 dropped docs, saw $metrics")
    } finally {
      spark.conf.unset("graft.cap.semCluster")
      spark.listenerManager.unregister(listener)
    }
  }

  test("ivfCentroids conf binds: the serve quantizer widens with the override") {
    assert(SimilarityOps.ivfCentroids(spark) == 8)
    val dir = "/root/testdata/sf0.001"
    spark.conf.set("graft.cap.ivfCentroids", "16")
    try {
      assert(SimilarityOps.ivfCentroids(spark) == 16)
      // the centroid relation and the (override-keyed) assignment cache
      // both honor the conf — the lever a populated-path ScaleCheck run
      // (K ∝ √N) pulls at big corpora
      assert(SimilarityOps.ivfServeCents(spark, dir).count() == 16L)
      val assigned = SimilarityOps.ivfServeAssigned(spark, dir)
      assert(assigned.select("cent_id").distinct().count() > 8L)
    } finally {
      spark.conf.unset("graft.cap.ivfCentroids")
      graft.queries.Util.releaseCaches(spark)
    }
    assert(SimilarityOps.ivfServeCents(spark, dir).count() == 8L)
  }

  test("bloom sweepGrid conf binds: the FPR sweep re-grids with the override") {
    assert(CorpusOps.bloomSweepGridFor(spark) == Seq(10, 12, 14))
    val dir = "/root/testdata/sf0.001"
    spark.conf.set("graft.bloom.sweepGrid", "8, 16")
    try {
      assert(CorpusOps.bloomSweepGridFor(spark) == Seq(8, 16))
      // the grid relation honors the conf — the lever a heavy-tailed
      // scale corpus pulls to keep kn/m near 1 (the discriminative
      // regime) instead of saturating every default width
      val widths = SparkEntry.queries("bloom_fpr_sweep")(spark, dir)
        .collect().map(_.getAs[Long]("log2m")).sorted.toSeq
      assert(widths == Seq(8L, 16L))
      // out-of-range grids refuse loudly
      spark.conf.set("graft.bloom.sweepGrid", "4")
      intercept[IllegalArgumentException] {
        CorpusOps.bloomSweepGridFor(spark)
      }
    } finally {
      spark.conf.unset("graft.bloom.sweepGrid")
      graft.queries.Util.releaseCaches(spark)
    }
    assert(CorpusOps.bloomSweepGridFor(spark) == Seq(10, 12, 14))
  }

  test("kmv exact-baseline df cap binds: shared grams dropped, sketch side untouched") {
    assert(SketchOps.kmvExactDf(spark) == 1000)
    val dir = "/root/testdata/sf0.001"
    val base = SparkEntry.queries("kmv_intersect_audit")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // the uncapped baseline must see real cross-source overlap, or the
    // capped run below proves nothing
    assert(base.values.exists(_._1 > 0L))

    val metrics = scala.collection.concurrent.TrieMap.empty[String, Long]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft_drop_")) metrics(name) = row.getLong(0)
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // cap = 2 PARTIALLY binds on this corpus (grams span df 1..7): df > 2
    // grams drop, df = 2 grams still intersect — the partially-surviving
    // shape the withDropMetric contract covers (cap = 1 would empty the
    // exact relation and AQE's empty-relation propagation would prune the
    // observed subtree, the documented blind spot)
    spark.conf.set("graft.cap.kmvExactDf", "2")
    try {
      val capped = SparkEntry.queries("kmv_intersect_audit")(spark, dir)
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(capped.keySet == base.keySet)
      capped.foreach { case (k, (nExact, m, est)) =>
        // the capped exact universe is a subset → counts can only shrink
        assert(nExact <= base(k)._1, s"pair $k: capped n_exact_inter grew")
        // the sketch estimator never touches the gram join — unchanged
        assert((m, est) == ((base(k)._2, base(k)._3)),
          s"pair $k: sketch columns moved under the exact-side cap")
      }
      // the cap actually bit: total exact overlap strictly shrank but the
      // df = 2 survivors keep the relation non-empty
      assert(capped.values.map(_._1).sum < base.values.map(_._1).sum)
      assert(capped.values.exists(_._1 > 0L))
      val deadline = System.currentTimeMillis() + 10000
      while (!metrics.contains("graft_drop_kmv_exact_gram") &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(metrics.get("graft_drop_kmv_exact_gram").exists(_ > 0L),
        s"expected dropped shared grams, saw $metrics")
    } finally {
      spark.conf.unset("graft.cap.kmvExactDf")
      spark.listenerManager.unregister(listener)
    }
  }
}
