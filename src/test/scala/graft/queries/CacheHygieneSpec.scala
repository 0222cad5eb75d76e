package graft.queries

import graft.{Bench, SparkEntry, SparkSpec}

/** Iterative queries must release what they pin: `connected_components`
  * persists the band relation and localCheckpoints edges plus one label
  * generation per iteration. A long-lived session (notebook, Thrift
  * server) running it repeatedly must not accumulate block-manager state,
  * so after the query returns (a) the CacheManager holds no
  * InMemoryRelation from it and (b) at most ONE checkpoint RDD — the
  * final label generation the returned frame reads, freed by the
  * ContextCleaner once the result is unreferenced — is still registered. */
class CacheHygieneSpec extends SparkSpec {

  test("connected_components releases every relation it pins") {
    // suites share one session and the session cache registry persists
    // lazily across queries by design — start from a clean slate so the
    // assertion sees only what THIS query registers
    spark.sharedState.cacheManager.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet

    val out = SparkEntry.queries("connected_components")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)

    assert(spark.sharedState.cacheManager.isEmpty,
      "connected_components left an InMemoryRelation registered — the " +
        "band-relation persist must be released once edges materialize")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    // two residents are INTENTIONAL: the final label generation the
    // returned frame reads, and the session-cached edge checkpoint that
    // cross_source_leakage shares (ccEdges — discovered once per session,
    // the cachedRelation contract, asserted non-stacking below)
    assert(leaked.size <= 2,
      s"connected_components left ${leaked.size} checkpoint RDDs pinned " +
        "(only the final label generation and the shared ccEdges " +
        "checkpoint may remain): " + leaked.toSeq.sorted)

    // re-running must NOT stack a second edge checkpoint (the cache is
    // per (session, dir, cap), not per call)
    SparkEntry.queries("connected_components")(
      spark, "/root/testdata/sf0.001").collect()
    val leaked2 = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked2.size <= 3, // + at most the fresh final-label generation
      s"re-run stacked checkpoint RDDs: " + leaked2.toSeq.sorted)
  }

  test("releaseCaches: the unpersist ladder empties every registry and " +
      "queries rebuild correctly after it") {
    val dir = "/root/testdata/sf0.001"
    spark.sharedState.cacheManager.clearCache()
    Util.releaseCaches(spark) // drain state left by sibling tests first
    val baseline = spark.sparkContext.getPersistentRDDs.keySet

    // populate several registry families, INCLUDING the checkpointed ones
    // (CC labels/edges, the BPE and WordPiece trainer states — the ladder
    // frees their blocks via Util.unpersistDeep's LogicalRDD walk;
    // Dataset.unpersist alone is a no-op on localCheckpoint state).
    // kcore_peel stays excluded: its 8 PER-RUN round checkpoints are
    // referenced only by the result frame and follow the ContextCleaner's
    // GC lifecycle, which the first test in this suite covers
    val names = Seq("knn_brute_cosine", "pq_adc_topk", "bm25_topk",
      "containment_prefix_pairs", "part_cooccurrence", "bpe_pair_stats",
      "connected_components", "bpe_compression", "wordpiece_compression")
    val first = names.map(n =>
      n -> SparkEntry.queries(n)(spark, dir).collect().length).toMap
    assert(spark.sparkContext.getPersistentRDDs.keySet.size > baseline.size,
      "the cache family must actually be populated before the ladder runs")

    Util.releaseCaches(spark)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- baseline
    assert(leaked.isEmpty,
      s"releaseCaches left persisted RDDs behind: ${leaked.toSeq.sorted}")

    // correctness is untouched: every query rebuilds lazily to the same rows
    names.foreach { n =>
      assert(SparkEntry.queries(n)(spark, dir).collect().length == first(n),
        s"$n changed row count after the release ladder")
    }
    Util.releaseCaches(spark) // leave the shared session clean for siblings
  }

  test("per-query persisted relations are cached per session, not stacked per call") {
    // the Util.cachedRelation contract: invoking the same query twice in
    // one session reuses the SAME persisted relation — a long-lived
    // session must not accumulate one InMemoryRelation per invocation
    val dir = "/root/testdata/sf0.001"
    val names = Seq("containment_prefix_pairs", "jaccard_prefix_pairs",
      "semantic_dedup")
    names.foreach(n => SparkEntry.queries(n)(spark, dir).collect())
    val after1 = spark.sparkContext.getPersistentRDDs.keySet
    names.foreach(n => SparkEntry.queries(n)(spark, dir).collect())
    val after2 = spark.sparkContext.getPersistentRDDs.keySet
    assert(after2 == after1,
      s"repeat invocations stacked new persisted RDDs: ${after2 -- after1}")
  }

  test("releaseFamily drops the hanf levels, keeps the edges, same rows") {
    val dir = "/root/testdata/sf0.001"
    spark.sharedState.cacheManager.clearCache()
    Util.releaseCaches(spark)
    val baseline = spark.sparkContext.getPersistentRDDs.keySet

    val first = SparkEntry.queries("graph_hyperanf_audit")(spark, dir)
      .collect()
    assert(first.nonEmpty)
    val populated = spark.sparkContext.getPersistentRDDs.keySet
    assert(populated.size > baseline.size,
      "the hanf register family must be resident before the release")

    val hanf = Bench.releaseSchedule.toMap.apply("graph_")
    val released = Util.releaseFamily(spark, hanf: _*)
    assert(released >= 3, // at least the audit's propagation levels
      s"expected the register levels to be released, got $released")
    // a second call is a no-op: the family is gone
    assert(Util.releaseFamily(spark, hanf: _*) == 0)

    // hanfEdges (kept deliberately) may remain; the level relations must
    // be gone, so residency shrinks strictly
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after.size < populated.size,
      "the family release must shrink persisted-RDD residency")

    // correctness untouched: the consumer rebuilds the levels lazily to
    // the identical rows
    val again = SparkEntry.queries("graph_hyperanf_audit")(spark, dir)
      .collect()
    assert(again.toSeq == first.toSeq,
      "graph_hyperanf_audit changed after the family release")
    Util.releaseCaches(spark)
  }

  test("releaseFamily drops the serve graphs; beam sweep rebuilds same") {
    val dir = "/root/testdata/sf0.001"
    val first = SparkEntry.queries("ann_graph_beam_sweep")(spark, dir)
      .collect()
    assert(first.nonEmpty)
    val serve = Bench.releaseSchedule.toMap.apply("ann_graph_")
    val released = Util.releaseFamily(spark, serve: _*)
    assert(released >= 2, // greedyGraph + graphHop1 at least
      s"expected the serve graph family to be released, got $released")
    assert(Util.releaseFamily(spark, serve: _*) == 0)
    val again = SparkEntry.queries("ann_graph_beam_sweep")(spark, dir)
      .collect()
    assert(again.toSeq == first.toSeq,
      "ann_graph_beam_sweep changed after the family release")
    Util.releaseCaches(spark)
  }

  test("releasing a persisted relation leaves the checkpoints it reads") {
    // wordpieceVocab is persisted over the WordPiece trainer's checkpoint:
    // releasing it alone must not free that checkpoint, or the trainer's
    // next reader finds its blocks gone
    val dir = "/root/testdata/sf0.001"
    val first = SparkEntry.queries("wordpiece_compression")(spark, dir)
      .collect()
    assert(UnigramOps.wordpieceVocabRel(spark, dir).count() > 0)
    assert(Util.releaseFamily(spark, "wordpieceVocab") == 1)
    assert(Util.cacheStats(spark)
      .exists(c => c.dir == dir && c.name == "wpTrained" && c.resident))
    val again = SparkEntry.queries("wordpiece_compression")(spark, dir)
      .collect()
    assert(again.toSeq == first.toSeq)
    Util.releaseCaches(spark)
  }

  test("cached: one build per key under concurrent first access") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    val dir = tempDir("cached-lock").toString
    def onThreads[T](fs: (() => T)*): Seq[T] = {
      val out = new java.util.concurrent.ConcurrentHashMap[Int, Any]()
      val ts = fs.zipWithIndex.map { case (f, i) =>
        new Thread(() => { out.put(i, f()); () })
      }
      ts.foreach(_.start()); ts.foreach(_.join(30000))
      fs.indices.map(i => out.get(i).asInstanceOf[T])
    }

    // one key, two first callers: the slow build runs once, both get it
    val calls = new AtomicInteger()
    def slow(): Int = Util.cached(spark, dir, "lockOne", "") {
      calls.incrementAndGet(); Thread.sleep(500); 42
    }
    assert(onThreads(() => slow(), () => slow()) == Seq(42, 42))
    assert(calls.get == 1, s"the build ran ${calls.get} times")
    val stat = Util.cacheStats(spark).filter(_.dir == dir)
    assert(stat.map(c => (c.name, c.builds, c.hits)) == Seq(("lockOne", 1, 1)))

    // two keys build at the same time: each build waits for the other to
    // start, which a shared lock would never let happen
    val started = new CountDownLatch(2)
    def meet(name: String): Boolean = Util.cached(spark, dir, name, "") {
      started.countDown(); started.await(10, TimeUnit.SECONDS)
    }
    assert(onThreads(() => meet("lockA"), () => meet("lockB")) ==
      Seq(true, true), "two keys' builds did not overlap")
    Util.releaseFamily(spark, "lock")
  }
}
