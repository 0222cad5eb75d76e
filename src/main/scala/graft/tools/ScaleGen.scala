package graft.tools

/** Deterministic N× synthetic corpus generator for scale spot-checks.
  *
  * /root/testdata tops out at sf0.1 (5 000 documents / 2 000 embeddings) and
  * is read-only, so scale checks beyond it need their own corpus. This
  * generates one with the SAME statistical shape as the driver's synthetic
  * tables — measured off sf0.1: 10–100 words per doc (mean ~54) drawn from a
  * 31-word vocabulary, 5 languages, 20 sources, a seeded near-duplicate
  * structure (~8% of docs mutate a doc 13 ids earlier), and dim-64
  * embeddings in 8 label clusters — at `mult`× the row counts. Every value
  * is a pure function of (id, fixed seed): re-running reproduces the corpus
  * bit-for-bit, so timings are comparable across rounds.
  *
  * Usage: runMain graft.tools.ScaleGen <outDir> [mult]
  * (writes <outDir>/documents.parquet and <outDir>/embeddings.parquet) */
object ScaleGen {
  // the sf0.1 vocabulary (31 distinct words across the whole corpus): word
  // SETS collide heavily by design — that is what stresses the minhash-band
  // bucketing exactly the way the driver corpus does
  private val vocab = Vector(
    "window", "merge", "agg", "hash", "order", "data", "slow", "key",
    "scan", "table", "dup", "group", "join", "sort", "shuffle", "spill",
    "broadcast", "filter", "plan", "stage", "task", "row", "column",
    "batch", "stream", "state", "cache", "skew", "salt", "codegen", "limit")
  private val langs = Vector("en", "de", "es", "fr", "zh")
  private val dim = 64
  private val nLabels = 8

  // --zipf mode: a 2000-word vocabulary with p(rank) ∝ 1/rank — the
  // HEAVY-HEAD / LONG-TAIL density of real text, vs the default 31-word
  // uniform corpus. Uniform density is the exact-containment worst case
  // (every shingle is mid-df, no algorithm avoids the pair mass); zipf is
  // the regime where rarest-first prefix filtering pays (hot shingles are
  // excluded from candidate generation, the tail carries the signal).
  private val zipfVocabSize = 2000
  private lazy val zipfCum: Array[Double] = {
    val w = Array.tabulate(zipfVocabSize)(i => 1.0 / (i + 1))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / tot }
  }
  private def zipfWord(r: java.util.Random): String = {
    val u = r.nextDouble()
    var lo = 0
    var hi = zipfVocabSize - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (zipfCum(mid) < u) lo = mid + 1 else hi = mid
    }
    s"z$lo"
  }

  // --heaps mode: an EFFECTIVELY UNBOUNDED vocabulary whose observed size
  // grows with the corpus — the regime the fixed 31-word and 2000-word
  // vocabularies can never reach (both SATURATE at the 100× corpus, which
  // empties good_turing_audit's count classes and shrinks bloom_fpr_sweep's
  // train-only probe set to ~2 grams — the round-14 SCALECHECK caveat).
  // Ranks are drawn with p(r) ∝ r^(−s) via the continuous-Pareto inverse
  // CDF (rank = ⌊u^(−1/(s−1))⌋); a power-law frequency curve observed
  // through N draws yields Heaps-law vocabulary growth V(N) ~ N^(1/s)
  // (s = 1.4 → β ≈ 0.71), so the low-count classes and the unseen-gram
  // tail GROW with corpus size the way a real heavy-tailed crawl's do.
  private val heapsS = 1.4
  private def heapsWord(r: java.util.Random): String = {
    val u = 1.0 - r.nextDouble() // (0, 1]: u = 0 would blow the pole
    val rank = math.min(math.pow(u, -1.0 / (heapsS - 1.0)), 1e12).toLong
    s"h$rank"
  }

  private def word(mode: String, r: java.util.Random): String = mode match {
    case "zipf" => zipfWord(r)
    case "heaps" => heapsWord(r)
    case _ => vocab(r.nextInt(vocab.size))
  }

  private def baseWords(id: Long, mode: String): Array[String] = {
    val r = new java.util.Random(id * 1000003L + 7)
    val n = 10 + r.nextInt(91)
    Array.fill(n)(word(mode, r))
  }

  /** ~8% of docs are near-duplicates: copy the doc ONE id earlier and
    * mutate ~10% of its words — the MinHash/SimHash/CC/near-dup workload.
    * The partner (id−1 ≡ 4 mod 13) is never itself a mutant, so every
    * planted pair is (base doc, mutated copy) — the earlier `id−13` rule
    * had partners that were themselves mutants of a DIFFERENT base
    * (id−13 ≡ 5 mod 13 too), which silently reduced the whole corpus to
    * ONE true pair; the uniform 31-word vocabulary masked it with random
    * collisions, the zipf corpus exposed it. */
  private def docWords(id: Long, mode: String): Array[String] =
    if (id % 13 == 5 && id >= 13) {
      val w = baseWords(id - 1, mode).clone()
      val r = new java.util.Random(id * 7919L + 3)
      for (k <- w.indices) if (r.nextInt(10) == 0)
        w(k) = word(mode, r)
      w
    } else baseWords(id, mode)

  def main(args: Array[String]): Unit = {
    val mode =
      if (args.contains("--heaps")) "heaps"
      else if (args.contains("--zipf")) "zipf"
      else "uniform"
    val posArgs = args.filterNot(a => a == "--zipf" || a == "--heaps")
    val out = posArgs.headOption.getOrElse("/root/repo/scale10")
    val mult = posArgs.lift(1).map(_.toInt).getOrElse(10)
    val nDocs = 5000L * mult
    val nVecs = 2000L * mult
    val spark = graft.Session.local(graft.Session.cpus)
    import spark.implicits._

    spark.range(nDocs).map { id =>
      val words = docWords(id, mode)
      val text = words.mkString(" ")
      (id, text, langs((id % langs.size).toInt), s"src${id % 20}",
        text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(16)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    spark.range(nVecs).map { id =>
      val lbl = (id % nLabels).toInt
      val rc = new java.util.Random(lbl * 99991L + 17)
      val center = Array.fill(dim)((rc.nextFloat() - 0.5f) * 2f)
      val r = new java.util.Random(id * 31337L + 23)
      val v = center.map(c => c + (r.nextFloat() - 0.5f) * 0.6f)
      (id, v, lbl)
    }.toDF("vec_id", "embedding", "label")
      .repartition(16)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // events in the driver's exact layout (ts = int64 NANOSECONDS — the
    // Util.t nanos path must engage at scale too): 100k rows / 1 500 users
    // per sf0.1-equivalent, 30 days of 2024-01, 5 uniform types,
    // exponential-ish values (mean ~50, like the driver corpus), {"k": n}
    // props. Pure function of (id, seed) like the other tables.
    val nEvents = 100000L * mult
    val nUsers = 1500L * mult
    val epochS = 1704067200L // 2024-01-01 00:00:00 UTC
    val types = Vector("click", "view", "signup", "purchase", "error")
    spark.range(nEvents).map { id =>
      val r = new java.util.Random(id * 6364136223846793005L + 1442695040888963407L)
      val tsNs = (epochS + (r.nextDouble() * 30 * 86400).toLong) * 1000000000L +
        r.nextInt(1000000) * 1000L
      val value = math.rint(-50.0 * math.log(1.0 - r.nextDouble()) * 100) / 100
      (id, tsNs, (math.floorMod(id * 2654435761L, nUsers)),
        types(r.nextInt(types.size)), value, s"""{"k": ${r.nextInt(100)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(16)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // minimal orders slice (the columns the order-statistics queries read):
    // 150k rows per sf0.1-equivalent, 5 priorities, uniform 2-dp totalprice
    // in [1000, 500000] — near-unique cents like the driver table, so the
    // value-histogram quantile path is exercised on a near-continuous
    // domain (its hard case), not just the repeat-heavy events domain
    // o_custkey/o_orderdate feed the layout queries (zorder_pack): uniform
    // customer draw over a 15k-per-sf0.1 dimension, order dates uniform
    // over 1997-2001 like the driver table — both pure functions of id
    val nOrders = 150000L * mult
    val nCust = 15000L * mult
    val prios = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    spark.range(nOrders).map { id =>
      val r = new java.util.Random(id * 2862933555777941757L + 3037000493L)
      val price = math.rint((1000.0 + r.nextDouble() * 499000.0) * 100) / 100
      val custkey = r.nextLong().abs % nCust
      val epochDay = 9862L + (r.nextLong().abs % 1826L) // 1997-01-01 + 5y
      val ts = new java.sql.Timestamp(epochDay * 86400000L)
      (id, price, prios(r.nextInt(prios.size)), custkey, ts)
    }.toDF("o_orderkey", "o_totalprice", "o_orderpriority", "o_custkey",
      "o_orderdate")
      .repartition(16)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    // minimal lineitem slice (the columns the graph/market-basket queries
    // read): ~4 items per order drawn from a 20k-parts-per-sf0.1 catalog
    // with QUADRATIC popularity skew (part ~ u² → hot parts get order-count
    // ~ √-density tail) so co-occurrence hot keys and high-degree triangle
    // nodes exist at scale — the degree-orientation stress case TPC-H's
    // uniform draw never produces. Supplier is a pure function of part
    // (part mod nSupp) for the pagerank bipartite graph.
    val nParts = 20000L * mult
    val nSupp = 1000L * mult
    spark.range(nOrders).flatMap { oid =>
      val r = new java.util.Random(oid * 0x9E3779B97F4A7C15L + 41)
      val k = 1 + r.nextInt(7)
      (0 until k).map { _ =>
        val p = (nParts * r.nextDouble() * r.nextDouble()).toLong.min(nParts - 1)
        (oid, p, p % nSupp)
      }
    }.toDF("l_orderkey", "l_partkey", "l_suppkey")
      .repartition(16)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    println(s"[scale-gen] wrote $nDocs docs + $nVecs embeddings + $nEvents events + $nOrders orders (+lineitem) to $out (mult=$mult, mode=$mode)")
    spark.stop()
  }
}
