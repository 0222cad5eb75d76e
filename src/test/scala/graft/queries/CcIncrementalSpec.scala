package graft.queries

import graft.{SparkEntry, SparkSpec}

/** cc_incremental = full CC recompute, by construction and by assertion:
  * the merge path (contract new edges to current labels, fixpoint on the
  * increment-sized supergraph, compose) must be indistinguishable from
  * re-running the whole fixpoint over corpus + increment. */
class CcIncrementalSpec extends SparkSpec {

  test("cc_incremental: planted increment joins its base component; isolated increment keeps itself") {
    val dir = tempDir("ccinc").toString
    import spark.implicits._
    Seq(
      // base slice (doc_id % 10 == 0, % 50 != 0): three singleton comps
      (10L, "alpha beta gamma delta"),
      (20L, "epsilon zeta eta theta"),
      (30L, "foo bar baz qux"),
      // increment (doc_id % 50 == 0): 50 has the SAME WORD SET as 10
      // (reordered — all 16 minhashes equal, every band shared, J = 1,
      // so the edge is banding-guaranteed); 100 matches nothing
      (50L, "delta gamma beta alpha"),
      (100L, "completely unrelated words here"),
      // off-universe doc (doc_id % 10 != 0): must not appear at all
      (7L, "alpha beta gamma delta"))
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("cc_incremental")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("component"), r.getAs[Long]("comp_size"),
          r.getAs[Boolean]("is_increment")))).toMap
    assert(out.keySet == Set(10L, 20L, 30L, 50L, 100L))
    assert(out(10L) == ((10L, 2L, false))) // merged comp labeled by min id
    assert(out(50L) == ((10L, 2L, true))) // increment adopted base label
    assert(out(20L) == ((20L, 1L, false)))
    assert(out(30L) == ((30L, 1L, false)))
    assert(out(100L) == ((100L, 1L, true))) // isolated increment: own label
  }

  test("cc_incremental: empty increment degenerates to the base labels") {
    val dir = tempDir("ccincempty").toString
    import spark.implicits._
    // no doc_id % 50 == 0 docs at all: the contracted graph is empty and
    // every base label must pass through unchanged
    Seq(
      (10L, "alpha beta gamma delta"),
      (20L, "delta gamma beta alpha"), // near-dup of 10 within the base
      (30L, "completely different words here"))
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("cc_incremental")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("component"), r.getAs[Long]("comp_size"),
          r.getAs[Boolean]("is_increment")))).toMap
    assert(out == Map(
      10L -> ((10L, 2L, false)),
      20L -> ((10L, 2L, false)),
      30L -> ((30L, 1L, false))))
  }

  test("ccMergeIncrement: three-wave continuous folding equals a union-find recount") {
    import spark.implicits._
    // seeded random graph; node wave = node % 3, an edge arrives with its
    // max-wave endpoint — the continuous-ingest shape
    val rnd = new scala.util.Random(42)
    val n = 200
    val nodes = (0L until n).toVector
    val edges = Vector.fill(300) {
      val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    def wave(x: Long) = (x % 3).toInt

    // independent recount: union-find with min-id labels
    val parent = scala.collection.mutable.Map(nodes.map(x => x -> x): _*)
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val m = math.min(ra, rb); parent(math.max(ra, rb)) = m }
    }
    val expected = nodes.map(x => x -> find(x)).toMap

    // wave 0 is the initial fixpoint; waves 1-2 fold through the API,
    // each result feeding back in as the next held state
    var labels = Seq.empty[(Long, Long)].toDF("node", "label")
    (0 to 2).foreach { w =>
      val incNodes = nodes.filter(wave(_) == w).toDF("node")
      val newEdges = edges
        .filter(e => math.max(wave(e._1), wave(e._2)) == w)
        .toDF("a_id", "b_id")
      labels = DedupOps.ccMergeIncrement(labels, incNodes, newEdges)
    }
    val got = labels.collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    assert(got == expected, "folded labels diverged from the union-find recount")
    // sanity: the graph actually merged things across waves
    assert(expected.values.toSet.size < n)
  }

  test("cc_incremental: hash-parity with the full recompute on real sf0.01 data") {
    val dir = "/root/testdata/sf0.01"
    val inc = SparkEntry.queries("cc_incremental")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("component"),
        r.getAs[Long]("comp_size"))).toSet
    val full = SparkEntry.queries("connected_components")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("component"),
        r.getAs[Long]("comp_size"))).toSet
    assert(inc == full, "merge path diverged from full recompute")
    // the flag partitions the universe exactly at doc_id % 50
    val flags = SparkEntry.queries("cc_incremental")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_increment"))
    assert(flags.nonEmpty)
    flags.foreach { case (id, f) => assert(f == (id % 50 == 0), s"doc $id") }
  }
}
