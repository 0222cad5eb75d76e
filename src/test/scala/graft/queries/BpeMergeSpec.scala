package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Hand-computed BPE merge rounds: argmax selection (count desc, pair asc),
  * frequency weighting over the distinct vocabulary, greedy left-to-right
  * merge application, and loop exhaustion before k. */
class BpeMergeSpec extends SparkSpec {

  private def run(dir: String) =
    SparkEntry.queries("bpe_merge_rounds")(spark, dir).collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[String]("left_sym"),
        r.getAs[String]("right_sym"), r.getAs[String]("merged"),
        r.getAs[Long]("pair_count")))

  test("bpe_merge_rounds: weighted argmax per round, then exhaustion") {
    val dir = tempDir("bpe1").toString
    import spark.implicits._
    // vocab: abab freq 3, ab freq 2, cd freq 5
    // r1: (a,b) = 2*3 + 1*2 = 8 beats (c,d) = 5 and (b,a) = 3 -> "ab"
    // r2: after merge, (ab,ab) = 3 loses to (c,d) = 5 -> "cd"
    // r3: (ab,ab) = 3 -> "abab"; r4: no pairs left -> stop at 3 rows
    val docs =
      (1L to 3L).map(i => (i, "abab")) ++
        (4L to 5L).map(i => (i, "ab")) ++
        (6L to 10L).map(i => (i, "cd"))
    docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    assert(run(dir).toSeq == Seq(
      (1, "a", "b", "ab", 8L),
      (2, "c", "d", "cd", 5L),
      (3, "ab", "ab", "abab", 3L)))
  }

  test("bpe_compression: per-source ROI of the learned merges, hand-computed") {
    val dir = tempDir("bpec").toString
    import spark.implicits._
    // same corpus as the argmax test, split across two sources; after the
    // three merges every word is a single symbol:
    // srcA: abab x3 + ab x2 -> 5 words, 16 char tokens, 5 bpe -> 687 milli
    // srcB: cd x5          -> 5 words, 10 char tokens, 5 bpe -> 500 milli
    val docs =
      (1L to 3L).map(i => (i, "abab", "srcA")) ++
        (4L to 5L).map(i => (i, "ab", "srcA")) ++
        (6L to 10L).map(i => (i, "cd", "srcB"))
    docs.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("bpe_compression")(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_char_tokens"), r.getAs[Long]("n_bpe_tokens"),
        r.getAs[Long]("saved_milli")))
    assert(out.toSeq == Seq(
      ("srcA", 5L, 16L, 5L, 687L),
      ("srcB", 5L, 10L, 5L, 500L)))
  }

  test("bpe_merge_rounds: greedy left-to-right overlap (aaaa -> aa,aa -> aaaa)") {
    val dir = tempDir("bpe2").toString
    import spark.implicits._
    (1L to 4L).map(i => (i, "aaaa", "en", "src0", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // r1: (a,a) appears 3x per word, weighted 12; greedy apply -> [aa, aa]
    // (a non-greedy fold would leave [aa, a, a] and diverge in r2)
    // r2: (aa,aa) = 4 -> "aaaa"; then exhausted
    assert(run(dir).toSeq == Seq(
      (1, "a", "a", "aa", 12L),
      (2, "aa", "aa", "aaaa", 4L)))
  }
}
