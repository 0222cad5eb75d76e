package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.{SparkEntry, SparkSpec}

/** Algebraic invariants of the round-9 operators over GENERATED corpora
  * (PropertySpec's seeded-Gen style): laws that must hold for any input,
  * where the oracle gate only pins one corpus.
  *
  *  - line_dedup is idempotent: a cleaned corpus has nothing left to
  *    remove (every surviving chunk's first occurrence is itself).
  *  - line_dedup conserves chunks: Σ n_kept = distinct chunk values of
  *    the input, and n_kept ≤ n_chunks rowwise.
  *  - event_funnel is monotone: each step's user count ≤ the previous
  *    step's, whatever the event ordering.
  *  - scd2_intervals tiles each user's event range: interval starts are
  *    unique, exactly one open (is_current) interval per user, and
  *    Σ n_events = the user's event count.
  */
class InvariantSpec extends SparkSpec {
  import spark.implicits._

  private val params = Gen.Parameters.default
  private def sample[T](g: Gen[T], n: Int, seed0: Long = 7L): Seq[T] =
    (0 until n).flatMap(i => g.apply(params, Seed(seed0 + i)))

  private val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
  private val genDoc: Gen[String] = for {
    n <- Gen.choose(1, 40)
    ws <- Gen.listOfN(n, Gen.oneOf(vocab))
  } yield ws.mkString(" ")

  private def writeDocs(texts: Seq[String]): String = {
    val dir = tempDir("invdocs").toString
    texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "s", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("line_dedup: idempotence + chunk conservation on a generated corpus") {
    // small vocab + short docs → heavy chunk collisions, the stress case
    val dir = writeDocs(sample(genDoc, 120))
    val once = SparkEntry.queries("line_dedup")(spark, dir).collect()
    // conservation: every row keeps at most what it had, and the kept
    // total equals the number of distinct chunk values in the input
    assert(once.forall(r => r.getAs[Long]("n_kept") <= r.getAs[Long]("n_chunks")))
    val keptTotal = once.map(_.getAs[Long]("n_kept")).sum
    // recompute distinct chunks directly with the same chunking rule
    val w = 8
    val chunks = spark.read.parquet(s"$dir/documents.parquet")
      .select(posexplode(transform(
        sequence(lit(0L), floor((size(split(col("text"), " ")) - 1) / lit(w.toDouble))),
        i => concat_ws(" ", slice(split(col("text"), " "), (i * w + 1).cast("int"), lit(w)))))
        .as(Seq("i", "chunk")))
      .select(col("chunk")).distinct().count()
    assert(keptTotal == chunks,
      s"kept $keptTotal != distinct chunks $chunks")
    // idempotence: feed the cleaned texts back through
    val dir2 = writeDocs(once.sortBy(_.getAs[Long]("doc_id"))
      .map(_.getAs[String]("text_clean")).filter(_.nonEmpty))
    val twice = SparkEntry.queries("line_dedup")(spark, dir2).collect()
    assert(twice.forall(r => r.getAs[Long]("n_kept") == r.getAs[Long]("n_chunks")),
      "second pass removed chunks — line_dedup is not idempotent")
  }

  private val genEvent: Gen[(Long, String, Int)] = for {
    uid <- Gen.choose(1L, 12L)
    et <- Gen.oneOf("signup", "view", "click", "purchase", "error")
    minute <- Gen.choose(0, 10000)
  } yield (uid, et, minute)

  private def writeEvents(rows: Seq[(Long, String, Int)]): String = {
    val dir = tempDir("invevents").toString
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    rows.zipWithIndex.map { case ((uid, et, min), i) =>
      (i.toLong, (t0 + min * 60000L) * 1000000L, uid, et, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("event_funnel: step counts are monotone non-increasing (generated logs)") {
    (0 until 3).foreach { k =>
      val dir = writeEvents(sample(genEvent, 300, seed0 = 100L + k))
      val counts = SparkEntry.queries("event_funnel")(spark, dir).collect()
        .map(r => r.getAs[String]("step") -> r.getAs[Long]("n_users")).toMap
      val seq = Seq("1_signup", "2_view", "3_click", "4_purchase").map(counts)
      assert(seq.zip(seq.tail).forall { case (a, b) => a >= b },
        s"funnel not monotone: $seq")
    }
  }

  test("scd2_intervals: unique starts, one current interval, event conservation") {
    val dir = writeEvents(sample(genEvent, 300, seed0 = 500L))
    val rows = SparkEntry.queries("scd2_intervals")(spark, dir).collect()
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    val eventCounts = spark.read.parquet(s"$dir/events.parquet")
      .groupBy("user_id").count().collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("count")).toMap
    byUser.foreach { case (uid, ivs) =>
      assert(ivs.count(_.getAs[Boolean]("is_current")) == 1,
        s"user $uid: expected exactly one open interval")
      assert(ivs.map(_.getAs[Long]("n_events")).sum == eventCounts(uid),
        s"user $uid: intervals do not conserve events")
      val sorted = ivs.sortBy(r => (r.getAs[Timestamp]("valid_from").getTime,
        Option(r.getAs[Timestamp]("valid_to")).map(_.getTime).getOrElse(Long.MaxValue)))
      sorted.init.zip(sorted.tail).foreach { case (a, b) =>
        assert(a.getAs[Timestamp]("valid_to") != null,
          s"user $uid: non-final interval left open")
      }
    }
  }
}
