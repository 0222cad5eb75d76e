package graft.tools

import graft.SparkEntry

/** Scale spot-check: time a named subset of SparkEntry queries against an
  * arbitrary data dir (a ScaleGen corpus — only documents/embeddings
  * tables need to exist for the default set). Same harness discipline as
  * graft.Bench: uncounted JIT warm-up, sorted order, one JSON line,
  * negative seconds + nonzero exit on failure.
  *
  * Usage: runMain graft.tools.ScaleCheck <dataDir> [key=value ...] [query ...]
  * (default queries: the 5 most expensive of the sf0.1 bench; args
  * containing '=' are set as session confs before running — how a scale
  * run pins deployment knobs like graft.knn.probeMod)
  *
  * Timing is [[graft.Session.fullRow]], Bench's action: a plain `count()`
  * timer silently under-measures every "anchored audit" query — a left
  * join against a unique-keyed aggregate (decontaminate_*, the
  * drift/agreement audits) is provably cardinality-preserving, so under
  * count() Catalyst ELIMINATES the whole audit subtree and the timer sees
  * only the anchor scan (measured: decontaminate_minhash 1.2 s by count()
  * vs 29.2 s real at the 100× corpus). */
object ScaleCheck {
  private val defaultQueries = Seq("connected_components", "ann_lsh_cosine",
    "ann_ivf_cosine", "ngram_jaccard_pairs", "simhash_neardup_pairs")

  /** Minimal JSON string encoder (quote, backslash, control chars). */
  def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      throw new IllegalArgumentException("usage: ScaleCheck <dataDir> [query ...]"))
    val (confs, queryArgs) = args.drop(1).toSeq.partition(_.contains("="))
    val names = (if (queryArgs.nonEmpty) queryArgs else defaultQueries).sorted
    val spark = graft.Session.local(graft.Session.cpus,
      confs.map { kv => val Array(k, v) = kv.split("=", 2); k -> v }: _*)

    // uncounted warm-up on the SMALLEST driver corpus so JIT/codegen cost
    // doesn't land on the first measured query; never touches `dir`
    try {
      SparkEntry.queries("dedup_exact")(spark, "/root/testdata/sf0.001").count()
      ()
    } catch { case e: Throwable =>
      System.err.println(s"[scale-check] warm-up skipped: ${e.getMessage}")
    }

    val results = names.map { name =>
      val t0 = System.nanoTime()
      val n =
        try Right(graft.Session.fullRow(SparkEntry.queries(name)(spark, dir)))
        catch { case e: Throwable =>
          System.err.println(s"[scale-check] $name FAILED: ${e.getMessage}")
          Left(e)
        }
      val secs = (System.nanoTime() - t0) / 1e9
      (name, if (n.isRight) secs else -secs, n.getOrElse(-1L))
    }
    val qs = results.map { case (k, v, n) =>
      "\"" + k + "\":{\"sec\":" + v + ",\"rows\":" + n + "}"
    }.mkString("{", ",", "}")
    val failed = results.count(_._2 < 0)
    val total = results.map(_._2).filter(_ >= 0).sum
    // dir is user-supplied: escape it so a quote/backslash (or a control
    // char) in the path can't produce malformed JSON
    val dirJson = jsonString(dir)
    println(s"""{"metric":"scale_check","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"dir":$dirJson}""")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
