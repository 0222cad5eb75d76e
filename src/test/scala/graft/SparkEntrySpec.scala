package graft

import graft.queries.Util

/** Driver-contract smoke: entry yields rows at sf0.001; every declared query
  * runs there; every query has distinct, stable column names. */
class SparkEntrySpec extends SparkSpec {

  test("entry (flagship ETL slice) returns rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSeq == graft.etl.Schemas.fatSchema.fieldNames.toSeq)
    // one row per key — the merge invariant
    assert(df.select("chave_nfe").distinct().count() == df.count())
  }

  test("every query runs at sf0.001 and returns rows") {
    // Bench's walk: sorted order, Bench.releaseSchedule applied after each
    // query. A family must not be built again once released (Bench would
    // pay the rebuild inside a later query's timed window), and every
    // schedule row must match a query and release something.
    val dir = "/root/testdata/sf0.001"
    val names = SparkEntry.queries.keys.toSeq.sorted
    Bench.releaseSchedule.foreach { case (prefix, _) =>
      assert(names.exists(_.startsWith(prefix)),
        s"release row '$prefix' matches no query")
    }
    def builds(prefixes: Seq[String]): Map[(String, String), Int] =
      Util.cacheStats(spark)
        .filter(c => c.dir == dir && prefixes.exists(c.name.startsWith))
        .map(c => (c.name, c.knobs) -> c.builds).toMap
    var releasedPrefixes = Seq.empty[String]
    var buildsAtRelease = Map.empty[(String, String), Int]
    names.zipWithIndex.foreach { case (name, i) =>
      val df = SparkEntry.queries(name)(spark, dir)
      assert(df.columns.distinct.length == df.columns.length, s"$name dup cols")
      assert(df.count() > 0, s"$name returned 0 rows")
      val rebuilt = builds(releasedPrefixes).filter { case (k, n) =>
        n > buildsAtRelease.getOrElse(k, 0)
      }
      assert(rebuilt.isEmpty,
        s"$name built released caches again: ${rebuilt.keys.toSeq.sorted}")
      Bench.releasesAfter(names, i).foreach { case (prefix, caches) =>
        assert(Util.releaseFamily(spark, caches: _*) > 0,
          s"release row '$prefix' released nothing after $name")
        releasedPrefixes ++= caches
        buildsAtRelease ++= builds(caches)
      }
    }
  }

  test("every oracle key has a query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
