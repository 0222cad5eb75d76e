package graft.tools

import graft.SparkEntry

/** Storage-memory audit of the session cache registry
  * ([[graft.queries.Util.cached]]). Runs a cache-heavy query set against a
  * dir, then reports every persisted RDD with its memory/disk footprint,
  * every registry entry (name, knobs, builds, hits, and the bytes its
  * DataFrames hold while resident) and the executor storage ceiling,
  * re-measures after [[graft.queries.Util.releaseCaches]], and prints ONE
  * JSON line (the ScaleCheck discipline).
  *
  * Besides query names the list takes two commands: `RELEASE` runs the
  * whole ladder, and `RELEASE:<prefix>[,<prefix>...]` frees the cache
  * families with those name prefixes ([[graft.queries.Util.releaseFamily]],
  * the step Bench's release schedule takes) and logs the storage left.
  *
  * Usage: runMain graft.tools.CacheAudit <dataDir> [query | RELEASE |
  * RELEASE:<prefix>[,<prefix>...] ...] */
object CacheAudit {
  private val defaultQueries = Seq(
    // one representative per session-cached relation family:
    "knn_brute_cosine",      // quantizedBase
    "pq_adc_topk",           // pqEncoded (+ base)
    "ann_ivfadc_residual_topk", // residualEncoded (+ ivfServeAssigned)
    "bm25_topk",             // tf relation
    "connected_components",  // CC signatures/edges/labels
    "kcore_peel",            // kcore edge relation
    "containment_prefix_pairs", // rankedShingles
    "pagerank_links",        // pagerankEdges
    "triangle_count",        // triangleOriented (+ basket/pair caches)
    "ngram_jaccard_pairs",   // ngramShinglesCapped
    "simhash_neardup_pairs") // simhashBands + simhash pair relation

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      throw new IllegalArgumentException("usage: CacheAudit <dataDir> " +
        "[query | RELEASE | RELEASE:<prefix>[,<prefix>...] ...]"))
    val names = if (args.length > 1) args.drop(1).toSeq else defaultQueries
    val spark = graft.Session.local(graft.Session.cpus)

    def storage(): (Long, Long, Seq[String]) = {
      val infos = spark.sparkContext.getRDDStorageInfo
      val mem = infos.map(_.memSize).sum
      val disk = infos.map(_.diskSize).sum
      val rows = infos.sortBy(-_.memSize).toSeq.map { i =>
        val name = Option(i.name).getOrElse("rdd_" + i.id).replace("\"", "'")
        s"""{"name":${ScaleCheck.jsonString(name.take(80))},""" +
          s""""mem_mb":${i.memSize / 1024 / 1024},""" +
          s""""disk_mb":${i.diskSize / 1024 / 1024},""" +
          s""""parts_cached":${i.numCachedPartitions}}"""
      }
      (mem, disk, rows)
    }

    names.foreach { n =>
      if (n == "RELEASE") {
        // phase boundary: the unpersist ladder between work phases — the
        // mitigation the audit prescribes when residency + the next
        // query's working set exceed the heap
        graft.queries.Util.releaseCaches(spark)
        System.err.println("[cache-audit] RELEASE: ladder ran")
      } else if (n.startsWith("RELEASE:")) {
        val prefixes = n.stripPrefix("RELEASE:").split(",").toSeq
        val k = graft.queries.Util.releaseFamily(spark, prefixes: _*)
        val (m, d, _) = storage()
        System.err.println(s"[cache-audit] $n: $k entries " +
          s"released; storage now mem=${m / 1024 / 1024} MB " +
          s"disk=${d / 1024 / 1024} MB")
      } else {
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(n)(spark, dir).count()
        System.err.println(f"[cache-audit] $n: $rows rows, " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
    }

    val (memUsed, diskUsed, perRdd) = storage()
    val bytesById = spark.sparkContext.getRDDStorageInfo
      .map(i => i.id -> (i.memSize + i.diskSize)).toMap
    val entries = graft.queries.Util.cacheStats(spark).map { c =>
      val bytes = c.frames.flatMap(graft.queries.Util.heldRdds)
        .map(r => bytesById.getOrElse(r.id, 0L)).sum
      s"""{"name":${ScaleCheck.jsonString(c.name)},""" +
        s""""knobs":${ScaleCheck.jsonString(c.knobs)},""" +
        s""""builds":${c.builds},"hits":${c.hits},""" +
        s""""resident":${c.resident},"bytes":$bytes}"""
    }
    val maxStorage = spark.sparkContext.getExecutorMemoryStatus.values
      .map(_._1).sum // max storage+execution memory per executor
    graft.queries.Util.releaseCaches(spark)
    val (memAfter, diskAfter, _) = storage()

    println(s"""{"metric":"cache_audit","dir":${ScaleCheck.jsonString(dir)},""" +
      s""""queries":${names.size},""" +
      s""""storage_mem_mb":${memUsed / 1024 / 1024},""" +
      s""""storage_disk_mb":${diskUsed / 1024 / 1024},""" +
      s""""storage_ceiling_mb":${maxStorage / 1024 / 1024},""" +
      s""""after_release_mem_mb":${memAfter / 1024 / 1024},""" +
      s""""after_release_disk_mb":${diskAfter / 1024 / 1024},""" +
      s""""rdds":[${perRdd.mkString(",")}],""" +
      s""""entries":[${entries.mkString(",")}]}""")
    spark.stop()
  }
}
