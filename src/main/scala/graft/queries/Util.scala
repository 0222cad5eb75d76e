package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One named query with its DuckDB oracle twin (SURVEY §5.1).
  *
  * Determinism contract for the driver's hash-compare:
  *  - identical output column NAMES on both sides (compare sorts by name);
  *  - value-exact arithmetic only: integer/decimal aggregation (doubles pass
  *    through untouched or are converted via round()*100 → BIGINT "cents",
  *    which is bit-deterministic in both engines);
  *  - explicit ORDER BY on a unique key in both plans.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Util {

  /** Sessions that already have the drop-metric logger registered (weak so a
    * stopped session can be collected — same hygiene as the query caches). */
  private val dropLoggerSessions =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Attach a named observation to `df` counting keys a hot-key/bucket cap
    * dropped, and register (once per session) a listener that logs any
    * nonzero `graft_drop_*` metric after each action.
    *
    * This is the "log the drop" half of every df-cap in the dedup/similarity
    * suite: the metric rides the existing job as a CollectMetrics node —
    * zero extra Spark jobs, visible in driver logs when (and only when) a
    * cap actually bit. At sf0.01/sf0.1 the caps are sized to never bind, so
    * oracle output is unchanged; at web-corpus scale the log line is the
    * audit trail for what was skipped.
    *
    * KNOWN BLIND SPOT: if a cap drops EVERY key feeding a join side, AQE's
    * empty-relation propagation can prune the observed subtree from the
    * final plan and the metric never surfaces (CapBindingSpec documents
    * the partially-surviving shape it covers). A 100 %-suppressed run is
    * also visible as an empty/near-empty RESULT, so the signal is not
    * silent — but the drop count itself is best-effort under AQE. */
  def withDropMetric(s: SparkSession, df: DataFrame, name: String,
      dropped: Column): DataFrame = {
    if (dropLoggerSessions.add(s)) {
      s.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (metricName, row) =>
            if (metricName.startsWith("graft_drop_") &&
                row.toSeq.exists { case l: Long => l != 0L; case _ => false })
              System.err.println(s"[graft] $metricName dropped hot keys: $row")
          }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    }
    df.observe(name, coalesce(dropped, lit(0L)).as("n_dropped"))
  }

  /** Session-lifetime cache of persisted intermediate relations, keyed by
    * (session, dir, relation name, knob fingerprint) — the lshCache
    * contract generalized: a repeated call reuses the SAME persisted
    * relation instead of stacking a fresh InMemoryRelation per invocation
    * (the leak a long-lived notebook/Thrift session would otherwise
    * accumulate), and retuning a knob in-session evicts + unpersists the
    * superseded entry instead of leaking it. Entries for stopped sessions
    * are dropped on every access so the map can't pin dead sessions.
    *
    * The persist this hands out is LAZY: `build` must not run an action,
    * so schema/explain-only callers stay job-free. */
  private val relCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String, String), DataFrame]
  def cachedRelation(s: SparkSession, dir: String, name: String,
      knobs: String)(build: => DataFrame): DataFrame = {
    relCache.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    val key = (s, dir, name, knobs)
    relCache.getOrElseUpdate(key, {
      relCache.keys
        .filter(k => k._1 == s && k._2 == dir && k._3 == name && k != key)
        .foreach(k => relCache.remove(k).foreach(_.unpersist()))
      build.persist()
    })
  }

  /** Explicit unpersist ladder for a long-lived session: drop and
    * unpersist EVERY session-cached relation this session owns — the
    * [[cachedRelation]] registry plus each file's private registries
    * (quantized base + LSH state, CC labels/edges, basket/pair
    * relations, BPE training). The per-entry eviction above handles
    * knob retuning; this
    * handles the end of a work phase (a notebook finishing its dedup
    * pass, a server rotating corpora) where the right amount of cached
    * state is zero. Persisted levels are MEMORY_AND_DISK, so between
    * phases Spark would otherwise spill-age these blocks instead of
    * freeing them — the ladder makes reclamation deterministic.
    * Correctness is untouched: the next query rebuilds lazily
    * (CacheHygieneSpec pins both). */
  def releaseCaches(s: SparkSession): Unit = {
    relCache.filterInPlace { case (k, df) =>
      if (k._1 eq s) { df.unpersist(); false } else true
    }
    SimilarityOps.releaseBase(s)
    SimilarityOps.releaseServeGraphCaches(s) // ckpt'd built graphs too
    DedupOps.releaseCcCaches(s)
    GraphOps.releaseGraphCaches(s)
    TextOps.releaseBpeCache(s)
    UnigramOps.releaseWpCache(s)
  }

  /** Family-scoped release: unpersist + drop this session's
    * [[cachedRelation]] entries whose NAME starts with one of the given
    * prefixes, leaving every other family's warm state alone. The
    * all-or-nothing [[releaseCaches]] is the end-of-phase ladder; this is
    * the end-of-FAMILY one — the r15 finding: the HyperANF register
    * levels (|V|·m rows × up to [[graft.queries.GraphOps.hanfMaxRounds]]
    * MEMORY_AND_DISK levels) stayed resident for the whole session after
    * their last consumer ran, and the measured cost was displacement of
    * unrelated queries' warm state (pagerank_links 2.6 → 5.6 s in-suite),
    * not their own runtime. Returns how many entries were released so a
    * caller (Bench's family boundary, CacheAudit) can log the action. */
  def releaseFamily(s: SparkSession, namePrefixes: String*): Int = {
    var released = 0
    relCache.filterInPlace { case (k, df) =>
      if ((k._1 eq s) && namePrefixes.exists(k._3.startsWith)) {
        df.unpersist(); released += 1; false
      } else true
    }
    released
  }

  /** Read one testdata table.
    *
    * `events.ts` has shipped in two layouts across driver testdata
    * generations: TIMESTAMP(NANOS) — which Spark 4 rejects outright
    * ([PARQUET_TYPE_ILLEGAL]) unless read as a nanos long via the legacy
    * conf — and plain TIMESTAMP(MICROS) with isAdjustedToUTC=false, which
    * Spark decodes as TIMESTAMP_NTZ. Sniff the decoded type: a LongType
    * `ts` is the nanos layout and gets the same ns→µs truncation DuckDB
    * applies when it reads that file; an NTZ `ts` is cast to the session
    * (LTZ) timestamp type. Both paths land on TIMESTAMP_LTZ under the
    * pinned UTC session zone — the type every consumer (unix_micros,
    * streaming watermarks, the oracle's naive-timestamp compare) was
    * built against, with identical wall-clock values to DuckDB's read
    * of the same file. */
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    // every query path passes here, so the engine's functions, rewrite
    // rules and as-of strategy are live in every session that runs a
    // query, also one not built by graft.Session.local (after the first
    // call per session this is one set lookup)
    graft.functions.GraftFunctions.register(s)
    if (name == "events") {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = s.read.parquet(s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts", col("ts").cast("timestamp"))
        case org.apache.spark.sql.types.TimestampType => df // already LTZ
        case other =>
          // a THIRD layout (INT96, isAdjustedToUTC=true micros decoding
          // differently, a future writer change) must fail loudly here —
          // silently skipping normalization is exactly the
          // shifted-wall-clock failure this sniff exists to prevent
          throw new IllegalStateException(
            s"events.ts decoded as unexpected type $other; " +
              "extend Util.t's layout sniff for this testdata generation")
      }
    } else s.read.parquet(s"$dir/$name.parquet")
  }

  /** Exact integer cents from a 2-dp double: round half-up then widen.
    * round() is half-away-from-zero in both Spark and DuckDB for positives;
    * the result is an integral double exactly representable, so the BIGINT
    * cast is lossless in both engines. */
  def cents(c: Column): Column = round(c * 100, 0).cast("long")

  /** SQL twin of [[cents]]. */
  def centsSql(expr: String): String = s"CAST(round($expr * 100, 0) AS BIGINT)"

  /** Shared OLS expressions over exact-integer moment columns
    * (n_docs, sx, sy, sxx, sxy, syy) — identical text on both engines:
    * double math on exact integer sums, degenerate inputs (constant x
    * or y, n < 2) yield NULL via the determinant guards. Shared by the
    * perplexity length-bias audit ([[LmOps]]) and the Zipf-slope audit
    * ([[SketchOps]]). */
  private def olsDet: String =
    "(CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE)" +
      " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
  private def olsNum: String =
    "(CAST(n_docs AS DOUBLE) * CAST(sxy AS DOUBLE)" +
      " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
  private def olsDetY: String =
    "(CAST(n_docs AS DOUBLE) * CAST(syy AS DOUBLE)" +
      " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
  def olsSlope: String =
    s"CASE WHEN $olsDet > 0 THEN $olsNum / $olsDet ELSE NULL END"
  def olsIntercept: String =
    s"CASE WHEN $olsDet > 0 THEN" +
      s" (CAST(sy AS DOUBLE) - ($olsNum / $olsDet)" +
      s" * CAST(sx AS DOUBLE)) / CAST(n_docs AS DOUBLE) ELSE NULL END"
  def olsR2: String =
    s"CASE WHEN $olsDet > 0 AND $olsDetY > 0 THEN" +
      s" ($olsNum * $olsNum) / ($olsDet * $olsDetY) ELSE NULL END"
}
