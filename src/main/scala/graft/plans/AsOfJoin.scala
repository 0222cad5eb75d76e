package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Whole-operator Catalyst extension — preference class (c) of the engine's
  * extension ladder (compose > custom Expression > custom
  * LogicalPlan/Strategy/SparkPlan > mapPartitions): a native AS-OF join.
  *
  * Spark has no as-of join operator. The engine's composed formulation
  * (`asof_join`, Relational3: tagged union + ignoreNulls last() window) is
  * the declarative answer and stays the default; THIS operator is the
  * physical-plan answer — the two produce identical rows (they share one
  * DuckDB ASOF oracle) and differ only in plan shape:
  *
  *   composed:  union both sides → one Exchange(user) → full Sort →
  *              Window(last) over probe+quote rows → filter probes back out
  *   native:    Exchange(key) + in-partition Sort on EACH side (planned by
  *              EnsureRequirements from requiredChildDistribution/Ordering,
  *              so AQE sizes them like any join shuffle) → one streaming
  *              zipPartitions merge pass, O(1) state: the single most
  *              recent quote row — never a window buffer
  *
  * Measured (scale100 events, 2M × 2M, local[32], warm): composed ≈ 0.7 s,
  * native ≈ 1.4 s — when both sides are similar-sized the single-exchange
  * union plan WINS locally, because the native shape pays one extra
  * exchange and a codegen boundary around the merge. The native operator's
  * case is structural, not a local speedup: each side shuffles and sorts
  * INDEPENDENTLY (AQE sizes a small quote side separately instead of
  * sorting it interleaved with the probe stream — the regime where
  * MERGE_ASOF-style joins pay off), probe rows never widen through a
  * union, and state is exactly one buffered quote row. It also completes
  * the extension ladder: the engine demonstrably can own whole-operator
  * semantics when composition can't express them.
  *
  * Semantics (matches DuckDB `ASOF LEFT JOIN ... ON l.k = r.k AND l.t >=
  * r.t`): per probe row, the quote with the greatest time ≤ probe time for
  * the same key; unmatched probes emit NULL quote columns. Callers supply
  * NULL-free keys/times and at most one quote per (key, time) — the same
  * preconditions the composed query establishes (dedup + NULL filters);
  * [[GraftAsOf.asof]] checks the schema-level ones always and the
  * data-level ones under `validate = true` (misuse fails loudly instead of
  * silently merging NULLs as real values). */
case class AsOfJoinNode(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    left: LogicalPlan, right: LogicalPlan) extends BinaryNode {
  require(leftKeys.length == rightKeys.length && leftKeys.nonEmpty)
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(lk, rk, lt, rt, l, r) =>
      AsOfJoinExec(lk, rk, lt, rt, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Physical as-of merge join. Declares the same child requirements as a
  * sort-merge join (clustered on the key, sorted by (key, time) within
  * partitions) so EnsureRequirements co-partitions both sides and AQE
  * treats the exchanges like any join shuffle; execution is one forward
  * merge pass per partition holding exactly one buffered quote row. */
case class AsOfJoinExec(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // ONE combined (key..., time) projection per side and ONE codegen'd
      // lexicographic comparator: (rk, rt) ≤ (lk, lt) in that order IS
      // "rk < lk OR (rk = lk AND rt ≤ lt)" — the advance condition — so
      // each merge step costs a single compare, and the match check reuses
      // a key-prefix comparator over the same projected rows (BaseOrdering
      // over the first |keys| fields reads only those fields).
      val lKT = UnsafeProjection.create(lKeyExprs :+ lTimeExpr, lOut)
      val rKT = UnsafeProjection.create(rKeyExprs :+ rTimeExpr, rOut)
      val ktOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes :+ timeType)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      // input schema marks the right side NULLABLE: bindReference takes
      // nullability from the INPUT attribute, and a non-nullable bound ref
      // would skip the null check and read garbage off the all-null row
      val resultProj = UnsafeProjection.create(outAttrs,
        lOut ++ rOut.map(_.withNullability(true)))
      val nullRight = new GenericInternalRow(rOut.size)
      val joined = new JoinedRow
      // head of the right side, its (key, time) projected ONCE per row
      // (copied: the projection buffer is reused; the row itself is valid
      // until the iterator's next next())
      var rHead: InternalRow = if (rIter.hasNext) rIter.next() else null
      var rHeadKT: UnsafeRow = if (rHead != null) rKT(rHead).copy() else null
      // O(1) merge state: the single most recent quote ≤ the probe frontier
      var lastQuote: InternalRow = null
      var lastQuoteKT: UnsafeRow = null
      lIter.map { l =>
        val lkt = lKT(l)
        while (rHead != null && ktOrd.compare(rHeadKT, lkt) <= 0) {
          lastQuote = rHead.copy()
          lastQuoteKT = rHeadKT
          rHead = if (rIter.hasNext) rIter.next() else null
          rHeadKT = if (rHead != null) rKT(rHead).copy() else null
        }
        val matched = lastQuote != null && keyOrd.compare(lastQuoteKT, lkt) == 0
        resultProj(joined(l, if (matched) lastQuote else nullRight))
      }
    }
  }
}

/** Engine API for the native as-of join; [[graft.functions.GraftFunctions.register]]
  * installs its planner strategy. */
object GraftAsOf {

  /** AS-OF join `probe` to `quotes`: for each probe row, the quote row with
    * the greatest `quoteTime` ≤ `probeTime` on equal keys; NULL quote
    * columns when none exists. Column-name based, resolved against each
    * side's analyzed output.
    *
    * Self-join safety: when the two sides share lineage (e.g.
    * `asof(df, df.filter(...))`) their analyzed plans share expression IDs,
    * and a result projection built over overlapping IDs would silently bind
    * right-side columns to left-side values — the classic un-deduplicated
    * self-join hazard `Dataset.join` guards against. Overlapping exprIds are
    * detected here and the quote side is re-aliased (fresh IDs via a
    * same-name projection) before the node is built, so `asof(df, df)` is
    * correct, not latent corruption.
    *
    * Preconditions (documented at the operator, ENFORCED here): NULL keys
    * or times on either side would merge nondeterministically (NULL sorts
    * first and the merge comparator treats it as a real value — the
    * operator itself never looks at null bits), and >1 quote per
    * (key, time) makes "the most recent quote" ill-defined. `validate=true`
    * runs one counting job per side and fails loudly on violation; the
    * default skips the extra jobs for pre-cleaned inputs (the composed
    * `asof_join` query's dedup+filter establishes them by construction). */
  def asof(probe: DataFrame, quotes: DataFrame,
      probeKeys: Seq[String], quoteKeys: Seq[String],
      probeTime: String, quoteTime: String,
      validate: Boolean = false): DataFrame = {
    val s = probe.sparkSession
    require(probeKeys.length == quoteKeys.length && probeKeys.nonEmpty,
      s"asof: probe/quote key lists must be non-empty and same-length " +
        s"(got ${probeKeys.length} vs ${quoteKeys.length})")
    val lPlan = probe.queryExecution.analyzed
    // DeduplicateRelations-style rewrite: a shared-lineage quote side gets a
    // fresh-exprId projection (Alias always mints new IDs), so the two
    // outputs are disjoint and the merge's bound references can't cross
    val rPlanRaw = quotes.queryExecution.analyzed
    val rPlan =
      if (rPlanRaw.outputSet.intersect(lPlan.outputSet).isEmpty) rPlanRaw
      else quotes.toDF(quotes.columns.toIndexedSeq: _*).queryExecution.analyzed
    assert(rPlan.outputSet.intersect(lPlan.outputSet).isEmpty,
      "asof: probe and quote outputs still share expression IDs after re-aliasing")
    def attr(plan: LogicalPlan, n: String): Attribute =
      plan.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"asof: no column '$n' in [${plan.output.map(_.name).mkString(", ")}]"))
    val lk = probeKeys.map(attr(lPlan, _))
    val rk = quoteKeys.map(attr(rPlan, _))
    val lt = attr(lPlan, probeTime)
    val rt = attr(rPlan, quoteTime)
    lk.zip(rk).foreach { case (a, b) =>
      require(a.dataType == b.dataType,
        s"asof: key type mismatch ${a.name}: ${a.dataType} vs ${b.name}: ${b.dataType}") }
    require(lt.dataType == rt.dataType,
      s"asof: time type mismatch $probeTime: ${lt.dataType} vs $quoteTime: ${rt.dataType}")
    if (validate) {
      import org.apache.spark.sql.functions.{col, count, lit}
      val badProbe = probe.filter(
        (probeKeys :+ probeTime).map(col(_).isNull).reduce(_ || _)).count()
      require(badProbe == 0,
        s"asof: $badProbe probe row(s) with NULL key/time — filter them first")
      val badQuote = quotes.filter(
        (quoteKeys :+ quoteTime).map(col(_).isNull).reduce(_ || _)).count()
      require(badQuote == 0,
        s"asof: $badQuote quote row(s) with NULL key/time — filter them first")
      val dupQuote = quotes
        .groupBy((quoteKeys :+ quoteTime).map(col): _*)
        .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
      require(dupQuote == 0,
        s"asof: $dupQuote (key, time) group(s) with >1 quote row — " +
          "dedup quotes first (latest-per-key window, the composed query's rule)")
    }
    GraftPlanShim.ofRows(s, AsOfJoinNode(lk, rk, lt, rt, lPlan, rPlan))
  }
}
