package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, BinaryExpression, Expression, Size}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: `|distinct(left) ∩ right|` of two arrays,
  * WITHOUT materializing the intersection array — the fused form of
  * `size(array_intersect(l, r))`, the hot pattern of every row-local
  * verify in the dedup/similarity family (containment/jaccard prefix
  * verifies, connected-components edge verify, the LSH recall audit):
  * those paths only ever need the COUNT, yet `ArrayIntersect` builds and
  * copies a result `ArrayData` per row just for `Size` to read its length.
  * This is the preference-order (b) case of SURVEY §7.4 again, plus the
  * (c)-lite half: [[RewriteSizeOfIntersect]] is a `Rule[LogicalPlan]`
  * that rewrites the composed form to this expression, so call sites keep
  * the idiomatic `size(array_intersect(..))` and the plan gets the fused
  * operator — the Catalyst way to optimize a pattern, not a copy-pasted
  * helper at every call site.
  *
  * Exact `Size(ArrayIntersect(..), legacySizeOfNull = false)` semantics
  * for the supported element types (string, bigint — the only types the
  * engine's verify paths intersect): NULL input array → NULL; a NULL
  * ELEMENT counts once iff both sides contain one; duplicates in either
  * input count once (distinct-intersection cardinality); result is INT
  * like `size`. Restricted to string/bigint on purpose — double arrays
  * carry NaN/-0.0 equality subtleties that `ArrayIntersect` handles with
  * its own special set, and a rewrite must be provably identical, not
  * probably. */
case class IntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  private def supported(dt: DataType): Boolean = dt match {
    case ArrayType(StringType, _) => true
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (supported(left.dataType) && left.dataType.asInstanceOf[ArrayType].elementType ==
        right.dataType.asInstanceOf[ArrayType].elementType && supported(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<string> or two array<bigint> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "intersect_count"

  private lazy val isString =
    left.dataType.asInstanceOf[ArrayType].elementType == StringType

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCount =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (isString) IntersectCount.countString(x, y)
    else IntersectCount.countLong(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = if (isString) "countString" else "countLong"
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.IntersectCount.$m($a, $b);")
  }
}

object IntersectCount {

  /** Distinct-intersection cardinality for string arrays; one pass over
    * each input, no intermediate array. Shared by interpreted eval and
    * generated code (the static-helper codegen pattern: whole-stage spans
    * stay intact, the loop body stays in ONE place). */
  def countString(x: ArrayData, y: ArrayData): Int = {
    val ny = y.numElements()
    val rightSet = new java.util.HashSet[UTF8String](math.max(4, ny * 2))
    var rightHasNull = false
    var j = 0
    while (j < ny) {
      if (y.isNullAt(j)) rightHasNull = true
      else rightSet.add(y.getUTF8String(j))
      j += 1
    }
    val nx = x.numElements()
    val seen = new java.util.HashSet[UTF8String]()
    var seenNull = false
    var cnt = 0
    var i = 0
    while (i < nx) {
      if (x.isNullAt(i)) {
        if (rightHasNull && !seenNull) { cnt += 1; seenNull = true }
      } else {
        val v = x.getUTF8String(i)
        if (rightSet.contains(v) && seen.add(v)) cnt += 1
      }
      i += 1
    }
    cnt
  }

  /** Same for bigint arrays. */
  def countLong(x: ArrayData, y: ArrayData): Int = {
    val ny = y.numElements()
    val rightSet = new java.util.HashSet[java.lang.Long](math.max(4, ny * 2))
    var rightHasNull = false
    var j = 0
    while (j < ny) {
      if (y.isNullAt(j)) rightHasNull = true
      else rightSet.add(y.getLong(j))
      j += 1
    }
    val nx = x.numElements()
    val seen = new java.util.HashSet[java.lang.Long]()
    var seenNull = false
    var cnt = 0
    var i = 0
    while (i < nx) {
      if (x.isNullAt(i)) {
        if (rightHasNull && !seenNull) { cnt += 1; seenNull = true }
      } else {
        val v: java.lang.Long = x.getLong(i)
        if (rightSet.contains(v) && seen.add(v)) cnt += 1
      }
      i += 1
    }
    cnt
  }
}

/** Optimizer rule: `Size(ArrayIntersect(l, r), legacySizeOfNull=false)` →
  * [[IntersectCount]] when the element type is string or bigint.
  *
  * Scope guards, each load-bearing for exactness:
  *  - `legacySizeOfNull = false` only — legacy size(NULL) is −1, the fused
  *    expression (like modern size) is NULL;
  *  - string/bigint elements only — see the expression scaladoc;
  *  - identical element types on both sides (ArrayIntersect's implicit
  *    cast has already run by optimization time, so mismatches mean an
  *    analysis-level oddity this rule should not touch).
  *
  * Injected per-session via `spark.experimental.extraOptimizations`
  * ([[GraftFunctions.register]]). */
object RewriteSizeOfIntersect extends Rule[LogicalPlan] {
  private def ok(e: Expression): Boolean = e.dataType match {
    case ArrayType(StringType, _) => true
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Size(ArrayIntersect(l, r), false)
          if ok(l) && ok(r) &&
            l.dataType.asInstanceOf[ArrayType].elementType ==
              r.dataType.asInstanceOf[ArrayType].elementType =>
        IntersectCount(l, r)
    }
}
