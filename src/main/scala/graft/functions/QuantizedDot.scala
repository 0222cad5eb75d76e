package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.SparkSession

/** Native Catalyst expression: exact int64 dot product of two
  * `array<bigint>` columns (quantized embedding vectors).
  *
  * This replaces the `aggregate(zip_with(a, b, _*_), 0L, _+_)` composition in
  * the similarity operators: higher-order functions evaluate their lambda
  * per element through the interpreter (closure dispatch + per-element
  * boxing + an intermediate zipped array), while this expression is one
  * tight primitive loop in both interpreted and generated code — the
  * preference-order (b) case of SURVEY §7.4: a scalar op Spark can't express
  * efficiently with built-ins, small enough to not need a custom operator.
  *
  * NULL elements contribute 0 (quantized vectors never contain them; the
  * guard keeps the expression total). Mismatched lengths dot the common
  * prefix.
  */
case class QuantizedDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "quantized_dot"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantizedDot =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += $a.getLong($i) * $b.getLong($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
}

/** Engine function registry: Column builders + SQL registration. */
object GraftFunctions {

  /** Exact int64 dot product of two array<bigint> columns (codegen'd).
    * Resolves through the session FunctionRegistry: [[register]] has run on
    * every session from [[graft.Session.local]] and on every session that
    * reads a table through [[graft.queries.Util.t]]. */
  def quantized_dot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("quantized_dot", a, b)

  private val registry: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "quantized_dot" -> (exprs => QuantizedDot(exprs.head, exprs(1))),
    "intersect_count" -> (exprs => IntersectCount(exprs.head, exprs(1))),
    "canon_norm" -> (exprs => CanonNorm(exprs.head)))

  /** Sessions whose registration is complete (weak so a stopped session
    * can be collected). */
  private val registered = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Logs each nonzero `graft_drop_*` observation of a finished action. */
  private object DropLogger
      extends org.apache.spark.sql.util.QueryExecutionListener {
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
  }

  /** Install the engine into an already-built session, once: the
    * functions above become callable from SQL, [[RewriteSizeOfIntersect]]
    * and [[RewriteCanonNorm]] join the optimizer and
    * [[graft.plans.AsOfJoinStrategy]] the planner (the public `experimental`
    * hooks need no SparkSessionExtensions rebuild), and [[DropLogger]]
    * logs every nonzero `graft_drop_*` observation
    * ([[graft.queries.Util.withDropMetric]]) after each action. The lock
    * covers threads sharing one session, and a session is marked only once
    * all of it is installed, so no caller sees it half-registered. */
  def register(spark: SparkSession): Unit = registered.synchronized {
    if (!registered.contains(spark)) {
      registry.foreach { case (name, builder) =>
        spark.sessionState.functionRegistry
          .createOrReplaceTempFunction(name, builder, "built-in")
      }
      val exp = spark.experimental
      exp.extraOptimizations = exp.extraOptimizations ++
        Seq(RewriteSizeOfIntersect, RewriteCanonNorm)
          .filterNot(exp.extraOptimizations.contains)
      if (!exp.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
        exp.extraStrategies = exp.extraStrategies :+ graft.plans.AsOfJoinStrategy
      spark.listenerManager.register(DropLogger)
      registered.add(spark)
    }
  }
}
