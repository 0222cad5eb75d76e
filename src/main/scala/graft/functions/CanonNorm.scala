package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Lower, RegExpReplace, StringTrim, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native canonical-text normalization — the fused, regex-free form of the
  * engine's normalize-then-hash canonical rule
  * (`TextOps.canonHash` / reference `python/03_upsert_dw_pedidos.py`'s
  * exact-dup notion lifted to documents):
  *
  *   trim(regexp_replace(regexp_replace(lower(x), "[^a-z0-9 ]", ""), " +", " "))
  *
  * Motivation is measured, not aesthetic: at the scale100 corpus (500k
  * docs, ~320 chars each) the composed form costs ~23 s of scan time and
  * the `[^a-z0-9 ]` RegExpReplace alone accounts for ~22 s of it — ~40×
  * the cost of the identical `Pattern.replaceAll` loop in plain Java on
  * the same data, and ~30× DuckDB's whole canon+md5+distinct on the same
  * corpus (0.7 s). This expression does lower + strip + collapse + trim in
  * ONE pass over the UTF8String bytes (ASCII fast path; rare non-ASCII
  * rows fall back to `UTF8String.toLowerCase` — the exact routine Spark's
  * `Lower` uses — followed by the same one-pass filter), so the
  * normalize-then-hash family (dedup_canonical, dup_cluster_stats,
  * corpus_clean, corpus_prune_verdicts, the streaming canon index) scans
  * at I/O speed.
  *
  * Exactness contract (vs the composed form, for EVERY input):
  *  - ASCII path: byte-identical by construction (A–Z+32; keep a–z0–9
  *    space; strip the rest; collapse runs of spaces; drop leading and
  *    trailing spaces — exactly strip→collapse→trim composed).
  *  - Non-ASCII path: the SAME `UTF8String.toLowerCase` Spark's `Lower`
  *    applies, then a char-wise filter. The regex strips every char not in
  *    `[a-z0-9 ]` — surrogate pairs are stripped whole by the regex and
  *    half-by-half here, same net result since kept chars are all ASCII.
  *    Full-case-mapping expansions (İ → i + combining dot) keep their
  *    ASCII base and lose the combining mark on both paths.
  *  - NULL → NULL (nullIntolerant, like every member of the composition).
  * CanonNormSpec pins the equivalence property-wise (random unicode/dirty
  * strings against an independent JVM-regex recount) and corpus-wide.
  *
  * [[RewriteCanonNorm]] rewrites the composed pattern to this expression
  * at optimization time, so call sites keep the idiomatic composition and
  * the DuckDB oracle keeps the portable regex SQL — the intersect_count
  * contract.
  */
case class CanonNorm(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "canon_norm"

  override protected def withNewChildInternal(newChild: Expression): CanonNorm =
    copy(child = newChild)

  override def nullSafeEval(s: Any): Any =
    CanonNorm.normalize(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CanonNorm.normalize($c)")
}

object CanonNorm {

  /** One-pass lower + strip-to-[a-z0-9 ] + collapse-spaces + trim.
    * Static helper shared by interpreted eval and generated code. */
  def normalize(u: UTF8String): UTF8String = {
    val n = u.numBytes()
    var i = 0
    var ascii = true
    while (i < n && ascii) {
      if (u.getByte(i) < 0) ascii = false
      i += 1
    }
    if (ascii) {
      val out = new Array[Byte](n)
      var o = 0
      var pending = false
      i = 0
      while (i < n) {
        var b = u.getByte(i)
        if (b >= 'A' && b <= 'Z') b = (b + 32).toByte
        if (b == ' ') {
          // leading spaces never emit (trim); runs emit once, lazily
          if (o > 0) pending = true
        } else if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
          if (pending) { out(o) = ' '; o += 1; pending = false }
          out(o) = b
          o += 1
        }
        // every other byte is stripped and does NOT turn into a space:
        // the regex removes it BEFORE the collapse sees the string
        i += 1
      }
      UTF8String.fromBytes(out, 0, o)
    } else {
      // rare path: exactly Lower's routine, then the same state machine
      // char-wise (kept chars are all single ASCII chars, so surrogate
      // halves and combining marks strip just like the regex strips their
      // code points)
      val t = u.toLowerCase.toString
      val sb = new java.lang.StringBuilder(t.length)
      var pending = false
      var k = 0
      while (k < t.length) {
        val c = t.charAt(k)
        if (c == ' ') {
          if (sb.length > 0) pending = true
        } else if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
          if (pending) { sb.append(' '); pending = false }
          sb.append(c)
        }
        k += 1
      }
      UTF8String.fromString(sb.toString)
    }
  }
}

/** Optimizer rule: the exact canonical-normalization composition
  *
  *   StringTrim(RegExpReplace(RegExpReplace(Lower(x),
  *     "[^a-z0-9 ]", "", 1), " +", " ", 1), None)
  *
  * → [[CanonNorm]](x). Guards, each load-bearing: both patterns, both
  * replacements and both start positions must be the exact literals of
  * the canon rule (any other regex keeps the general RegExpReplace), and
  * the trim must be the no-trimStr form (trim-of-spaces). Injected
  * alongside [[RewriteSizeOfIntersect]] via [[GraftFunctions.register]]. */
object RewriteCanonNorm extends Rule[LogicalPlan] {
  private val classPat = UTF8String.fromString("[^a-z0-9 ]")
  private val emptyRep = UTF8String.fromString("")
  private val spacePat = UTF8String.fromString(" +")
  private val spaceRep = UTF8String.fromString(" ")

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case StringTrim(
            RegExpReplace(
              RegExpReplace(Lower(x), Literal(p1, _), Literal(r1, _), Literal(pos1, _)),
              Literal(p2, _), Literal(r2, _), Literal(pos2, _)),
            None)
          if p1 == classPat && r1 == emptyRep && pos1 == 1 &&
            p2 == spacePat && r2 == spaceRep && pos2 == 1 =>
        CanonNorm(x)
    }
}
