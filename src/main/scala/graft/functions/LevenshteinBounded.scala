package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ExpressionInfo, TernaryExpression}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native banded (radius-bounded) Levenshtein — Ukkonen 1985's
  * diagonal-band cut of the edit-distance DP: when only distances ≤ k
  * matter (every near-dup radius filter), cells with |i−j| > k can
  * never contribute, so the table shrinks from O(m·n) to O((m+n)·k)
  * with an early exit the moment a whole band row exceeds k.
  *
  * `graft_levenshtein_bounded(a, b, k)` returns the exact distance
  * when it is ≤ k and −1 otherwise (the caller's filter is
  * `>= 0`) — for FuzzyTitle's radius-2 title dedup that is a ~L/k
  * factor less work per candidate pair than the built-in full-matrix
  * `levenshtein`, and the length-difference pre-check rejects most
  * non-candidates without touching the DP at all.
  *
  * Distance is over UTF-16 char units (= code points on the BMP;
  * identical to the built-in for the ASCII/BMP content it's used on).
  * Codegen stays inside WholeStageCodegen via one static call on the
  * already-extracted operands — no row boxing, no UDF dispatch.
  */
case class LevenshteinBounded(first: Expression, second: Expression,
                              third: Expression)
    extends TernaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType, StringType, IntegerType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_levenshtein_bounded"

  override def nullSafeEval(a: Any, b: Any, k: Any): Any =
    LevenshteinBounded.compute(a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString, k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, k) =>
      s"${ev.value} = graft.functions.LevenshteinBounded.compute(" +
        s"$a.toString(), $b.toString(), $k);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object LevenshteinBounded {

  /** Banded DP. Returns the exact distance when ≤ k, else −1. */
  def compute(s: String, t: String, bound: Int): Int = {
    if (bound < 0) return -1
    val m = s.length
    val n = t.length
    // the distance never exceeds max(m, n): a larger bound changes
    // nothing, and clamping keeps k + 1 and i + k from overflowing
    val k = math.min(bound, math.max(m, n))
    if (math.abs(m - n) > k) return -1
    if (m == 0) return n // n = |m-n| <= k here
    if (n == 0) return m
    val inf = k + 1
    var prev = new Array[Int](n + 1)
    var cur = new Array[Int](n + 1)
    java.util.Arrays.fill(prev, inf)
    var j = 0
    val j0 = math.min(n, k)
    while (j <= j0) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= m) {
      java.util.Arrays.fill(cur, inf)
      var rowMin = inf
      if (i <= k) { cur(0) = i; rowMin = i }
      val lo = math.max(1, i - k)
      val hi = math.min(n, i + k)
      val sc = s.charAt(i - 1)
      j = lo
      while (j <= hi) {
        var v = prev(j - 1) + (if (sc == t.charAt(j - 1)) 0 else 1)
        val del = prev(j) + 1
        if (del < v) v = del
        val ins = cur(j - 1) + 1
        if (ins < v) v = ins
        if (v > inf) v = inf
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin >= inf) return -1 // the whole band exceeded k
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    if (prev(n) <= k) prev(n) else -1
  }

  private[functions] val entry
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_levenshtein_bounded"),
    new ExpressionInfo(classOf[LevenshteinBounded].getName, null,
      "graft_levenshtein_bounded",
      "_FUNC_(a, b, k) - Levenshtein distance if <= k, else -1", ""),
    (children: Seq[Expression]) =>
      LevenshteinBounded(children(0), children(1), children(2)))
}
