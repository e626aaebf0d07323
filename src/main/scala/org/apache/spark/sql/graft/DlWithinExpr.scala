package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{
  BinaryComparison, EqualTo, Expression, GreaterThan,
  GreaterThanOrEqual, ImplicitCastInputTypes, LessThan, LessThanOrEqual,
  Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{AbstractDataType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.text.DamerauLevenshtein

/**
 * Threshold-bounded Damerau-Levenshtein (OSA) distance:
 * `dl_distance_within(a, b, k) = min(dl_distance_full(a, b), k + 1)` in
 * O(min(|a|,|b|) * k) time instead of the full DP's O(|a| * |b|).
 *
 * This is the kernel the [[BandedDistanceRewrite]] optimizer rule targets:
 * a filter like `dl_distance_full(tok, cand) <= 2` over a vocabulary join
 * pays the quadratic DP per candidate pair; the bounded kernel decides the
 * same predicate in a k-band with early exit. At 100 TB the candidate join
 * is the hot loop of dictionary correction, so the rewrite changes the
 * per-row constant from len² to len*k without touching query text.
 *
 * The threshold argument must be foldable (a literal after constant
 * folding) — the band width is baked into the generated code.
 */
case class DlWithinExpr(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType, IntegerType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "dl_distance_within"

  override def nullSafeEval(a: Any, b: Any, k: Any): Any =
    DlWithinExpr.compute(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, k) =>
      s"org.apache.spark.sql.graft.DlWithinExpr.compute($a, $b, $k)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object DlWithinExpr {
  /** Static kernel entry shared by interpreted eval and generated code. */
  def compute(a: UTF8String, b: UTF8String, k: Int): Int =
    DamerauLevenshtein.distanceWithin(a.toString, b.toString, k)

  /** Registers every graft SQL function ([[NativeFunctions.register]]).
    * The rewrite only fires for sessions that opted in (extensions config or
    * [[BandedDistanceRewrite.install]]). */
  def register(spark: SparkSession): Unit = NativeFunctions.register(spark)
}

/**
 * Optimizer rule: any binary comparison between a full-DP
 * [[DamerauLevenshteinExpr]] and a non-negative integer literal `k` is
 * decision-equivalent on the bounded kernel, because
 * `min(d, k+1)` preserves the `<`, `=`, `>` relation of `d` to every
 * threshold `t <= k` (values <= k are unchanged; values > k map to
 * k+1, still > k). So
 *
 *   `dl_distance_full(a, b) <= k`  ==>  `dl_distance_within(a, b, k) <= k`
 *
 * and likewise for `<`, `=`, `>=`, `>` and the literal-on-the-left
 * mirror images.
 *
 * Variants handled:
 *  - variant 1 (full OSA): always rewritten — `distanceWithin` computes
 *    the exact OSA distance whenever it is <= k (k-band soundness, see
 *    `DamerauLevenshtein.distanceWithin`).
 *  - variant 0 (reference banded-10 approximation): rewritten only when
 *    k <= 10. The banded-10 value is exact for distances <= |m-n| + 10
 *    and never underestimates; with k <= 10 <= |m-n| + 10 both sides
 *    classify every row identically.
 *  - variant 2 (unrestricted DL): never rewritten — the Lowrance-Wagner
 *    transposition term jumps arbitrarily many rows, so the k-band
 *    argument does not apply.
 */
object BandedDistanceRewrite extends Rule[LogicalPlan] {

  private def bounded(dl: DamerauLevenshteinExpr, k: Int): Expression =
    DlWithinExpr(dl.left, dl.right, Literal(k))

  private def rewritable(dl: DamerauLevenshteinExpr, k: Int): Boolean =
    k >= 0 && (dl.variant == 1 || (dl.variant == 0 && k <= 10))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case cmp: BinaryComparison => cmp match {
      case c @ LessThanOrEqual(dl: DamerauLevenshteinExpr, Literal(k: Int, IntegerType))
        if rewritable(dl, k) => c.copy(left = bounded(dl, k))
      case c @ LessThan(dl: DamerauLevenshteinExpr, Literal(k: Int, IntegerType))
        if rewritable(dl, k) => c.copy(left = bounded(dl, k))
      case c @ GreaterThanOrEqual(dl: DamerauLevenshteinExpr, Literal(k: Int, IntegerType))
        if rewritable(dl, k) => c.copy(left = bounded(dl, k))
      case c @ GreaterThan(dl: DamerauLevenshteinExpr, Literal(k: Int, IntegerType))
        if rewritable(dl, k) => c.copy(left = bounded(dl, k))
      case c @ EqualTo(dl: DamerauLevenshteinExpr, Literal(k: Int, IntegerType))
        if rewritable(dl, k) => c.copy(left = bounded(dl, k))
      case c @ LessThanOrEqual(Literal(k: Int, IntegerType), dl: DamerauLevenshteinExpr)
        if rewritable(dl, k) => c.copy(right = bounded(dl, k))
      case c @ LessThan(Literal(k: Int, IntegerType), dl: DamerauLevenshteinExpr)
        if rewritable(dl, k) => c.copy(right = bounded(dl, k))
      case c @ GreaterThanOrEqual(Literal(k: Int, IntegerType), dl: DamerauLevenshteinExpr)
        if rewritable(dl, k) => c.copy(right = bounded(dl, k))
      case c @ GreaterThan(Literal(k: Int, IntegerType), dl: DamerauLevenshteinExpr)
        if rewritable(dl, k) => c.copy(right = bounded(dl, k))
      case c @ EqualTo(Literal(k: Int, IntegerType), dl: DamerauLevenshteinExpr)
        if rewritable(dl, k) => c.copy(right = bounded(dl, k))
      case other => other
    }
  }

  /** Idempotent post-hoc installation for sessions built without the
    * `spark.sql.extensions` config (`experimental.extraOptimizations` runs
    * as the optimizer's final user-provided batch — late enough that the
    * comparisons' literals are already constant-folded). */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_ eq BandedDistanceRewrite)) {
      spark.experimental.extraOptimizations = cur :+ BandedDistanceRewrite
    }
  }
}
