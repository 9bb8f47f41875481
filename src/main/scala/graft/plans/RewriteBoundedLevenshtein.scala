package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, Levenshtein, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, StringType}
import graft.functions.NativeExpressions.BoundedLevenshtein

/** Catalyst optimizer rule: any comparison of an UNBOUNDED
  * `levenshtein(a, b)` against an integer literal k becomes the same
  * comparison of graft's banded `BoundedLevenshtein(a, b, k)`.
  *
  * Why: the built-in two-argument Levenshtein fills the full O(|a|·|b|)
  * DP matrix per row pair. Inside an entity-resolution join predicate
  * (the q97 shape — millions of candidate pairs at 100 TB) the caller
  * only ever asks "is the distance ≤ k" for small k, which the banded
  * Ukkonen kernel answers in O(k·min(|a|,|b|)) with an early exit on the
  * row minimum — the asymptotic difference between scanning a 2k+1 band
  * and the whole matrix on every pair.
  *
  * Correctness: BoundedLevenshtein(a, b, k) = min(lev(a, b), k + 1)
  * exactly. For ANY binary comparison against k — =, <=>, <, <=, >, >=,
  * either operand order — clamping at k + 1 cannot change the outcome:
  * values ≤ k are preserved exactly, and every value > k stays > k. Null
  * behavior matches (both are null-propagating binary expressions on
  * string children). The rewrite therefore fires on the whole comparison
  * family, only requiring a foldable non-negative IntegerType literal on
  * the other side and plain StringType children (collated strings keep
  * the built-in).
  *
  * Registered next to [[RewriteMaxBy]] via
  * `spark.experimental.extraOptimizations` on every session
  * `GraftSession.ensureRuntimeConfs` sees. */
object RewriteBoundedLevenshtein extends Rule[LogicalPlan] {

  private def plainLev(e: Expression): Option[(Expression, Expression)] = e match {
    case lev: Levenshtein if lev.threshold.isEmpty &&
        lev.left.dataType == StringType && lev.right.dataType == StringType =>
      Some((lev.left, lev.right))
    case _ => None
  }

  private def bound(e: Expression): Option[Int] = e match {
    case Literal(k: Int, IntegerType) if k >= 0 => Some(k)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case cmp: BinaryComparison =>
      (plainLev(cmp.left), bound(cmp.right), bound(cmp.left), plainLev(cmp.right)) match {
        case (Some((a, b)), Some(k), _, _) =>
          cmp.withNewChildren(Seq(BoundedLevenshtein(a, b, k), cmp.right))
        case (_, _, Some(k), Some((a, b))) =>
          cmp.withNewChildren(Seq(cmp.left, BoundedLevenshtein(a, b, k)))
        case _ => cmp
      }
  }
}
