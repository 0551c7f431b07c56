package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Abs, And, Expression, ExpressionInfo, GreaterThan, GreaterThanOrEqual, If, IsNull, Length, LessThan, LessThanOrEqual, Levenshtein, Literal, Or, Subtract}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BooleanType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** Domain-specific optimizer rule: `ends_with_source(snippet, '', name)`
  * is constant-false — the reference short-circuits on an empty url
  * before ever inspecting the snippet (fetchRumors.js:163
  * `if (!item.url) return false`). Folding it lets Catalyst eliminate
  * the whole regex evaluation (and any filter built on it) at plan
  * time. Only the empty-STRING literal folds; a null url stays an
  * expression (null-propagation semantics preserved).
  */
object SimplifyEndsWithSource extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case EndsWithSource(s, Literal(u: UTF8String, StringType), n)
        if u != null && u.numChars() == 0 =>
      // the regex never runs, but null-propagation must survive the
      // fold: a null snippet/name yields NULL from the unfolded
      // expression, so the constant-false only applies to non-null rows
      if (!s.nullable && !n.nullable) Literal(false, BooleanType)
      else If(Or(IsNull(s), IsNull(n)),
        Literal(null, BooleanType), Literal(false, BooleanType))
  }
}

/** Optimizer rule for similarity-join verify predicates:
  * `levenshtein(a, b) <= k` (the shape every blocked fuzzy join emits,
  * e.g. q98) computes the FULL O(|a|·|b|) edit-distance matrix per
  * candidate pair and then compares. Rewritten to the conjunction
  *
  *   abs(length(a) - length(b)) <= k AND levenshtein(a, b, k) >= 0
  *
  * which is equivalent (edit distance is bounded below by the length
  * difference, and Spark's 3-arg banded Levenshtein returns -1 exactly
  * when the distance exceeds the threshold) but costs O(1) for pairs
  * the length guard rejects and O(k·min(|a|,|b|)) — a k-wide band of
  * the matrix — for the rest. `lev < k` folds the same way with k−1.
  * Null propagation is preserved: any null operand makes both the
  * original and the rewrite null.
  *
  * Only non-negative integer-literal thresholds rewrite (a column-
  * valued threshold can't prove k ≥ 0 at plan time; banded Levenshtein
  * requires it).
  */
object BandedLevenshtein extends Rule[LogicalPlan] {
  private def banded(a: Expression, b: Expression, k: Int): Expression =
    And(
      LessThanOrEqual(Abs(Subtract(Length(a), Length(b))),
        Literal(k, IntegerType)),
      GreaterThanOrEqual(
        Levenshtein(a, b, Some(Literal(k, IntegerType))),
        Literal(0, IntegerType)))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case LessThanOrEqual(Levenshtein(a, b, None), Literal(k: Int, IntegerType))
        if k >= 0 => banded(a, b, k)
    case GreaterThanOrEqual(Literal(k: Int, IntegerType), Levenshtein(a, b, None))
        if k >= 0 => banded(a, b, k)
    case LessThan(Levenshtein(a, b, None), Literal(k: Int, IntegerType))
        if k >= 1 => banded(a, b, k - 1)
    case GreaterThan(Literal(k: Int, IntegerType), Levenshtein(a, b, None))
        if k >= 1 => banded(a, b, k - 1)
  }
}

/** SparkSessionExtensions entry point: makes the engine installable into
  * any Spark deployment via
  * `--conf spark.sql.extensions=graft.GraftExtensions` — all custom
  * functions become session builtins and the engine's optimizer rules
  * and planner strategy are injected, no code changes required (the
  * standard extension-library mechanism, e.g. how Delta/Iceberg
  * register). It reads the same tables as [[Engine.install]]:
  * [[Scalars.sqlFunctions]], [[Engine.optimizerRules]] and
  * [[Engine.strategies]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    Scalars.sqlFunctions.foreach { case (name, clazz, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz.getCanonicalName, name), build))
    }
    Engine.optimizerRules.foreach(rule => e.injectOptimizerRule(_ => rule))
    Engine.strategies.foreach(strategy => e.injectPlannerStrategy(_ => strategy))
  }
}
