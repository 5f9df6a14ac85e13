package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: rewrite the latest-per-key window dedup
  *
  *   Filter(rn = 1, Window(rn ← row_number() OVER (PARTITION BY k ORDER BY o DESC)))
  *
  * into a partial-aggregating form
  *
  *   Aggregate(k, k ++ [max_by(c, struct(o)) AS c  for every other column c])
  *
  * Why: since Spark 3.5, `InferWindowGroupLimit` already limits the window
  * form map-side — `rn = 1` plans a Partial WindowGroupLimit below the
  * shuffle, so both forms shuffle one row per key per partition. What this
  * rule still buys is the operator: the window form sorts each partition
  * before the shuffle (to limit it) and again after it, where the
  * aggregate keeps one buffer per key in a hash aggregate and sorts
  * nothing. The same rewrite was applied by hand to the flagship (VERDICT
  * r1 item 5); this rule applies it to any query with the pattern.
  *
  * Fires only when (conservatively):
  *   - the window has exactly one expression, a `row_number()`;
  *   - the filter is exactly `rn = 1` (or `1 = rn`) and nothing else
  *     references rn above (checked via the parent Project's references);
  *   - every ORDER BY key canonicalizes to "largest wins": DESCENDING keys
  *     pass through (non-nullable or NullsLast — max_by ignores null
  *     ordering keys, row_number would rank them); ASCENDING keys must be
  *     non-nullable INTEGRAL and are bitwise-complemented — `~x` is a
  *     strictly decreasing bijection on the full integral range, so
  *     mixed-direction specs like (score DESC, id ASC) rewrite too.
  *     (`-x` would be wrong at MinValue, where negation overflows to
  *     itself; floating ASC keys are declined because NaN sorts largest in
  *     BOTH directions, so no monotone inversion exists.)
  *
  * Ties: with a non-total per-partition order, row_number and max_by both
  * return an arbitrary row among the tied maxima — the engine's determinism
  * rule (total order incl. a unique tie-break, SURVEY §7.4) makes them
  * agree exactly.
  *
  * Register via `GraftPlanRules.install(spark)` (experimental extra
  * optimizations) or SparkSessionExtensions.injectOptimizerRule.
  */
object WindowDedupToMaxBy extends Rule[LogicalPlan] {

  private def isRnEqOne(cond: Expression, rn: Attribute): Boolean = cond match {
    case EqualTo(a: Attribute, Literal(1, _)) => a.semanticEquals(rn)
    case EqualTo(Literal(1, _), a: Attribute) => a.semanticEquals(rn)
    case _ => false
  }

  /** One ORDER BY key as a "largest wins" max_by ordering component, or
    * None when no safe monotone form exists (see scaladoc).
    */
  private def maxOrderingKey(so: SortOrder): Option[Expression] = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    so.direction match {
      case Descending if so.nullOrdering == NullsLast || !so.child.nullable =>
        Some(so.child)
      // same null stance as the Descending arm: NullsLast keys never rank
      // first (and BitwiseNot(null) = null, which max_by ignores), NullsFirst
      // on a nullable key would let a null row win the window — no rewrite
      case Ascending if so.nullOrdering == NullsLast || !so.child.nullable =>
        so.child.dataType match {
          case ByteType | ShortType | IntegerType | LongType =>
            Some(BitwiseNot(so.child))
          case _ => None
        }
      case _ => None
    }
  }

  /** Extractor form so the pattern match binds the canonicalized keys ONCE —
    * a guard-plus-body pair of calls would recompute and could desync.
    */
  private object CanonicalOrdering {
    def unapply(orderSpec: Seq[SortOrder]): Option[Seq[Expression]] = {
      val keys = orderSpec.map(maxOrderingKey)
      if (orderSpec.nonEmpty && keys.forall(_.isDefined)) Some(keys.map(_.get)) else None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(projectList,
        Filter(cond,
          Window(Seq(alias @ Alias(WindowExpression(_: RowNumber,
            WindowSpecDefinition(partSpec, CanonicalOrdering(orderingKeys), _)), _)), _, _, child, _)))
        if isRnEqOne(cond, alias.toAttribute) &&
          // nothing above may read the rank itself
          !projectList.exists(_.references.contains(alias.toAttribute)) &&
          // grouping keys must be plain attributes of the child
          partSpec.forall(_.isInstanceOf[Attribute]) =>
      val groupAttrs = partSpec.map(_.asInstanceOf[Attribute])
      val ordering = CreateStruct(orderingKeys)
      // InferWindowGroupLimit may already have slid a WindowGroupLimit
      // under the Window; the aggregate's map-side combine subsumes that
      // pre-filter, and keeping it would re-introduce the per-group sort.
      val cleanChild = child match {
        case wgl: WindowGroupLimit => wgl.child
        case other => other
      }
      val aggOutput: Seq[NamedExpression] = cleanChild.output.map { a =>
        if (groupAttrs.exists(_.semanticEquals(a))) a
        else Alias(MaxBy(a, ordering).toAggregateExpression(), a.name)(exprId = a.exprId)
      }
      Project(projectList, Aggregate(groupAttrs, aggOutput, cleanChild))
  }
}

object GraftPlanRules {
  /** Install into a live session (extensions can't be added post-build). */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!classic.experimental.extraOptimizations.contains(WindowDedupToMaxBy))
      classic.experimental.extraOptimizations =
        classic.experimental.extraOptimizations :+ WindowDedupToMaxBy
  }
}
