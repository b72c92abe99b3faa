package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Alias, CreateArray, Expression, GetArrayItem, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Percentile}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Optimizer rule fusing multiple scalar `percentile(x, p_i)` aggregates on
  * the SAME input into one array-form `percentile(x, array(p_1..p_n))`.
  *
  * Why this matters at scale: Spark's exact [[Percentile]] keeps an
  * OpenHashMap value-multiset PER AGGREGATE FUNCTION in the aggregation
  * buffer. A user asking for quartiles the natural way —
  *
  * {{{ df.agg(percentile($"x", lit(0.25)), percentile($"x", lit(0.5)),
  *            percentile($"x", lit(0.75))) }}}
  *
  * — pays for three identical multisets (3x memory, 3x merge traffic, three
  * sorts at eval). The array form pays once. This rule rewrites each scalar
  * call to `GetArrayItem(percentile(x, array(...)), i)`; the rewritten
  * [[AggregateExpression]]s are semantically equal, so physical planning
  * (`PhysicalAggregation`'s equivalent-expression dedup) computes ONE buffer.
  *
  * Catalog queries q37/q41/q76/q87 hand-apply this shape; the rule teaches it
  * to Catalyst so any plan — including `spark.sql` text a user brings — gets
  * it. Installed as a session optimizer rule by [[GraftFunctions.register]],
  * which [[graft.Graft.prepare]] calls on every engine session.
  *
  * Fusion requires, per group: same canonicalized child and frequency
  * expression, non-distinct, unfiltered, forward (not `reverse`) aggregates
  * whose percentage is a foldable scalar DOUBLE. Anything else is left
  * untouched.
  */
object FusePercentiles extends Rule[LogicalPlan] {

  /** Percentage of a fusable scalar percentile, else None. */
  private def scalarPct(ae: AggregateExpression): Option[Double] =
    ae.aggregateFunction match {
      case p: Percentile
          if !ae.isDistinct && ae.filter.isEmpty && !p.reverse &&
            p.percentageExpression.foldable &&
            p.percentageExpression.dataType == DoubleType &&
            p.frequencyExpression.foldable =>
        Option(p.percentageExpression.eval(null)).map(_.asInstanceOf[Double])
      case _ => None
    }

  private def fuseKey(p: Percentile): (Expression, Expression) =
    (p.child.canonicalized, p.frequencyExpression.canonicalized)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg: Aggregate if agg.resolved =>
      val fusable: Seq[(AggregateExpression, Double)] =
        agg.aggregateExpressions.flatMap(_.collect {
          case ae: AggregateExpression if scalarPct(ae).isDefined =>
            ae -> scalarPct(ae).get
        })
      val groups = fusable
        .groupBy { case (ae, _) =>
          fuseKey(ae.aggregateFunction.asInstanceOf[Percentile])
        }
        // Only groups with >= 2 DISTINCT percentages gain anything; equal
        // scalar calls already dedup semantically at physical planning.
        .filter { case (_, members) => members.map(_._2).distinct.length >= 2 }

      if (groups.isEmpty) agg
      else {
        val replacements: Map[AggregateExpression, Expression] =
          groups.values.flatMap { members =>
            val pcts = members.map(_._2).distinct // first-appearance order
            val arrayPct = CreateArray(pcts.map(Literal(_, DoubleType)))
            members.map { case (ae, pct) =>
              val p = ae.aggregateFunction.asInstanceOf[Percentile]
              val fused = ae.copy(aggregateFunction =
                p.copy(percentageExpression = arrayPct))
              ae -> (GetArrayItem(fused, Literal(pcts.indexOf(pct))): Expression)
            }
          }.toMap

        val rewritten = agg.aggregateExpressions.map { ne =>
          ne.transformUp {
            case ae: AggregateExpression if replacements.contains(ae) =>
              replacements(ae)
          } match {
            case named: NamedExpression => named
            // A bare fused AggregateExpression can only have been the whole
            // entry if it was already named; re-alias defensively.
            case other => Alias(other, ne.name)(exprId = ne.exprId)
          }
        }
        agg.copy(aggregateExpressions = rewritten)
      }
  }
}
