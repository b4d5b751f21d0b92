package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Catalyst optimizer rule: rewrite a GLOBAL aggregate window —
  * `sum(x) OVER ()`, the reference's percent-of-total idiom (ref lines
  * 62–66, `SUM(COUNT(*)) OVER ()`) — into a scalar Aggregate cross-joined
  * back to the input.
  *
  * Why a RULE and not a coding convention: an empty-partition window is
  * the textbook 100 TB scale killer — Spark plans it as Exchange
  * SinglePartition + Window, funneling the entire input through ONE task
  * (this library's operators hand-write the agg+broadcast-join form for
  * exactly that reason, SURVEY §4). The rewrite makes the NATURAL SQL
  * spelling safe: the scalar aggregate pre-aggregates map-side (partial
  * rows cross the shuffle, not data), and the planner broadcasts its
  * 1-row result back over the unexchanged input. User queries keep the
  * declarative OVER () form; the optimizer owns the scale shape — the
  * whole point of doing this inside Catalyst instead of in user code.
  *
  * Fires only when EVERY window expression over the node is a whole-frame
  * aggregate (no partition keys, no ordering, unbounded-to-unbounded
  * frame, a plain AggregateExpression — rank/row_number/lead/lag are
  * order-dependent and never match). Output attribute ids are preserved
  * via re-aliasing, so downstream references are untouched.
  *
  * Registered once, by [[graft.functions.GraftExtensions]]
  * (`SparkSessionExtensions.injectOptimizerRule`), which every session
  * built by [[graft.GraftSession.build]] loads.
  */
object GlobalWindowToAgg extends Rule[LogicalPlan] {

  private def wholeFrame(f: Expression): Boolean = f match {
    case SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing) => true
    case UnspecifiedFrame => true
    case _ => false
  }

  private def rewritable(ne: NamedExpression): Boolean = ne match {
    case Alias(WindowExpression(_: AggregateExpression,
        WindowSpecDefinition(Nil, Nil, f)), _) => wholeFrame(f)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case Window(wes, Nil, Nil, child, _)
        if wes.nonEmpty && wes.forall(rewritable) =>
      val pairs = wes.map { case orig @ Alias(
          WindowExpression(ae: AggregateExpression, _), name) =>
        (orig, Alias(ae, name)())
      }
      // `child` is referenced TWICE (row stream + aggregate input). The
      // single-scan claim RELIES on physical exchange/stage reuse: both
      // references plan to identical subtrees, so the aggregate side
      // resolves to a ReusedExchange of the row side's shuffle (verified
      // in plans/q94_global_window_rule_r5.txt). A child whose plan were
      // nondeterministic-per-copy (rand(), uncorrelated uuid) would break
      // that identity — whole-frame windows over such children don't
      // match `rewritable`'s aggregate-only shape in practice, and the
      // naive Window would be semantically questionable there anyway.
      val agg = Aggregate(Nil, pairs.map(_._2), child)
      val joined = Join(child, agg, Cross, None, JoinHint.NONE)
      // Window's output = child.output ++ windowExpressions; reproduce it
      // with the original exprIds so parent plans resolve unchanged
      val projections: Seq[NamedExpression] = child.output ++ pairs.map {
        case (orig, fresh) =>
          Alias(fresh.toAttribute, orig.name)(exprId = orig.exprId)
      }
      Project(projections, joined)
  }
}
