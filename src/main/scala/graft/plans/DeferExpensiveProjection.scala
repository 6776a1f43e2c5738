package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** T2 — defer expensive projections past TopK (reference
  * `/root/reference/src/optimizers/defer_expensive_projection.rs`).
  *
  * For `SELECT expensive(x) FROM t ORDER BY ts LIMIT n`, Catalyst plans
  * `TakeOrderedAndProject` over `Project(expensive)` — the expensive
  * expression is evaluated for EVERY row and the top-k keeps n of them
  * (verified against Spark 4.1; SURVEY §2.6 assumed this was built-in and
  * it is not). This rule splits the projection: sort keys and cheap items
  * stay below the limit, expensive expressions move above it and run on n
  * rows instead of the whole window.
  *
  * Fires only when something expensive is movable; the rewritten plan's
  * inner projection is all-cheap, so a fixed-point re-run is a no-op.
  *
  * Injected through [[GraftExtensions]], the rule runs in the operator
  * optimization batch, where Spark 4.1's `PushProjectionThroughLimitAndOffset`
  * pushes the outer `Project` back below the limit. Physical planning then
  * folds that `Project` into `TakeOrderedAndProjectExec`'s project list,
  * which is evaluated on the k rows the top-k keeps — so the expensive
  * expression still runs on n rows, not the whole window; without the rule
  * it sits in a `Project` under the top-k and runs on every row.
  */
object DeferExpensiveProjection extends Rule[LogicalPlan] {

  private def isExpensive(e: Expression): Boolean =
    e.exists {
      case _: CodegenFallback => true // interpreted (JSON builders, UDF-ish)
      case _: RegExpExtractBase => true
      case other => other.children.isEmpty && false
    } || e.collect { case x => x }.length > 20

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    // SELECT expensive(x) … ORDER BY k LIMIT n, as the optimizer leaves it:
    // a pruning Project may sit between the limit and the sort
    case gl @ GlobalLimit(glExpr, LocalLimit(llExpr,
        Project(pruneList, Sort(order, true, Project(list, child), hint))))
        if pruneList.forall(_.isInstanceOf[Attribute]) =>
      rewrite(gl, glExpr, llExpr, Some(pruneList.map(_.asInstanceOf[Attribute])),
        order, hint, list, child)
    case gl @ GlobalLimit(glExpr,
        LocalLimit(llExpr, Sort(order, true, Project(list, child), hint))) =>
      rewrite(gl, glExpr, llExpr, None, order, hint, list, child)
  }

  private def rewrite(orig: LogicalPlan, glExpr: Expression, llExpr: Expression,
      prune: Option[Seq[Attribute]], order: Seq[SortOrder],
      hint: Option[SortHint], list: Seq[NamedExpression],
      child: LogicalPlan): LogicalPlan = {
    val orderRefs = AttributeSet(order.flatMap(_.references))
    val (below, above) = list.partition {
      case a: Alias =>
        orderRefs.contains(a.toAttribute) || !a.child.deterministic ||
          !isExpensive(a.child)
      case _ => true // bare attributes pass through
    }
    if (above.isEmpty) orig
    else {
      val belowOut = AttributeSet(below.map(_.toAttribute))
      val passthrough = (AttributeSet(above.flatMap(_.references)) -- belowOut)
        .toSeq.filter(child.outputSet.contains)
      val inner = Project((below ++ passthrough).toIndexedSeq, child)
      val limited = GlobalLimit(glExpr,
        LocalLimit(llExpr, Sort(order, global = true, inner, hint)))
      val movedById = above.collect { case a: Alias => a.exprId -> a }.toMap
      val outer: Seq[NamedExpression] = prune match {
        case Some(attrs) => // keep the pruned output shape
          attrs.map(a => movedById.getOrElse(a.exprId, a))
        case None =>
          list.map {
            case ne if above.contains(ne) => ne
            case ne => ne.toAttribute
          }
      }
      Project(outer.toIndexedSeq, limited)
    }
  }
}
