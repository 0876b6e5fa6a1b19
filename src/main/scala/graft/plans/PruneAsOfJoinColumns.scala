package graft.plans

import org.apache.spark.sql.catalyst.expressions.{AttributeSet, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Column pruning through the custom as-of node — the optimizer-Rule
  * leg of the whole-operator extension. Catalyst's own ColumnPruning
  * does not know [[AsOfJoin]], so without this rule a query selecting
  * two columns from an as-of join of WIDE frames would scan and
  * shuffle every column of both sides — precisely the 100 TB failure
  * mode pruning exists to prevent. The rewrite is the standard shape:
  * when a Project above the node references a strict subset of a
  * child's output, push a narrowing Project into that child (always
  * keeping the join keys and time columns the node itself consumes);
  * FileSourceStrategy then folds the narrow Project into the scan's
  * ReadSchema. Guarded to fire only when it actually narrows, so the
  * fixed-point batch terminates. Installed beside the strategy by
  * GraftExtensions.
  */
object PruneAsOfJoinColumns extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(projectList, a: AsOfJoin) =>
      val needed = AttributeSet(projectList.flatMap(_.references)) ++
        AttributeSet((a.leftKeys ++ a.rightKeys :+ a.leftTime :+ a.rightTime)
          .flatMap(_.references))
      val lKeep = a.left.output.filter(needed.contains)
      val rKeep = a.right.output.filter(needed.contains)
      if (lKeep.length < a.left.output.length ||
          rKeep.length < a.right.output.length) {
        val newLeft =
          if (lKeep.length < a.left.output.length)
            Project(lKeep.map(_.asInstanceOf[NamedExpression]), a.left)
          else a.left
        val newRight =
          if (rKeep.length < a.right.output.length)
            Project(rKeep.map(_.asInstanceOf[NamedExpression]), a.right)
          else a.right
        Project(projectList, a.copy(left = newLeft, right = newRight))
      } else p
  }
}

/** Predicate pushdown through the custom as-of node — and, just as
  * importantly, where it must NOT push. A conjunct referencing only
  * LEFT output commutes with the join (the operator emits exactly one
  * row per left row; dropping a left row before or after the merge is
  * identical), so it pushes below and reaches the left scan. A
  * conjunct on RIGHT output must stay put: filtering right rows
  * BEFORE the merge would re-match earlier signups ("latest signup
  * with property X" ≠ "latest signup, if it has property X") and
  * nullability flips besides — the spec pins both directions.
  * Deterministic predicates only, the standard pushdown guard.
  */
object PushLeftFilterThroughAsOfJoin extends Rule[LogicalPlan] {

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, a: AsOfJoin) =>
      val (pushable, kept) = splitConjuncts(cond).partition(c =>
        c.deterministic && c.references.subsetOf(AttributeSet(a.left.output)))
      if (pushable.isEmpty) f
      else {
        val pushed = a.copy(left =
          Filter(pushable.reduceLeft(And), a.left))
        kept.reduceLeftOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}
