package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, CurrentRow, EqualTo, Expression, IntegerLiteral, LessThan, LessThanOrEqual, Literal, RowFrame, RowNumber, SortOrder, SpecifiedWindowFrame, UnboundedPreceding, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Catalyst optimizer rule (SURVEY §2.2 custom-operator path c, the
  * `Rule[LogicalPlan]` leg): rewrites the ubiquitous
  *
  * {{{ df.withColumn("rn", row_number().over(partitionBy(g).orderBy(o)))
  *      .filter($"rn" <= k).drop("rn") }}}
  *
  * pattern into [[TopKPerGroupPlan]] — so a user who writes the standard
  * window formulation automatically gets the bounded-heap operator
  * (shuffle+scan) instead of a full per-group sort (shuffle+sort).
  *
  * The rewrite fires only when it is semantics-preserving:
  *  - the window computes exactly ONE expression, a `row_number()` over
  *    the standard (UnboundedPreceding, CurrentRow) row frame;
  *  - the rank is bounded by a literal (`rn <= k`, `rn < k`, `rn = 1`)
  *    and nothing else in the filter references it;
  *  - the ordering is a SINGLE sort key (with multi-key tie-breaks the
  *    heap would need the full composite ordering — not yet implemented);
  *  - the enclosing Project DROPS the rank column (so no output needs it).
  *
  * Not installed on any session: arming it would change the plan of every
  * hand-written `row_number` window. Apply it explicitly to a plan.
  */
object RewriteRankFilterToTopK extends Rule[LogicalPlan] {

  private def rankBound(cond: Expression, rn: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, IntegerLiteral(k)) if a.semanticEquals(rn) => Some(k)
    case LessThan(a: Attribute, IntegerLiteral(k)) if a.semanticEquals(rn) => Some(k - 1)
    case EqualTo(a: Attribute, IntegerLiteral(1)) if a.semanticEquals(rn) => Some(1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projectList,
        Filter(cond,
          Window(Seq(alias @ Alias(WindowExpression(_: RowNumber,
              WindowSpecDefinition(partitionSpec, Seq(order: SortOrder),
                SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))), _)),
            _, _, child, _)))
        if rankBound(cond, alias.toAttribute).exists(_ >= 1)
          // every projected column must come from the window's CHILD —
          // i.e. the rank column is dropped and nothing else was computed
          && projectList.forall(_.references.subsetOf(child.outputSet))
          && partitionSpec.nonEmpty && partitionSpec.forall(_.deterministic) =>
      val k = rankBound(cond, alias.toAttribute).get
      Project(projectList,
        TopKPerGroupPlan(k, partitionSpec, order, sortBased = false, child))
  }
}
