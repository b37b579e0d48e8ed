package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, RowNumber, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: rewrite the canonical window top-k pattern —
  *
  *   df.withColumn("rn", row_number().over(partitionBy(k).orderBy(o)))
  *     .filter($"rn" <= k)
  *     .drop("rn")
  *
  * — into the native bounded-heap [[TopKPerKeyNode]], so code written
  * against the standard API gets the heap plan (no per-partition sort,
  * exchange bounded at tasks × keys × k rows) without knowing the
  * operator exists. Registered via `GraftExtensions`.
  *
  * Guards (all must hold, else the plan is left untouched):
  *  - the Window computes EXACTLY row_number and nothing else;
  *  - the filter is a sole rank bound (`rn <= k` / `rn < k`, either
  *    operand order) — no other conjuncts;
  *  - the rank column is dropped by the enclosing Project and every
  *    projected expression references only the window's CHILD columns,
  *    so removing the Window changes nothing else (a kept rank column
  *    disqualifies: the heap operator does not produce ranks);
  *  - the order spec is non-empty (row_number over an unordered frame
  *    is arbitrary; we do not bless that with a rewrite).
  *
  * On ties the window form itself is nondeterministic, and the heap
  * form is equally nondeterministic — a total order (tiebreak column)
  * makes both exact, which is the same contract the window pattern
  * already carries.
  *
  * There is no opt-out: past `graft.topk.finalKeyCap` keys a final task
  * degrades to a spillable sort on its own (see [[TopKPerKeyExec]]), so
  * a high-cardinality key costs no more memory than the window plan.
  * A reference that must stay on the window plan keeps the rank column.
  */
object TopKRewriteRule extends Rule[LogicalPlan] {

  private def rankBound(cond: Expression, rn: Attribute): Option[Int] =
    cond match {
      case LessThanOrEqual(a: Attribute, Literal(v: Int, IntegerType))
        if a.semanticEquals(rn) => Some(v)
      case LessThan(a: Attribute, Literal(v: Int, IntegerType))
        if a.semanticEquals(rn) => Some(v - 1)
      case GreaterThanOrEqual(Literal(v: Int, IntegerType), a: Attribute)
        if a.semanticEquals(rn) => Some(v)
      case GreaterThan(Literal(v: Int, IntegerType), a: Attribute)
        if a.semanticEquals(rn) => Some(v - 1)
      // rn = 1 is top-1 (row_number is never below 1); rn = k for k > 1
      // selects ONLY rank k and must not rewrite
      case EqualTo(a: Attribute, Literal(1, IntegerType))
        if a.semanticEquals(rn) => Some(1)
      case EqualTo(Literal(1, IntegerType), a: Attribute)
        if a.semanticEquals(rn) => Some(1)
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projList,
        Filter(cond,
          Window(Seq(alias @ Alias(
            WindowExpression(RowNumber(), WindowSpecDefinition(part, order, _)),
            _)), _, _, child, _))) =>
      val rn = alias.toAttribute
      rankBound(cond, rn) match {
        case Some(k) if k > 0 && order.nonEmpty &&
            !projList.exists(_.references.contains(rn)) &&
            projList.forall(_.references.subsetOf(child.outputSet)) =>
          Project(projList, TopKPerKeyNode(part, order, k, child))
        case _ => p
      }
  }
}
