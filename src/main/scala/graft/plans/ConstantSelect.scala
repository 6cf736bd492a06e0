package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, OneRowRelation, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Constant-select rewrite: a query whose ROOT is a projection of
  * literals over no table (`SELECT 1`, `SELECT current_database()` once
  * Catalyst has folded it, the `SHOW …` intercepts' one-row answers)
  * becomes a `LocalRelation` holding that one row, with the same output
  * attributes. It then plans as `LocalTableScanExec`, whose rows sit in
  * the driver, so the server's drain answers it without a Spark job
  * ([[graft.server.Engine.drain]]). Client connection checks and
  * metadata probes are most of a psql/JDBC session's small statements;
  * each one otherwise pays a full job submission around a sub-ms task.
  *
  * Guards, each pinned by PlanSpec:
  *  - every projection must be `Alias(Literal)` after constant folding.
  *    `Alias.foldable` is always false, so a foldability guard would
  *    never fire; and an expression that folding left alone (`1/0` under
  *    ANSI, which raises when evaluated) keeps failing at execution, as
  *    before.
  *  - root only: scalar subqueries (optimized under a `Subquery` root),
  *    INSERT … SELECT, CTAS and CREATE VIEW (command roots) are untouched.
  */
object ConstantSelect extends Rule[LogicalPlan] {

  private def literal(e: NamedExpression): Option[Literal] = e match {
    case Alias(l: Literal, _) => Some(l)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case p @ Project(list, OneRowRelation()) =>
      val lits = list.flatMap(literal)
      if (lits.size != list.size) p
      else LocalRelation(p.output, Seq(InternalRow.fromSeq(lits.map(_.value))))
    case _ => plan
  }
}
