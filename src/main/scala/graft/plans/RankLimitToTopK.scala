package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan,
  Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule

/** Rewrites the standard per-key top-k idiom
  *
  *   Project [cols ⊆ child] ← Filter (rn <= k) ← Window [row_number() AS rn]
  *
  * into the custom [[TopKPerKey]] operator whenever the rank column is
  * projected away, so code written in plain DataFrame style gets the
  * bounded-heap two-phase plan (≤ k rows per key per partition cross the
  * shuffle) instead of Window's shuffle-everything-then-sort — including
  * Spark's own mitigation (the WindowGroupLimit the built-in optimizer
  * inserts below the Window still sorts each group and still shuffles the
  * group-limit survivors through a full-width exchange; it is peeled here
  * and subsumed).
  *
  * Semantics: row_number over a non-total order is nondeterministic in
  * exactly the same way for both plans, so the rewrite preserves the
  * contract the query already had. Residual filter conjuncts that don't
  * touch the rank column are row-local and commute with top-k; they are
  * kept as a Filter above the operator. The rewrite is skipped when the
  * rank value itself survives into the output (TopKPerKey doesn't
  * materialize ranks).
  *
  * Registered via `spark.experimental.extraOptimizations` (runs after the
  * built-in batches, so the shape matched is the OPTIMIZED one) together
  * with [[TopKPerKeyStrategy]] — `graft.sources.Tables.warmup` installs
  * both.
  */
object RankLimitToTopKRule extends Rule[LogicalPlan] {

  /** cond conjunct ⇒ the rank bound it implies for `rn`, if any. */
  private def rankBound(e: Expression, rn: ExprId): Option[Int] = e match {
    case LessThanOrEqual(a: AttributeReference, IntegerLiteral(k))
        if a.exprId == rn => Some(k)
    case GreaterThanOrEqual(IntegerLiteral(k), a: AttributeReference)
        if a.exprId == rn => Some(k)
    case LessThan(a: AttributeReference, IntegerLiteral(k))
        if a.exprId == rn => Some(k - 1)
    case GreaterThan(IntegerLiteral(k), a: AttributeReference)
        if a.exprId == rn => Some(k - 1)
    case EqualTo(a: AttributeReference, IntegerLiteral(1))
        if a.exprId == rn => Some(1)
    case EqualTo(IntegerLiteral(1), a: AttributeReference)
        if a.exprId == rn => Some(1)
    case _ => None
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case p @ Project(projectList, Filter(cond,
        Window(Seq(alias @ Alias(WindowExpression(RowNumber(), _), _)),
          partitionSpec, orderSpec, wChild, _)))
        if partitionSpec.nonEmpty && orderSpec.nonEmpty =>
      val conjuncts = splitConjuncts(cond)
      val bounds = conjuncts.flatMap(rankBound(_, alias.exprId))
      val residual = conjuncts.filter(rankBound(_, alias.exprId).isEmpty)
      // peel the built-in group-limit mitigation (TopKPerKey subsumes it) —
      // but only when it provably serves THIS window: same partition/order
      // specs and a limit at least as permissive as the derived bound. A
      // mismatched group-limit (hand-built plan, future optimizer) must
      // stay, or rows feeding the top-k would silently change.
      val child = wChild match {
        case WindowGroupLimit(ps, os, _, limit, c)
            if ps == partitionSpec && os == orderSpec &&
              bounds.nonEmpty && limit >= bounds.min => c
        case c => c
      }
      val rewriteOk =
        bounds.nonEmpty && bounds.min > 0 &&
          // everything else must be answerable by the window child alone
          residual.forall(_.references.subsetOf(child.outputSet)) &&
          projectList.forall(_.references.subsetOf(child.outputSet))
      if (!rewriteOk) p
      else {
        val topk = TopKPerKey(partitionSpec, orderSpec, bounds.min, child)
        val filtered =
          if (residual.isEmpty) topk
          else Filter(residual.reduceLeft(And), topk)
        Project(projectList, filtered)
      }
  }

  /** Attach to a live session (idempotent). */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
}
