package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule

import TopKPerKey.TopKPerKeyNode

/** Optimizer rule: collapse the standard top-k-per-group idiom
  *
  *   df.withColumn("rn", row_number().over(partitionBy(p).orderBy(o)))
  *     .filter($"rn" <= k)
  *
  * into the bounded-heap [[TopKPerKeyNode]] UNDER the original
  * Window+Filter. The window/filter still run — but over ≤k rows per
  * key instead of every row, so the full per-key sort disappears while
  * the query's output (including the rn column) is untouched. Fires
  * only for a single row_number window expression (rank/dense_rank tie
  * semantics would need all peers, which the heap doesn't keep).
  */
object RewriteWindowTopK extends Rule[LogicalPlan] {

  private def limitOf(cond: Expression, rn: ExprId): Option[Int] = cond match {
    case LessThanOrEqual(a: AttributeReference, Literal(k: Int, _)) if a.exprId == rn => Some(k)
    case LessThan(a: AttributeReference, Literal(k: Int, _)) if a.exprId == rn => Some(k - 1)
    case EqualTo(a: AttributeReference, Literal(1, _)) if a.exprId == rn => Some(1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond,
        w @ Window(Seq(Alias(WindowExpression(RowNumber(),
          WindowSpecDefinition(partitionSpec, orderSpec, _)), _)), _, _, child, _))
        if partitionSpec.nonEmpty && orderSpec.nonEmpty &&
          !child.isInstanceOf[TopKPerKeyNode] =>
      val rnId = w.windowExpressions.head.exprId
      limitOf(cond, rnId) match {
        case Some(k) if k >= 1 =>
          f.copy(child = w.copy(child =
            TopKPerKeyNode(partitionSpec, orderSpec, k, child)))
        case _ => f
      }
  }
}

object TopKInstaller {
  /** make the planner strategy active on an existing session;
    * idempotent. `TopKPerKey.apply` calls it, so an explicit top-k
    * plans on any session. The rewrite rule is left alone here: it
    * re-plans every `row_number` window filter, which a session opts
    * into through GraftExtensions. */
  def installStrategy(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(TopKPerKey.Strategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerKey.Strategy
}
