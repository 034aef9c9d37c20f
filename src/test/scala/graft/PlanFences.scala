package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.types.BinaryType

import graft.plans.PlanWalk

/** The plan-pin specs' fence predicates, on the one walker
  * [[PlanWalk.nodes]] the `PlanAudit` census also uses. MutationPinSpec
  * mutation-tests them, so a predicate that stops seeing real nodes
  * fails the suite. */
object PlanFences {

  def shuffleExchanges(df: DataFrame): Seq[ShuffleExchangeLike] =
    PlanWalk.nodes(df.queryExecution.executedPlan).collect { case s: ShuffleExchangeLike => s }

  /** the one-blob-exchange fence predicate: executes the plan (so the
    * adaptive form is final), counts shuffle exchanges whose rows
    * carry a BinaryType column. */
  def blobExchanges(df: DataFrame): Int = {
    df.queryExecution.toRdd.count()
    shuffleExchanges(df).count(_.output.exists(_.dataType == BinaryType))
  }

  /** plan nodes whose output carries a BinaryType column (the
    * zero-binary-downstream pin), after executing the plan. */
  def binaryCarryingNodes(df: DataFrame): Seq[SparkPlan] = {
    df.queryExecution.toRdd.count()
    PlanWalk.nodes(df.queryExecution.executedPlan)
      .filter(_.output.exists(_.dataType == BinaryType))
  }
}
