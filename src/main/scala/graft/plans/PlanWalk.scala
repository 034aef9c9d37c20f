package graft.plans

/** THE physical-plan walk + fence predicates (moved from the test tree
  * in r17 so the `PlanAudit --inventory` census shares the ONE
  * definition the plan-pin specs use — the r16 review consolidated
  * three drifted spec-local copies into one walker precisely so a new
  * AQE node type can't blind one fence silently; a main-tree twin
  * would have reopened that hole). The specs call this object
  * directly, and MutationPinSpec mutation-tests exactly these
  * predicates, so a blind spot still fails the suite. */
object PlanWalk {

  def nodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      p +: nodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: nodes(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      p +: nodes(r.child)
    case _ => p +: p.children.flatMap(nodes)
  }

  def shuffleExchanges(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike] =
    nodes(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => s
    }

  /** the one-blob-exchange fence predicate: executes the plan (so the
    * adaptive form is final), counts shuffle exchanges whose rows
    * carry a BinaryType column. */
  def blobExchanges(df: org.apache.spark.sql.DataFrame): Int = {
    df.queryExecution.toRdd.count()
    shuffleExchanges(df).count(_.output.exists(
      _.dataType == org.apache.spark.sql.types.BinaryType))
  }

  /** plan nodes whose output carries a BinaryType column (the
    * zero-binary-downstream pin), after executing the plan. */
  def binaryCarryingNodes(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    df.queryExecution.toRdd.count()
    nodes(df.queryExecution.executedPlan)
      .filter(_.output.exists(
        _.dataType == org.apache.spark.sql.types.BinaryType))
  }

  /** the scan lists at least one pushed source filter */
  def pushesFilters(s: org.apache.spark.sql.execution.FileSourceScanExec): Boolean =
    s.metadata.get("PushedFilters").exists(f => f.nonEmpty && f != "[]")

  /** the scan holds data filters and none of them became a pushed
    * source filter, so they run after the read over every row — the
    * PLANS `scans_filtered_unpushed` class and the `--unpushed` audit */
  def filteredUnpushed(s: org.apache.spark.sql.execution.FileSourceScanExec): Boolean =
    s.dataFilters.nonEmpty && !pushesFilters(s)
}
