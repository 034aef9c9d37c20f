package graft.plans

/** THE physical-plan walk and the scan predicates of the
  * `PlanAudit --inventory` census. The census and the plan-pin specs
  * share this ONE walker (the r16 review consolidated three drifted
  * spec-local copies into it, so a new AQE node type can't blind one
  * fence silently). The specs' own fence predicates (shuffle and blob
  * exchanges, binary-carrying nodes) live test-side in `PlanFences`,
  * built on [[nodes]], where MutationPinSpec mutation-tests them. */
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

  /** the scan lists at least one pushed source filter */
  def pushesFilters(s: org.apache.spark.sql.execution.FileSourceScanExec): Boolean =
    s.metadata.get("PushedFilters").exists(f => f.nonEmpty && f != "[]")

  /** the scan holds data filters and none of them became a pushed
    * source filter, so they run after the read over every row — the
    * PLANS `scans_filtered_unpushed` class and the `--unpushed` audit */
  def filteredUnpushed(s: org.apache.spark.sql.execution.FileSourceScanExec): Boolean =
    s.dataFilters.nonEmpty && !pushesFilters(s)
}
