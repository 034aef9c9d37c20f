package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point — registers graft's native
  * expressions for SQL users at session build time, from the one table
  * [[graft.functions.Kernels.sqlBuilders]]:
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  *   ...
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => graft.plans.TopKPerKey.Strategy)
    e.injectOptimizerRule(_ => graft.plans.RewriteWindowTopK)
    graft.functions.Kernels.sqlBuilders.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo("graft", name), builder))
    }
  }
}
