package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.GraftFunctions

/** SparkSessionExtensions entry point: enable with
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  *
  * Injects the engine's native expressions (currently the codegen'd
  * float-vector dot product) into every session built against the library —
  * the idiomatic Spark plugin path, so SQL users get `graft_vec_dot(...)`
  * without touching the function registry themselves — along with the
  * planner strategies of the library's plan nodes (heap top-k, shared
  * subplan) and the top-k rank rewrite. Sessions built without it get each
  * strategy installed on first use (graft.plans.Install).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectFunction(GraftFunctions.vecDot)
    extensions.injectFunction(GraftFunctions.hash60)
    extensions.injectFunction(GraftFunctions.intersectCard)
    extensions.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    extensions.injectPlannerStrategy(_ => graft.plans.SharedSubplanStrategy)
    extensions.injectOptimizerRule(_ => graft.plans.TopKRankRewrite)
  }
}
