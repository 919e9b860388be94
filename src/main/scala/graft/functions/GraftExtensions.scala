package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** The one way graft's functions, planner strategies and optimizer rules
  * reach a session. [[graft.Engine.session]] installs it; a session built
  * elsewhere gets it from
  * `spark.sql.extensions=graft.functions.GraftExtensions`. Every
  * `newSession()` child inherits it, so plain SQL clients of the
  * gateway/Thrift front-ends get `simhash48`, `minhash_sig`, `cosine_sim`,
  * ... with no Scala call required. A session without it gets Spark's own
  * unresolved-routine error for those names.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Registry.fnSpecs.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
    // whole-operator extensions (custom LogicalPlan -> SparkPlan)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.IntervalJoinStrategy)
    // opt-in COUNT(DISTINCT int) -> bitmap-aggregation rewrite
    ext.injectOptimizerRule(s => graft.plans.BitmapDistinctRewrite(s))
    // plan-audit (no rewrite): log user-submitted pair-enumerating
    // self-joins — the shape the routing plane's doors exist to replace
    ext.injectOptimizerRule(s => graft.plans.PairJoinAuditRule(s))
  }
}
