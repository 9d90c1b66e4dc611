package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Engine extensions (SURVEY.md §4 registration path): custom Catalyst
  * expressions and Column-composition functions exposed to SQL (the
  * GraftFunctions catalog), the TopKPerKey physical strategy, and the
  * spatial-join rewrite rule. Installed once, when the session is built,
  * by `GraftSession.builder` — the only place a session is built (or by
  * `spark.sql.extensions=graft.GraftExtensions` outside this codebase).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    e.injectOptimizerRule(s => graft.plans.SpatialJoinRewrite(s))
    GraftFunctions.all.foreach(e.injectFunction)
  }
}
