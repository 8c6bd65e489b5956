package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Library integration point: install the engine's SQL function surface
  * through the standard extensions hook —
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * or `.withExtensions(new GraftExtensions)` on a session builder.
  * Extension-injected functions exist in EVERY session of the
  * application, including ones the library never sees being created.
  * The surface is [[graft.expr.GraftFunctions.table]], the same entries
  * [[graft.expr.GraftFunctions.register]] installs per session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.expr.GraftFunctions.table.foreach(ext.injectFunction)
    // whole-operator extension: plans graft.plans.AsOfJoinPlan (the
    // custom AS-OF JOIN logical node) to its merge-based physical exec
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
