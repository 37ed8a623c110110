package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Builder-time installation of the engine's custom machinery — the
  * standard deployment path for clusters where the application does not
  * own the session builder:
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * Installs the native as-of join planner strategy
  * ([[graft.plans.AsOfJoinStrategy]]) and every custom SQL function
  * ([[graft.functions.SqlFunctions.builders]]). Equivalent to what
  * [[graft.util.Sessions.tune]] installs on a session that
  * [[graft.util.Sessions.get]] builds or a harness supplies — two entry
  * points, one source of truth, so a cluster-config install and a
  * programmatic or harness session expose the identical surface.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    graft.functions.SqlFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
  }
}
