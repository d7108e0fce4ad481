package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Declarative session-extension entry point:
  *
  * {{{
  *   spark-sql --conf spark.sql.extensions=graft.GraftExtensions
  *   // or programmatically:
  *   SparkSession.builder().withExtensions(new GraftExtensions)
  * }}}
  *
  * injects the engine's native SQL functions (codegen'd Catalyst
  * expressions, not UDFs) into every session built from that config —
  * the deployment analogue of [[Graft.registerFunctions]], which
  * patches one live session. This is how a SQL-only surface (thrift
  * server, notebooks, `spark-sql`) gets the tera codec/hash vocabulary
  * with zero Scala calls: the reference exposes its scalar library
  * through its SQL façade the same way (SURVEY §2.9; tera's MySQL
  * handler surfaces the filter/codec ops as SQL builtins).
  *
  * Injected functions are catalog-registered (not temp), so they
  * resolve in any database context and survive `newSession()`. The
  * planner strategy for root collects served on the driver
  * ([[org.apache.spark.sql.graft.SortedRunsCollect]]: ordered collects
  * and point gets) is injected too.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Graft.functionBuilders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        builder))
    }
    ext.injectPlannerStrategy(_ =>
      org.apache.spark.sql.graft.SortedRunsCollect)
  }
}
