package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension registration: makes graft's native expressions
  * available to pure-SQL users at session construction, with no code call —
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * // or: a session builder's .withExtensions(new GraftExtensions)
  * }}}
  * (Programmatic alternative: `graft.functions.registerAll(spark)`.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit =
    graft.functions.sqlFunctions.foreach { case (name, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), build))
    }
}
