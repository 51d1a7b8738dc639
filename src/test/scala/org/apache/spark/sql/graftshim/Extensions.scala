package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry

/** Test access to `SparkSessionExtensions.registerFunctions`, which Spark
  * scopes `private[sql]`.
  */
object Extensions {

  /** Names of the functions `e` injects, as registered into an empty
    * registry.
    */
  def functionNames(e: SparkSessionExtensions): Set[String] =
    e.registerFunctions(new SimpleFunctionRegistry)
      .listFunction().map(_.funcName).toSet
}
