package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which Spark scopes `private[spark]`.
  * Task-end events are delivered asynchronously, so counters read straight
  * after an action undercount; draining the bus first makes them exact.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
