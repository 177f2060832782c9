package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event, so a
  * test listener's view of an action is complete when the action returns.
  * The bus is package-private to Spark, hence this one-method bridge. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
