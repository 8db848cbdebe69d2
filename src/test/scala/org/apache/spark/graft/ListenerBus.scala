package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus: block until every posted event has
  * reached its listeners, so a listener's counts are final.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
