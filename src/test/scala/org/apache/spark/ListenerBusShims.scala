// Lives in org.apache.spark to reach the private[spark] listener bus.
package org.apache.spark

object ListenerBusShims {
  /** Block until every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
