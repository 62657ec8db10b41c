package org.apache.spark

/** The listener bus's drain is package-private to Spark. */
object PerfbenchShims {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
