package org.apache.spark

/** The one `private[spark]` member the benchmark needs: waiting for the
  * listener bus to deliver every posted event before counters are read.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
