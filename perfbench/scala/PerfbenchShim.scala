package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: the
  * benchmark reads its listener's counters only after every posted event
  * has been delivered. */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
