package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the bench
  * reads its per-span stats only after every queued event was delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
