package org.apache.spark

/** Access to the driver's listener bus, which Spark keeps package-private:
  * the tracer reads listener-derived spans only after every posted event
  * has been delivered. */
object E2eBenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
