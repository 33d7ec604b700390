package org.apache.spark

/** Access to the driver's listener bus, which Spark keeps package-private:
  * a spec counting jobs reads its listener only after every posted event
  * has been delivered. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
