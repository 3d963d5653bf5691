package org.apache.spark

/** Bridge into Spark's package-private listener bus, so a listener's
  * job/stage/task counts for a finished action are exact instead of racing
  * the asynchronous bus. Lives in org.apache.spark purely for access; no
  * Spark internals are modified. */
object GraftListenerBridge {
  /** Block until the bus has delivered every event posted so far. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
