package org.apache.spark

/** The one scheduler hook the benchmark needs from inside Spark: block
  * until the listener bus has delivered every event posted so far, so a
  * listener's job/stage/task counts for a finished action are exact
  * instead of racing the asynchronous bus. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
