package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until the
  * listener bus has delivered every queued event, so the traced run
  * reads complete job counters. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
