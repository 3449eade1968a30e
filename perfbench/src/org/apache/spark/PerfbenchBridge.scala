package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait for
  * it so every job, stage and task event of a traced run is counted. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
