package org.apache.spark

/** The one Spark-internal call the benchmark makes: listener events are
  * delivered asynchronously, so counters are read only after the listener
  * bus has drained.
  */
object LakebenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
