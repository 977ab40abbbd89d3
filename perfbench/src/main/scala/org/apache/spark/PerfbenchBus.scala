package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it before it
  * reads its listeners' counters, so every event of an operation is counted
  * in that operation.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
