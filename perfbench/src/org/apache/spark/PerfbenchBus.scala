package org.apache.spark

/** Spark posts listener events asynchronously; the traced run must read its
  * counters only after every event of the work it just timed was delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
