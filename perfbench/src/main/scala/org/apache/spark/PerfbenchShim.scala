package org.apache.spark

/** Package-private hooks the harness needs to read counters at a phase
  * boundary: listener events are delivered asynchronously, so a counter
  * read is only complete once the bus has drained.
  */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
