package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private.
  * A traced request waits for every event it caused before its counters
  * are read, so no job, stage or task is charged to the next request.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
