package org.apache.spark

/** The benchmark's one reach into Spark internals: block until every event
  * posted so far has reached the listeners, so a trace is complete before
  * it is written. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
