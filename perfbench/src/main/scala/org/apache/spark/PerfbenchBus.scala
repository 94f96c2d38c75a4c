package org.apache.spark

/** The listener bus drain is package-private; the benchmark needs it so the
  * counters it reads after an action include that action's events.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
