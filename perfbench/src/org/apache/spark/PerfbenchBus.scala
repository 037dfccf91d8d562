package org.apache.spark

/** The one non-public call the benchmark makes: waiting until the
  * listener bus has delivered every queued event, so a trace is
  * complete before it is attributed and written. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
