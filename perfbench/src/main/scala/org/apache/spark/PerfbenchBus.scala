package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so
  * counters read after a timed pass include its last jobs and
  * queries. The bus is private to Spark; this is the one hook the
  * benchmark needs from inside it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
