package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs one call on
  * it: wait until every posted event has reached the listeners, so task
  * counters read after an action include all of that action's tasks.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
