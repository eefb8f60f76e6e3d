package org.apache.spark

/** The listener bus is private to Spark; specs that count jobs need one
  * call on it: wait until every posted event has reached the listeners.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
