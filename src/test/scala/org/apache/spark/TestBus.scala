package org.apache.spark

/** Waits until every event posted so far reached the session's listeners. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
