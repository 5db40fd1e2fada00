package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. */
object BenchBus {
  /** Block until every event posted so far has reached every listener, so
    * counts read afterwards are complete (no fixed sleep). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
