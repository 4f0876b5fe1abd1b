package org.apache.spark

/** Spark delivers listener events on a background thread. Reading a
  * listener's totals between two calls needs every event posted so far to
  * have arrived; the bus's own wait is package-private, hence this file. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
