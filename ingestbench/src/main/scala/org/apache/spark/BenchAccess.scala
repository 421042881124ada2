package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private, so a
  * measurement window can wait for its last events before reading them.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
