package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far.
  * Spark keeps this package-private; the traced replay needs it to read
  * listener counters at span boundaries.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
