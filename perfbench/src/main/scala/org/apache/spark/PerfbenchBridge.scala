package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The benchmark reads its listener's records only after every event of
  * a pass has been delivered, so it waits for the bus instead of sleeping. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
