package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private, so the
  * benchmark can wait for its listeners to catch up before reading them.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
