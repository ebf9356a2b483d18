package org.apache.spark

/** Tests that count listener events wait for the bus first: events reach
  * listeners asynchronously, and `waitUntilEmpty` is `private[spark]`.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
