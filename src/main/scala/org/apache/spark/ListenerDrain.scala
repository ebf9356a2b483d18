package org.apache.spark

/** Callers that count listener events wait for the bus first: events
  * reach listeners asynchronously, and `waitUntilEmpty` is
  * `private[spark]`. [[graft.QueryRunner.jobsDuring]] and the specs
  * that count jobs use it.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
