package org.apache.spark

/** The one Spark-internal hook the benchmark's traced run needs: block
  * until every listener event posted so far has been delivered, so a
  * call's jobs, stages and tasks are all recorded before the call's
  * numbers are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
