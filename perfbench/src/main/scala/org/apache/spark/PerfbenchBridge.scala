package org.apache.spark

/** The one Spark-internal hook the benchmark needs: block until every listener event
  * posted so far has been delivered, so job and task records are complete before the
  * trace is read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
