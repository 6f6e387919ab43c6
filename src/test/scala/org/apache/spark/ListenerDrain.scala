package org.apache.spark

/** Test access to the one Spark-internal hook a job-count assertion needs: block
  * until every listener event posted so far has been delivered. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
