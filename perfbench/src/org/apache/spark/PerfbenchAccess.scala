package org.apache.spark

/** The one Spark-internal call the harness needs: block until every
  * listener event posted so far has been delivered, so the task metrics a
  * traced pass read are complete. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
