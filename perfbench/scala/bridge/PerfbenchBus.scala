package org.apache.spark

/** The one Spark-internal call the traced mode needs: wait until every
  * listener queue has delivered its events, so the events a timed call
  * produced can be attributed to that call by order instead of by clock. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
