package org.apache.spark

/** The one engine-internal call the traced run needs: wait until every
  * listener event posted so far has been delivered, so events land in the
  * op that caused them. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
