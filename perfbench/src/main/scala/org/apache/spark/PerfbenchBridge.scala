package org.apache.spark

/** The one private Spark API the benchmark needs: waiting until every
  * queued listener event has been delivered, so a traced pass is
  * attributed only after its last job, task and query event arrived.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
