package org.apache.spark

/** The one Spark-internal hook the benchmark needs: block until every
  * queued listener event has been delivered, so per-call accounting is
  * complete before it is read. Called only outside the timed region. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
