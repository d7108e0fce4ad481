package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every
  * queued listener event has been delivered, so counters read after a
  * phase are complete. */
object PerfbenchShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
