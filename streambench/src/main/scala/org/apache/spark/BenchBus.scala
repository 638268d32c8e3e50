package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so counters read after a pass are complete. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
