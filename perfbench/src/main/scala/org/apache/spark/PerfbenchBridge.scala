package org.apache.spark

/** The one package-private hook the benchmark needs: wait until every
  * queued listener event has been delivered, so a traced iteration's
  * job records are complete before they are read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
