package org.apache.spark

/** The one private hook the harness needs: block until every event
  * already posted to the listener bus has been delivered, so counters
  * read after a pass include that pass's last jobs and query executions. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
