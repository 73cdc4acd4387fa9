package org.apache.spark

/** Waits until every queued listener event has been delivered, so counters
  * read after a traced window include that window's last jobs and tasks.
  * The listener bus is package-private, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
