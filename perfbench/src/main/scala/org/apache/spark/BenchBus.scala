package org.apache.spark

/** Waits until every event already posted to the listener bus has been
  * delivered, so a traced span can be closed with all of its job, task
  * and query-execution events counted. Lives in this package only because
  * the bus is package-private. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
