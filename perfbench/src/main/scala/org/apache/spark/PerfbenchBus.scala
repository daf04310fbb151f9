package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * a traced op can close only after its jobs, plans and streaming progress
  * have been rolled up into it. The bus is `private[spark]`, hence the
  * package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
