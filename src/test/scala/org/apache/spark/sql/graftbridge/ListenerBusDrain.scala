package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Test-side access to the listener bus drain: listener events (job
  * starts, query-execution callbacks) arrive asynchronously, so a counting
  * spec drains the bus before reading its counters.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
