package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one Spark-internal call the harness needs: waiting until every
  * listener queue has delivered its events, so per-operation counters are
  * read only after all of the operation's job, stage, task and
  * query-execution events have arrived.
  */
object Bridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
