package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `private[spark]` bridge: block until every listener event posted so far
  * has been delivered, so per-op counter deltas read after an op include
  * all of that op's jobs, tasks and query-execution events. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
