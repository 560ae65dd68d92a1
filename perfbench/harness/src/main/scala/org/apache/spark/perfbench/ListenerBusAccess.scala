package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`. The harness drains it after each
  * operation, outside the clock, so every job, stage, task and
  * query-execution event of that operation has been delivered before the
  * next one starts. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
