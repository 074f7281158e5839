package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered.
  * `LiveListenerBus.waitUntilEmpty` is `private[spark]`; this file lives
  * under `org.apache.spark` for visibility only. The traced run calls it
  * at each span boundary so that events land in the span that caused
  * them. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
