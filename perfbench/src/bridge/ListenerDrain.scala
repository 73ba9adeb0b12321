package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so the
  * benchmark's listener has seen all jobs and stages before it reports.
  * `listenerBus` is `private[spark]`, hence this package. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
