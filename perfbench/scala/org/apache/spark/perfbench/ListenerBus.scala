package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain is `private[spark]`; the benchmark reads its
  * listeners' state only after every queued event has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
