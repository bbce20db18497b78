package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously and its drain is
  * `private[spark]`; [[graft.QueryMetrics]] and specs that count events
  * with a listener wait here before reading their counts. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
