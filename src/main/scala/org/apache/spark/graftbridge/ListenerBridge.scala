package org.apache.spark.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** The listener bus delivers events asynchronously and both its drain and
  * its post are `private[spark]`; [[graft.QueryMetrics]] and specs that
  * count events with a listener wait here before reading their counts,
  * and [[graft.DriverGate]] posts its decisions here. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def post(sc: SparkContext, e: SparkListenerEvent): Unit =
    sc.listenerBus.post(e)
}
