package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark delivers listener events (job, task and streaming progress)
  * asynchronously. The traced run waits for the bus to drain before it
  * reads its listeners, so each event is attributed to the entry that
  * caused it. `waitUntilEmpty` is `private[spark]`, hence this package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(10000L)
    catch { case _: java.util.concurrent.TimeoutException => }
}
