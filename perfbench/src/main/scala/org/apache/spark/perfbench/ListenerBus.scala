package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously. The benchmark reads its
  * counters only after the bus has delivered every event posted so far;
  * `LiveListenerBus.waitUntilEmpty` is `private[spark]`, hence this package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
