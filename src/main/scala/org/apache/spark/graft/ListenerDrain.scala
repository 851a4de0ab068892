package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until the asynchronous listener bus has delivered every event
  * posted so far, so listener-side counts are complete when read. Lives
  * under `org.apache.spark` only because the bus is `private[spark]`;
  * contains no logic. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
