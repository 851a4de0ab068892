package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the asynchronous listener bus has delivered every event
  * posted so far, so the benchmark reads complete listener state at a
  * phase boundary. Lives under `org.apache.spark` only because the bus
  * is `private[spark]`; holds no logic. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
