package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The live listener bus is `private[spark]`; a traced run must read its
  * counts only after every event has been delivered, so this bridge
  * (placed under the `org.apache.spark` namespace, as the main build's
  * `graftbridge` does) exposes the bus's own drain.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
