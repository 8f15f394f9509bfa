package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** `listenerBus` is `private[spark]`: draining it lets a harness or a
  * spec read a listener's totals for exactly the span it just ran. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
