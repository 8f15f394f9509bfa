package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `listenerBus` is `private[spark]`: draining it lets the tracer read
  * listener totals that belong exactly to the span it just closed. */
object Bridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
