package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous: a listener's sums are complete only
  * once every event posted so far has been delivered. The drain call is
  * `private[spark]`, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
