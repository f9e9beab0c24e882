package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private[spark]; the traced run drains it once,
  * before it reads its listener's counters.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
