package org.apache.spark.zhbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`: waiting for it to drain makes
  * a listener's counters complete before the benchmark reads them. */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
