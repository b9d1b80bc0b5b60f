package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus drain: the bus is `private[spark]`, and the probe must
  * see every event of a face before it reads that face's counters. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
