package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener-bus drain: the bus is `private[spark]`, and whoever counts
  * jobs from listener events (TimeOne's job line, the specs' job pins)
  * must see every event of the jobs it ran first. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
