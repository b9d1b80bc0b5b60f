package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener-bus drain for tests: the bus is `private[spark]`, and a test
  * that reads job counts from the status tracker must see every event of
  * the jobs it ran first. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
