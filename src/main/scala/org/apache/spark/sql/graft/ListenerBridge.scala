package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this shim (same package
  * practice as [[ColumnBridge]]) lets an instrument wait for it, so
  * the counters a listener keeps are complete when a timed action
  * returns instead of trailing it on the bus thread. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
