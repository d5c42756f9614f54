package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously, so counters a
  * `SparkListener` keeps can lag the action that posted them. The bus and
  * its drain are `private[spark]`; this bridge re-exposes the drain so a
  * caller reads its counters only after every event has arrived. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
