package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps `private[spark]` — the
  * same forwarding-object pattern as [[PlanBridge]]. */
object ListenerBridge {
  /** Block until every posted event has reached every listener, so what
    * a listener recorded for a finished action is complete when read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
