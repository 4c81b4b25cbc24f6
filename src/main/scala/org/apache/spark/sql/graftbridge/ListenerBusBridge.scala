package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge into the `private[spark]` listener bus: block until every
  * posted listener event has been delivered, so a job counter read
  * right after an action sees exactly that action's jobs. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
