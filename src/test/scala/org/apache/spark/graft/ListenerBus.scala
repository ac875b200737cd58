package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus drain is `private[spark]`; specs that count jobs or
  * queries need every event of an action delivered before they read. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
