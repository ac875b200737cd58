package org.apache.spark.e2ebench

import org.apache.spark.SparkContext

/** The listener bus drain is `private[spark]`; the benchmark needs it so
  * that every task and job event of a span has been counted before the
  * span's counters are read. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
