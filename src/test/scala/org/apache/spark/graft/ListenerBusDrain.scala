package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every event posted to the listener bus has reached the
  * listeners, so counters read after a call include all of that call's
  * work. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
