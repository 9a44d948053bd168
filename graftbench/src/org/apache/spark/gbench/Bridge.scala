package org.apache.spark.gbench

import org.apache.spark.SparkContext

/** Access to the listener bus the benchmark's tracer needs: waiting until
  * every posted event has reached the listeners, so counters read after a
  * call include all of that call's work. */
object Bridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
