package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the benchmark needs to wait for
  * it so that counters read after an action include that action's tasks.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
