package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until Spark's listener bus has delivered every queued event, so
  * counters read right after an action include that action's events. The
  * bus is package-private to Spark, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
