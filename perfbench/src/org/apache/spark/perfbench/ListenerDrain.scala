package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every queued event, so the
  * benchmark reads complete job, stage and micro-batch spans. The bus is
  * private to Spark; this is the one call made across that boundary. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
