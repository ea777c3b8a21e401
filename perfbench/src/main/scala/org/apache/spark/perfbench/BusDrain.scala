package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener-bus queue has delivered its pending events.
  * Listeners run on the bus threads, so a reader that does not drain first
  * can see a job's tasks without its stages, or miss the last query. The
  * bus is package-private to Spark, hence this package. */
object BusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
