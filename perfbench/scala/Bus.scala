package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the benchmark drains the bus
  * after each timed unit so its counters are complete. `listenerBus` is
  * package-private to Spark, hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
