package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives in Spark's package only to reach the listener bus: a reader of
  * listener counters must first wait until every posted event has been
  * delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
