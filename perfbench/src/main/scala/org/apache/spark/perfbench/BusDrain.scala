package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark keeps its listener-bus drain inside the `org.apache.spark`
  * package. The traced run needs it: listener counters are read only after
  * every event a query posted has been delivered, so no tail event (a late
  * task end, a QueryExecution callback) is lost or lands on the next query. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
