package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so a count
  * read after a run includes all of its jobs. The listener bus is
  * Spark-private, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
