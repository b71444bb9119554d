package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every posted listener event has been delivered; the
  * listener bus is private to Spark, hence this package.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
