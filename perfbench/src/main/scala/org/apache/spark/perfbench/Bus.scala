package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously; a span boundary must
  * see every event of the work it closes, so it drains the bus first.
  * The bus is package-private to Spark, hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
