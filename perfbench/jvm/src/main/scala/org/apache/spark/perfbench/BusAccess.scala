package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a traced span's counters
  * are complete only once the bus has drained. `waitUntilEmpty` is
  * package-private to Spark, hence this shim. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
