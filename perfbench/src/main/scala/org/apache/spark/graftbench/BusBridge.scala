package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously. The traced run reads
  * its counts only after every posted event has been handled, which
  * needs the package-private listener bus. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
