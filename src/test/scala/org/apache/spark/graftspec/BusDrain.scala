package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** The listener bus (and the status store behind `statusTracker`) sees
  * events asynchronously; a spec that counts a call's jobs drains it
  * first. The bus is `private[spark]`, hence this shim in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
