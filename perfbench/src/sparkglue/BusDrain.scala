package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a traced run drains it
  * at every op boundary so the counts it records belong to that op. The
  * bus is `private[spark]`, hence this one-method shim in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
