package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so the
  * traced run reads complete job, stage and query records. The listener
  * bus is `private[spark]`, hence this one-line shim in Spark's package. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
