package org.apache.spark.layerbench

import org.apache.spark.SparkContext

/** Blocks until every posted listener event has been delivered, so a
  * traced run reads complete job, stage and task records. The listener
  * bus is Spark-internal, hence this package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
