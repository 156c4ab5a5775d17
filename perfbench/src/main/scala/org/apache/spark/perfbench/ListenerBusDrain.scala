package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every posted listener event has been delivered, so a
  * traced run reads complete job, task and query records. The bus is
  * Spark-internal, hence this one-line bridge in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
