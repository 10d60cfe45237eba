package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The `private[spark]` call the benchmark needs, reached from inside the
  * `org.apache.spark` package. */
object SparkInternals {

  /** Block until every posted listener event has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
