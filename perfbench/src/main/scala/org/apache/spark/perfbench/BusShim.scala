package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this shim lives in an
  * `org.apache.spark` package so the harness can drain it instead of
  * sleeping before it reads what its listeners collected. */
object BusShim {
  def waitUntilEmpty(sc: SparkContext, timeoutMillis: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
