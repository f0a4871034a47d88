package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this shim lives in an
  * `org.apache.spark` package so tools and specs can drain it, instead
  * of sleeping, before they read what their listeners collected. */
object BusShim {
  def waitUntilEmpty(sc: SparkContext, timeoutMillis: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
