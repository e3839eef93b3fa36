package org.apache.spark.emdbench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`: waiting for it to drain
  * needs this one-liner inside the `org.apache.spark` package. The traced
  * run drains after every operation so each listener event is credited
  * to the operation that caused it. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
