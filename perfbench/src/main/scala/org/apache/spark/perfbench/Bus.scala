package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the traced run drains
  * it once, after the last span, before reading the collected figures.
  * (`listenerBus` is `private[spark]`, hence this package.) */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
