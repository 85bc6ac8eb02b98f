package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the traced run waits
  * for it to empty before reading its counts (`listenerBus` is
  * package-private to Spark). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
