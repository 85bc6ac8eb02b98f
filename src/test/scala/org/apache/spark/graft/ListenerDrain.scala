package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached the listeners —
  * `listenerBus` is private to the `org.apache.spark` package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
