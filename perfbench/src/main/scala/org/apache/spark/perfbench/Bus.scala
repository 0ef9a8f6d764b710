package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive on an asynchronous bus; counters read before it
  * drains would miss the tail of a run. The drain call is package-private
  * to `org.apache.spark`, hence this one-line bridge.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
