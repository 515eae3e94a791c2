package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener.
  * Listener callbacks run on the listener bus thread, so counters read
  * right after an action can miss its last events without this; the
  * drain method is package-private to Spark, hence this shim.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
