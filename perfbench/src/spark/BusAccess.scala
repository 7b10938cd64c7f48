package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so the
  * harness can read its listeners' sums at a known point. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
