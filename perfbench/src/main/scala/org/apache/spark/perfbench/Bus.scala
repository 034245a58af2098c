package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the listener bus's `private[spark]` drain from the benchmark:
  * after an op returns, every job/stage/task event it caused is delivered
  * to the listeners before they are read. No sleeping, no polling.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
