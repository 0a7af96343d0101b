package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events reach listeners on Spark's asynchronous bus. A traced
  * operation is attributed every event posted while it ran, so before the
  * benchmark moves on to the next operation it waits until the bus has
  * delivered them all. `LiveListenerBus.waitUntilEmpty` is
  * `private[spark]`, hence this one-line seam in Spark's package tree.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
