package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * pass's listener records are complete before they are read. The
  * wait is only reachable from inside Spark's package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
