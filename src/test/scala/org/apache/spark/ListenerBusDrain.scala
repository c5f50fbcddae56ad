package org.apache.spark

/** Blocks until every listener queue has delivered what was posted to it.
  * The wait is `private[spark]`, hence this bridge in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
