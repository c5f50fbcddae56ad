package org.apache.spark

/** Blocks until every listener queue has delivered what was posted to it.
  * The wait is `private[spark]`, hence this one-line bridge in Spark's
  * package; the traced run calls it at the end of each pass instead of
  * sleeping. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
