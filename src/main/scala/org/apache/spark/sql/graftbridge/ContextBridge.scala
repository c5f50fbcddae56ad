package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge into SparkContext's `private[spark]` unpersist of one RDD by id:
  * the same removal `RDD.unpersist` makes (block manager, persistent-RDD
  * map, listener event), without its per-RDD log line. */
object ContextBridge {
  def unpersistRDD(sc: SparkContext, rddId: Int): Unit =
    sc.unpersistRDD(rddId, blocking = false)
}
