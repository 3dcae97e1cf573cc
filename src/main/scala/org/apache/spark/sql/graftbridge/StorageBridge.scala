package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD

/** Frees a persisted RDD's blocks through `SparkContext.unpersistRDD`, and
  * tells whether an RDD is still registered as persisted (both reach
  * `private[spark]` members, hence this bridge; the [[ColumnBridge]]
  * convention). `RDD.unpersist` frees the same blocks, but on a
  * local-checkpointed RDD it also logs a WARN that its lineage cannot be
  * recomputed: noise on every write-then-search cycle and on every sweep
  * that frees all persisted RDDs. */
object StorageBridge {
  def release(rdd: RDD[_]): Unit = rdd.context.unpersistRDD(rdd.id, blocking = false)

  /** Whether `rdd` is registered as persisted: false once `RDD.unpersist`
    * or `SparkContext.unpersistRDD` freed it. One map lookup, unlike
    * `getPersistentRDDs`, which copies the map. */
  def isPersisted(rdd: RDD[_]): Boolean = rdd.context.persistentRdds.contains(rdd.id)
}
