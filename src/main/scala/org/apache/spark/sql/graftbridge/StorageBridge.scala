package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD

/** Frees a persisted RDD's blocks through `SparkContext.unpersistRDD`
  * (`private[spark]`, hence this bridge; the [[ColumnBridge]] convention).
  * `RDD.unpersist` does the same, but on a local-checkpointed RDD it also
  * logs a WARN that its lineage cannot be recomputed. A serving view is
  * released only when a newer view replaces it, so that line is noise on
  * every write-then-search cycle. */
object StorageBridge {
  def release(rdd: RDD[_]): Unit = rdd.context.unpersistRDD(rdd.id, blocking = false)
}
