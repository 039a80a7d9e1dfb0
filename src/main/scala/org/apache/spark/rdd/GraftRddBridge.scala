package org.apache.spark.rdd

/** `RDD.isLocallyCheckpointed` is `private[rdd]`; the bench purge needs
  * it to skip unpersisting lineage-truncation blocks (whose removal logs
  * WARN + DAGScheduler stack noise indistinguishable from real
  * failures). Same re-export pattern as
  * [[org.apache.spark.sql.graftbridge.Bridge]]. */
object GraftRddBridge {
  def isLocallyCheckpointed(rdd: RDD[_]): Boolean = rdd.isLocallyCheckpointed

  /** Drop a scoped `localCheckpoint`'s blocks: `RDD.unpersist` would log
    * the same lineage-truncation WARN for every released cut. */
  def releaseLocalCheckpoint(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
