package org.apache.spark

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}

/** Frees a persisted RDD's blocks. `RDD.unpersist` WARNs that a locally
  * checkpointed RDD "cannot be recomputed after unpersisting" before it
  * calls `SparkContext.unpersistRDD`; the engine frees such RDDs on
  * purpose, so for them this calls `unpersistRDD` directly (what Spark's
  * ContextCleaner does for an unreachable RDD). `unpersistRDD` and
  * `RDD.checkpointData` are `private[spark]`, hence this package. */
object CheckpointRelease {
  def apply(rdd: RDD[_], blocking: Boolean): Unit =
    if (rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]]))
      rdd.sparkContext.unpersistRDD(rdd.id, blocking)
    else rdd.unpersist(blocking)
}
