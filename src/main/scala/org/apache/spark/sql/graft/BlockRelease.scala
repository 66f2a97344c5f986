package org.apache.spark.sql.graft

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}

/** Releases an RDD's persisted blocks, blocking until they are gone.
  *
  * `RDD.unpersist` logs a warning for every locally checkpointed RDD
  * (its lineage is truncated, so it cannot be recomputed once its blocks
  * are dropped). Dropping those blocks between measured queries is the
  * point, so for them this calls what `unpersist` calls after the
  * warning: `SparkContext.unpersistRDD`. That method and the checkpoint
  * data that marks such an RDD are `private[spark]`, which is why this
  * object lives in Spark's package tree. Other RDDs go
  * through `unpersist` itself, which also resets their storage level.
  */
object BlockRelease {
  def apply(rdd: RDD[_]): Unit =
    if (rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]]))
      rdd.sparkContext.unpersistRDD(rdd.id, blocking = true)
    else rdd.unpersist(blocking = true)
}
