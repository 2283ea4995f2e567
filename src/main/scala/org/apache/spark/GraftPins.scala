package org.apache.spark

import org.apache.spark.rdd.RDD

/** Frees a pin's blocks through `SparkContext.unpersistRDD`, which is
  * `private[spark]`: `RDD.unpersist` frees the same blocks but logs a WARN
  * for every locally checkpointed RDD, and every pin is one
  * (`graft.runtime.Checkpoints`, its only caller). */
object GraftPins {
  def release(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
