package org.apache.spark.rdd

/** Whether an RDD holds locally checkpointed blocks — its only copy of
  * the data, lost with the executor (the flag is Spark-internal). */
object LocalCheckpoints {
  def isLocal(rdd: RDD[_]): Boolean = rdd.isLocallyCheckpointed
}
