package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * the traced run reads complete task, job and progress records (the
  * listener bus is asynchronous and its drain is Spark-internal). */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
