package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * counters read at an operation boundary include that operation.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
