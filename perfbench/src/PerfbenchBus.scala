package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * the benchmark's trace holds all job, stage and task records of a pass
  * before it is read. The bus is private to the `org.apache.spark`
  * package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
