package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * spec counting jobs with a `SparkListener` sees all of them. The bus is
  * private to the `org.apache.spark` package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
