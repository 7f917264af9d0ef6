package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * the traced run reads complete job records. The bus is internal to
  * Spark, hence this one-method bridge in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
