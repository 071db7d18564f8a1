package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * the traced run's per-op accounting is complete before it is read.
  * The bus is package-private to Spark; this one-line bridge is the
  * benchmark's only reach into it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
