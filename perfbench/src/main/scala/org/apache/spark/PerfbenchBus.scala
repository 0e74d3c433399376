package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run drains
  * it before reading its counters. `waitUntilEmpty` is package-private to
  * Spark, hence this one-line bridge in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
