package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark drains
  * it before it reads its listener counters. `listenerBus` is
  * package-private to Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
