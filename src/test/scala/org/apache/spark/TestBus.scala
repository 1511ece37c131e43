package org.apache.spark

/** The listener bus delivers events asynchronously; a test that counts
  * jobs drains it before and after the counted block. `listenerBus` is
  * package-private to Spark, hence this one-line bridge. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
