package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so a
  * span's task metrics are complete before they are read. The bus is
  * package-private to Spark, hence this file's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
