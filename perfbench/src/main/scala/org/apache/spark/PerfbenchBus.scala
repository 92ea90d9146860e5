package org.apache.spark

/** Blocks until every listener event posted so far has been delivered.
  * Spark keeps the bus drain package-private, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
