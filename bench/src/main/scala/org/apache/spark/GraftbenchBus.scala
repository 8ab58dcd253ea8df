package org.apache.spark

/** The listener bus drain is package-private to Spark; the benchmark needs
  * it to read complete counters after a traced op. */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
