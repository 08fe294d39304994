package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run must
  * see every event of a pass before it reads its counters, and the only
  * way to wait for that is package-private to Spark. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
