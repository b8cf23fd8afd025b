package org.apache.spark

/** The listener bus is package-private; the benchmark drains it so a
  * traced iteration's events are all delivered before they are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
