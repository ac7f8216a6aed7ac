package org.apache.spark

/** Access to the listener bus, which is private to Spark: the benchmark
  * waits until its listener has seen every event before reading counts.
  */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
