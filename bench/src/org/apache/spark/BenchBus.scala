package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so
  * far, so counters read right after an action are complete. The bus is
  * package-private to Spark; this one-line bridge is the benchmark's only
  * use of it. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
