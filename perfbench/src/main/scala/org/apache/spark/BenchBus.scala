package org.apache.spark

/** The listener bus is internal to Spark; the benchmark only needs to wait
 * until the events of finished jobs have been delivered before it reads its
 * counts. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
