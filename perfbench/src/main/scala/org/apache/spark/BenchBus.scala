package org.apache.spark

/** Listener-bus drain for the benchmark's job accounting: the bus is
  * asynchronous, so a layer's task counts are complete only once every
  * event posted before the layer returned has been delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
