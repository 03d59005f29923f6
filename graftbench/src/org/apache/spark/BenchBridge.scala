package org.apache.spark

/** The listener bus is asynchronous; a span's counts are exact only
  * after every event posted inside it has been delivered.
  */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
