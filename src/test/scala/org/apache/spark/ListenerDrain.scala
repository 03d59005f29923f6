package org.apache.spark

/** The listener bus is asynchronous; a spec counting jobs through a
  * SparkListener sees every event posted so far only after a drain.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
