package org.apache.spark

/** Listener events reach listeners asynchronously. The benchmark reads
  * its Spark counters right after an action returns, so it first waits
  * for the listener bus to deliver everything posted so far.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
