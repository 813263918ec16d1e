package org.apache.spark

/** Test access to the package-private listener bus: after `drain`, every
  * event posted so far has reached every listener. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
