package org.apache.spark

/** Waits until the listener bus has delivered every event posted so
  * far, so a span's job and task metrics are complete when it is read.
  * `listenerBus` is package-private, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
